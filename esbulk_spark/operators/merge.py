"""Segment merge (SURVEY.md B7).

The reference delegates segment merging to Elasticsearch/Lucene and only
triggers the commit point (`_flush`, /root/reference/administration.go:32-48,
invoked run.go:256). Here segments are INDEPENDENT INDEX DIRECTORIES
built over disjoint doc-id ranges (ingest waves, appended deltas, the
micro-batches of streaming/), and a merge writes one index over their
union. Global statistics are ADDITIVE across segments (N, total tokens,
total postings; plans/segments.sum_segment_stats), so no corpus pass
happens and content is never re-tokenized.

``merge_segments`` is the one entry point. It picks its path from the
layout the output config asks for:

  metadata refresh   the segments' own layout (every _MUST_AGREE key
                     equal, n_shards unset, no positions the segments
                     lack): chunk blobs are copied verbatim under
                     disjoint shard ids, and only the avgdl-dependent
                     block maxes are recomputed from each chunk's own
                     tf/dl streams. Index-sized data movement, no
                     re-sort, no re-encode; rank-identical to a full
                     rebuild, though chunk boundaries (and file bytes)
                     follow the segments'. ``merge_segments_fast`` is
                     this path alone.
  re-encode          any other layout (a shard or bucket count, chunk
                     cap, block size or k1/b of the caller's choosing):
                     postings decode back to (doc_id, term, tf, dl) rows
                     and the build's postings/dictionary stages re-run
                     with the merged statistics — byte-identical to a
                     single-pass build over the union.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esbulk_spark.config import IndexConfig
from esbulk_spark.plans.build import STATS_FILE, _atomic_write, build_index
from esbulk_spark.plans.checkpoint import Manifest
from esbulk_spark.plans.segments import _MUST_AGREE, sum_segment_stats
from esbulk_spark.plans.tableio import for_index_dir


def _read(spark: SparkSession, index_dir: str, name: str) -> DataFrame:
    return for_index_dir(index_dir).read(spark, name)


def segment_tf_rows(spark: SparkSession, index_dir: str) -> DataFrame:
    """Decode one segment's postings back to (doc_id, term, tf, dl) rows
    — the exact shape of the postings-stage input, so the standard build
    stages re-run on the union without re-tokenizing content."""
    import numpy as np
    import pandas as pd

    from esbulk_spark.functions.codec import decode_chunk

    posts = _read(spark, index_dir, "postings")

    def decode(batches):
        for pdf in batches:
            outs = []
            for term, b_ids, b_tfs, b_dls in zip(
                pdf["term"].values, pdf["blob_ids"].values,
                pdf["blob_tfs"].values, pdf["blob_dls"].values,
            ):
                ids, tfs, dls = decode_chunk(b_ids, b_tfs, b_dls)
                outs.append(
                    pd.DataFrame(
                        {
                            "doc_id": ids, "term": term,
                            "tf": tfs.astype(np.int32), "dl": dls.astype(np.int32),
                        }
                    )
                )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"doc_id": [], "term": [], "tf": [], "dl": []}
            )

    return posts.mapInPandas(decode, "doc_id long, term string, tf int, dl int")


def _expand_attached(segment_dirs: list[str]) -> list[str]:
    """A source index carrying ATTACHED (not-yet-merged) delta segments
    (plans/admin.append_docs(merge=False): ``<index>/attached/seg_N``)
    contributes only its main tables to a union — the attached docs
    would silently vanish from the merge. Expand each such dir into
    [main, seg_0, seg_1, ...], de-duplicated so callers may also pass
    the attached dirs explicitly."""
    from esbulk_spark.plans.admin import attached_segments

    out: list[str] = []
    seen: set[str] = set()
    for p in (p for d in segment_dirs for p in [d, *attached_segments(d)]):
        key = os.path.realpath(p)
        if key not in seen:
            seen.add(key)
            out.append(p)
    return out


def _layout_mismatch(out_cfg: IndexConfig, stats: dict) -> str | None:
    """The first layout key ``out_cfg`` asks for that the segments
    (summed ``stats``) do not have — a ``_MUST_AGREE`` key, or positions
    they lack — or None when it asks for their own layout."""
    for key in _MUST_AGREE:
        if getattr(out_cfg, key) != stats[key]:
            return key
    if out_cfg.store_positions and not stats["store_positions"]:
        return "store_positions"
    return None


def _segments(segment_dirs: list[str]):
    """The attached-expanded segment dirs, their stats, and the stats of
    their union (which checks that their layouts agree)."""
    segment_dirs = _expand_attached(segment_dirs)
    seg_stats = [
        json.load(open(os.path.join(sd, STATS_FILE))) for sd in segment_dirs
    ]
    return segment_dirs, seg_stats, sum_segment_stats(seg_stats)


def _begin(spark, segment_dirs, summed, out_cfg, kind):
    """The prologue both merge paths share: start the output manifest,
    write the union of the docs tables (disjoint ids; norms ride in the
    docs table) and of the positions tables. Returns (input_sig,
    manifest, stats): ``stats`` is ``summed`` with the positions outcome
    and the output fingerprint."""
    input_sig = f"{kind}:" + "|".join(sorted(segment_dirs))
    out = out_cfg.index_dir
    fp = out_cfg.fingerprint(input_sig)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    man = Manifest(out, fp)
    docs = reduce(
        DataFrame.unionByName, [_read(spark, sd, "docs") for sd in segment_dirs]
    )
    _atomic_write(docs, os.path.join(out, "docs"))
    man.record("docs", rows=summed["n_docs"])
    positions = _merge_positions(spark, segment_dirs, out, out_cfg.n_buckets, man)
    return input_sig, man, dict(summed, store_positions=positions, fingerprint=fp)


def _write_stats(stats: dict, out: str, man: Manifest) -> None:
    with open(os.path.join(out, STATS_FILE), "w") as f:
        json.dump(stats, f, indent=1)
    man.record("stats", **{k: v for k, v in stats.items() if k != "fingerprint"})


def merge_segments(
    spark: SparkSession,
    segment_dirs: list[str],
    out_cfg: IndexConfig,
) -> dict:
    """Merge segment indexes into one index at out_cfg.index_dir: by
    metadata refresh when out_cfg asks for the segments' own layout,
    else by re-encode (module docstring).

    Doc ids must be globally unique across segments (disjoint ranges —
    the incremental-ingest contract, streaming/incremental.py)."""
    segment_dirs, _, summed = _segments(segment_dirs)
    if out_cfg.n_shards is None and _layout_mismatch(out_cfg, summed) is None:
        return merge_segments_fast(spark, segment_dirs, out_cfg)

    input_sig, man, stats = _begin(spark, segment_dirs, summed, out_cfg, "merge")
    n_docs = stats["n_docs"]
    n_shards = out_cfg.n_shards or max(
        1, math.ceil(n_docs / out_cfg.target_shard_docs)
    )
    stats.update(
        {key: getattr(out_cfg, key)
         for key in ("k1", "b", "n_buckets", "chunk_cap", "block_size")},
        n_shards=int(n_shards),
        shard_size=int(math.ceil(n_docs / n_shards) if n_docs else 1),
        # positions the segments lack are rebuilt from content by the
        # build_index positions stage; recorded so has_positions()
        # answers without probing
        store_positions=stats["store_positions"] or bool(out_cfg.store_positions),
    )
    _write_stats(stats, out_cfg.index_dir, man)

    # postings + dictionary re-run on decoded rows with merged stats
    tf = reduce(
        DataFrame.unionByName, [segment_tf_rows(spark, sd) for sd in segment_dirs]
    )
    dummy_docs = _read(spark, out_cfg.index_dir, "docs")
    return build_index(spark, dummy_docs, out_cfg, input_sig=input_sig, tf_source=tf)


def _make_max_refresher(k1: float, b: float, avgdl: float, block_size: int):
    """mapInPandas pass recomputing max_tfnorm / block_max_tfnorm for a
    NEW avgdl from each chunk's own tf/dl streams, with the encoder's own
    tfnorm, so the bounds equal a fresh build's over the same postings.
    All other columns (blobs, offsets, counts) pass through untouched —
    the varint streams never depend on corpus statistics."""
    import numpy as np

    from esbulk_spark.functions.codec import decode_chunk, tfnorm

    def refresh(batches):
        for pdf in batches:
            maxes, blk_maxes = [], []
            for blobs in zip(pdf["blob_ids"], pdf["blob_tfs"], pdf["blob_dls"]):
                _, tfs, dls = decode_chunk(*blobs)
                tfn = tfnorm(tfs, dls, k1, b, avgdl)
                bstarts = np.arange(0, tfn.size, block_size)
                blk_maxes.append(np.maximum.reduceat(tfn, bstarts))
                maxes.append(float(tfn.max()))
            pdf = pdf.copy()
            pdf["max_tfnorm"] = maxes
            pdf["block_max_tfnorm"] = blk_maxes
            yield pdf

    return refresh


def merge_segments_fast(
    spark: SparkSession,
    segment_dirs: list[str],
    out_cfg: IndexConfig,
) -> dict:
    """The metadata-refresh merge alone: chunk BLOBS are copied verbatim
    and only the avgdl-dependent block-max metadata is recomputed
    (decoded chunk-locally, no shuffle of postings rows beyond the
    bucket re-partition for file layout) — the 10^12-doc merge path.

    It writes the segments' own layout, so ``out_cfg`` must ask for it:
    a ``_MUST_AGREE`` key that differs, or positions the segments lack,
    raise a ValueError naming the key (``merge_segments`` re-encodes
    instead). ``out_cfg.n_shards`` is not a layout key here: segment
    shards are remapped to disjoint ids and keep their sizes — shard is
    an opaque scoring-group key, so queries are rank-identical to a full
    rebuild (asserted in tests/test_merge.py).

    Reference analog: Lucene segment merging behind `_flush`
    (/root/reference/administration.go:32-48, run.go:256)."""
    from esbulk_spark.plans.build import (
        _TERM_TABLE_WRITE_OPTIONS, POSTINGS_SCHEMA, bucket_col,
    )

    segment_dirs, seg_stats, summed = _segments(segment_dirs)
    key = _layout_mismatch(out_cfg, summed)
    if key is not None:
        raise ValueError(
            f"merge_segments_fast keeps the segments' layout: out_cfg asks "
            f"for {key}={getattr(out_cfg, key)!r}, the segments have "
            f"{summed[key]!r} (merge_segments re-encodes into a new layout)"
        )
    input_sig, man, stats = _begin(
        spark, segment_dirs, summed, out_cfg, "fastmerge"
    )
    out = out_cfg.index_dir
    _write_stats(stats, out, man)

    # chunks: union with disjoint shard-id remap, refresh maxes, rewrite
    cols = [c.strip().split()[0] for c in POSTINGS_SCHEMA.split(",")]
    parts = []
    offset = 0
    for sd, s in zip(segment_dirs, seg_stats):
        parts.append(
            _read(spark, sd, "postings")
            .withColumn("shard", (F.col("shard") + F.lit(offset)).cast("int"))
            .select(*cols)
        )
        offset += int(s["n_shards"])
    n_buckets = stats["n_buckets"]
    refreshed = (
        reduce(DataFrame.unionByName, parts)
        .mapInPandas(
            _make_max_refresher(
                stats["k1"], stats["b"], stats["avgdl"], stats["block_size"]
            ),
            POSTINGS_SCHEMA,
        )
        .withColumn("bucket", bucket_col(F.col("term"), n_buckets))
        .repartition(n_buckets, "bucket")
        .sortWithinPartitions("bucket", "term", "shard", "chunk")
    )
    _atomic_write(refreshed, os.path.join(out, "postings"),
                  partition_by=["bucket"], options=_TERM_TABLE_WRITE_OPTIONS)
    man.record("postings", mode="metadata_refresh")

    dictionary = (
        _read(spark, out, "postings")
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("chunk_cf").alias("cf"))
        .withColumn("bucket", bucket_col(F.col("term"), n_buckets))
        .repartition(n_buckets, "bucket")
        .sortWithinPartitions("bucket", "term")
    )
    _atomic_write(dictionary, os.path.join(out, "dictionary"),
                  partition_by=["bucket"], options=_TERM_TABLE_WRITE_OPTIONS)
    man.record("dictionary")
    return stats


def _merge_positions(spark, segment_dirs, out, n_buckets, man) -> bool:
    """Carry the opt-in positions table through a merge: disjoint doc
    ids make it a plain union, re-bucketed for the merged layout.
    Returns whether a merged positions table was written (only when
    EVERY segment carries one)."""
    from esbulk_spark.plans.build import bucket_col

    if not all(for_index_dir(sd).exists("positions") for sd in segment_dirs):
        return False
    pos = reduce(
        DataFrame.unionByName,
        [_read(spark, sd, "positions") for sd in segment_dirs],
    ).withColumn(
        "bucket", bucket_col(F.col("term"), n_buckets)
    ).repartition(n_buckets, "bucket")
    _atomic_write(pos, os.path.join(out, "positions"), partition_by=["bucket"])
    man.record("positions", mode="union")
    return True
