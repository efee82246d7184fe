"""Segment merge (SURVEY.md B7).

The reference delegates segment merging to Elasticsearch/Lucene and only
triggers the commit point (`_flush`, /root/reference/administration.go:32-48,
invoked run.go:256). Here segments are INDEPENDENT INDEX DIRECTORIES
built over disjoint doc-id ranges (per ingest wave, or the incremental
batches of streaming/); merging produces one index byte-identical to a
single-pass build over the union.

Correctness subtlety: per-block max_tfnorm bakes in the GLOBAL avgdl at
build time, and avgdl changes when segments merge. The raw tf/dl streams
are stored per posting, so the merge decodes (term, doc_id, tf, dl) rows
from every segment and re-runs the postings/dictionary stages with the
merged statistics — content is never re-tokenized, and block metadata
comes out right by construction. Global stats are ADDITIVE across
segments (N, total tokens, total postings), so no corpus pass happens at
all. (A metadata-only rewrite that keeps blobs and recomputes just the
max columns is the planned optimization; re-encode is the simple
provably-identical baseline.)
"""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esbulk_spark.config import IndexConfig
from esbulk_spark.plans.build import STATS_FILE, _atomic_write, build_index
from esbulk_spark.plans.checkpoint import Manifest


def segment_tf_rows(spark: SparkSession, index_dir: str) -> DataFrame:
    """Decode one segment's postings back to (doc_id, term, tf, dl) rows
    — the exact shape of the postings-stage input, so the standard build
    stages re-run on the union without re-tokenizing content."""
    import numpy as np
    import pandas as pd

    from esbulk_spark.functions.codec import decode_chunk

    posts = spark.read.parquet(os.path.join(index_dir, "postings"))

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
    [main, seg_0, seg_1, ...], de-duplicated so callers that already
    pass the attached dirs explicitly (compact_attached) are unchanged."""
    out: list[str] = []
    seen: set[str] = set()
    for d in segment_dirs:
        for p in [d] + [
            os.path.join(d, "attached", s)
            for s in (
                sorted(
                    (
                        x
                        for x in os.listdir(os.path.join(d, "attached"))
                        if x.startswith("seg_")
                    ),
                    key=lambda s: int(s.split("_")[1]),
                )
                if os.path.isdir(os.path.join(d, "attached"))
                else []
            )
        ]:
            key = os.path.realpath(p)
            if key not in seen:
                seen.add(key)
                out.append(p)
    return out


def _union_bounds(seg_stats: list[dict]) -> dict:
    """max_dl / min_doc_id of a union of segments, from their stats (the
    postings stage picks its packing tier from them). A bound that some
    non-empty segment does not record is left out, not guessed."""
    out = {}
    for key, pick in (("max_dl", max), ("min_doc_id", min)):
        vals = [s.get(key) for s in seg_stats if s.get("n_docs")]
        if vals and None not in vals:
            out[key] = pick(vals)
    return out


def merge_segments(
    spark: SparkSession,
    segment_dirs: list[str],
    out_cfg: IndexConfig,
) -> dict:
    """Merge segment indexes into one index at out_cfg.index_dir.

    Doc ids must be globally unique across segments (disjoint ranges —
    the incremental-ingest contract, streaming/incremental.py)."""
    segment_dirs = _expand_attached(segment_dirs)
    input_sig = "merge:" + "|".join(sorted(segment_dirs))
    out = out_cfg.index_dir
    fp = out_cfg.fingerprint(input_sig)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    man = Manifest(out, fp)

    # docs: plain union (disjoint ids; norms columns ride in the docs table)
    docs = None
    seg_stats = []
    for sd in segment_dirs:
        d = spark.read.parquet(os.path.join(sd, "docs"))
        docs = d if docs is None else docs.unionByName(d)
        seg_stats.append(json.load(open(os.path.join(sd, STATS_FILE))))

    _atomic_write(docs, os.path.join(out, "docs"))
    n_docs = sum(s["n_docs"] for s in seg_stats)
    man.record("docs", rows=n_docs)

    # global stats are additive across segments — no corpus pass
    n_shards = out_cfg.n_shards or max(
        1, math.ceil(n_docs / out_cfg.target_shard_docs)
    )
    shard_size = math.ceil(n_docs / n_shards) if n_docs else 1
    total_tokens = sum(s["total_tokens"] for s in seg_stats)
    stats = {
        "n_docs": int(n_docs),
        "avgdl": (total_tokens / n_docs) if n_docs else 1.0,
        "total_tokens": total_tokens,
        "total_postings": sum(s["total_postings"] for s in seg_stats),
        "k1": out_cfg.k1,
        "b": out_cfg.b,
        "analyzer": out_cfg.analyzer,
        "n_shards": int(n_shards),
        "shard_size": int(shard_size),
        "n_buckets": out_cfg.n_buckets,
        "chunk_cap": out_cfg.chunk_cap,
        "block_size": out_cfg.block_size,
        "text_col": out_cfg.text_col,
        **_union_bounds(seg_stats),
        # positions outcome: merged from segments (exact union under the
        # disjoint-range contract), OR rebuilt from content by the
        # build_index positions stage when the caller's cfg asks for
        # positions the segments don't carry. Recorded so
        # has_positions() answers without probing.
        "store_positions": _merge_positions(
            spark, segment_dirs, out, out_cfg.n_buckets, man
        )
        or bool(out_cfg.store_positions),
        "fingerprint": fp,
    }
    with open(os.path.join(out, STATS_FILE), "w") as f:
        json.dump(stats, f, indent=1)
    man.record("stats", **{k: v for k, v in stats.items() if k != "fingerprint"})

    # postings + dictionary re-run on decoded rows with merged stats
    tf = None
    for sd in segment_dirs:
        rows = segment_tf_rows(spark, sd)
        tf = rows if tf is None else tf.unionByName(rows)

    dummy_docs = spark.read.parquet(os.path.join(out, "docs"))
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
    """Metadata-refresh merge: chunk BLOBS are copied verbatim and only
    the avgdl-dependent block-max metadata is recomputed (decoded
    chunk-locally, no shuffle of postings rows beyond the bucket
    re-partition for file layout). Compared to merge_segments (decode ->
    re-run the build stages), data movement drops from token-sized to
    index-sized and no re-sort/re-encode happens — the 10^12-doc merge
    path.

    Constraints: segments share analyzer/k1/b/chunk_cap/block_size/
    n_buckets and have DISJOINT doc-id ranges (the incremental-ingest
    contract). Segment shards are remapped to disjoint id ranges — shard
    is an opaque scoring-group key, so queries are rank-identical to a
    full rebuild (asserted in tests/test_merge.py), though chunk
    boundaries (and hence file bytes) legitimately differ from a
    single-pass build's.

    Reference analog: Lucene segment merging behind `_flush`
    (/root/reference/administration.go:32-48, run.go:256)."""
    from pyspark.sql import functions as F

    from esbulk_spark.plans.build import POSTINGS_SCHEMA, bucket_col

    segment_dirs = _expand_attached(segment_dirs)
    input_sig = "fastmerge:" + "|".join(sorted(segment_dirs))
    out = out_cfg.index_dir
    fp = out_cfg.fingerprint(input_sig)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    man = Manifest(out, fp)

    seg_stats = [
        json.load(open(os.path.join(sd, STATS_FILE))) for sd in segment_dirs
    ]
    for key in ("analyzer", "k1", "b", "chunk_cap", "block_size", "n_buckets"):
        vals = {s[key] for s in seg_stats}
        if len(vals) != 1:
            raise ValueError(f"segments disagree on {key}: {vals}")

    docs = None
    for sd in segment_dirs:
        d = spark.read.parquet(os.path.join(sd, "docs"))
        docs = d if docs is None else docs.unionByName(d)
    _atomic_write(docs, os.path.join(out, "docs"))
    n_docs = sum(s["n_docs"] for s in seg_stats)
    man.record("docs", rows=n_docs)

    total_tokens = sum(s["total_tokens"] for s in seg_stats)
    avgdl = (total_tokens / n_docs) if n_docs else 1.0
    n_shards = sum(s["n_shards"] for s in seg_stats)
    stats = dict(
        {k: v for k, v in seg_stats[0].items() if k not in ("max_dl", "min_doc_id")},
        **_union_bounds(seg_stats),
        n_docs=int(n_docs),
        avgdl=avgdl,
        total_tokens=total_tokens,
        total_postings=sum(s["total_postings"] for s in seg_stats),
        n_shards=int(n_shards),
        shard_size=max(s["shard_size"] for s in seg_stats),
        fingerprint=fp,
    )
    with open(os.path.join(out, STATS_FILE), "w") as f:
        json.dump(stats, f, indent=1)
    man.record("stats", **{k: v for k, v in stats.items() if k != "fingerprint"})

    # chunks: union with disjoint shard-id remap, refresh maxes, rewrite
    cols = [c.strip().split()[0] for c in POSTINGS_SCHEMA.split(",")]
    merged = None
    offset = 0
    for sd, s in zip(segment_dirs, seg_stats):
        c = (
            spark.read.parquet(os.path.join(sd, "postings"))
            .withColumn("shard", (F.col("shard") + F.lit(offset)).cast("int"))
            .select(*cols)
        )
        merged = c if merged is None else merged.unionByName(c)
        offset += int(s["n_shards"])
    refreshed = (
        merged.mapInPandas(
            _make_max_refresher(
                stats["k1"], stats["b"], avgdl, stats["block_size"]
            ),
            POSTINGS_SCHEMA,
        )
        .withColumn("bucket", bucket_col(F.col("term"), stats["n_buckets"]))
        .repartition(stats["n_buckets"], "bucket")
        .sortWithinPartitions("bucket", "term", "shard", "chunk")
    )
    from esbulk_spark.plans.build import _TERM_TABLE_WRITE_OPTIONS

    _atomic_write(refreshed, os.path.join(out, "postings"),
                  partition_by=["bucket"], options=_TERM_TABLE_WRITE_OPTIONS)
    man.record("postings", mode="metadata_refresh")

    dictionary = (
        spark.read.parquet(os.path.join(out, "postings"))
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("chunk_cf").alias("cf"))
        .withColumn("bucket", bucket_col(F.col("term"), stats["n_buckets"]))
        .repartition(stats["n_buckets"], "bucket")
        .sortWithinPartitions("bucket", "term")
    )
    _atomic_write(dictionary, os.path.join(out, "dictionary"),
                  partition_by=["bucket"], options=_TERM_TABLE_WRITE_OPTIONS)
    man.record("dictionary")
    merged_pos = _merge_positions(spark, segment_dirs, out, stats["n_buckets"], man)
    if bool(stats.get("store_positions", False)) != merged_pos:
        # seg_stats[0]'s flag can disagree with the union outcome (e.g.
        # mixed segments): rewrite the recorded flag to the truth
        stats["store_positions"] = merged_pos
        with open(os.path.join(out, STATS_FILE), "w") as f:
            json.dump(stats, f, indent=1)
    return stats


def _merge_positions(spark, segment_dirs, out, n_buckets, man) -> bool:
    """Carry the opt-in positions table through a merge: disjoint doc
    ids make it a plain union, re-bucketed for the merged layout.
    Returns whether a merged positions table was written (only when
    EVERY segment carries one)."""
    from esbulk_spark.plans.build import bucket_col

    from pyspark.sql import functions as F

    seg_pos = [os.path.join(sd, "positions") for sd in segment_dirs]
    if not all(os.path.exists(p) for p in seg_pos):
        return False
    pos = None
    for p in seg_pos:
        d = spark.read.parquet(p)
        pos = d if pos is None else pos.unionByName(d)
    pos = pos.withColumn(
        "bucket", bucket_col(F.col("term"), n_buckets)
    ).repartition(n_buckets, "bucket")
    _atomic_write(pos, os.path.join(out, "positions"), partition_by=["bucket"])
    man.record("positions", mode="union")
    return True
