"""Index build driver (SURVEY.md B2-B7; reference lifecycle run.go:90-367).

Spark-first dataflow, every stage a materialized checkpoint
(plans/checkpoint.py):

  docs    : input -> [pipeline] -> JVM-only doc-id assignment + sha256
            + document norms (dl, n_terms via the native-expression
            analyzer in whole-stage codegen) -> parquet, ONE pass
            (the DDL prologue analog, run.go:160-198)
  stats   : tiny aggregates over the docs norm columns -> stats.json
  postings: ALL-JVM until the encoder — tokenize (single-pass
            regexp_extract_all in whole-stage codegen) -> per-document
            run-length tf over the sorted token array (one row per
            POSTING, no token-occurrence rows) -> pack (doc_id, tf, dl)
            into one cell -> ONE (term, shard) exchange -> collect_list
            per group -> the vectorized chunk encoder (doc ordering +
            delta+varint blobs + per-block max-tfnorm + byte offsets),
            partitioned by term bucket. Positional builds carry each
            posting's position list in the same rows; the merge
            re-encode feeds decoded segment rows into the same pack
            and exchange. (At 10^12-doc scale, prefer building
            per-partition SEGMENTS and merging them — operators/merge.py
            — so the exchange covers one wave at a time.)
  dict    : (term, df, cf) aggregated from postings CHUNK METADATA
            (chunk row counts + chunk_cf), partitioned by term bucket.

Public prior art for the shape: postings as columnar tables with
vectorized consumption ("Columnar Formatted Inverted Index for
Highly-Paralleled, Vectorized Query Processing", ICDE 2025 — see
PAPERS.md) and Arrow-batched Python stages ("Accelerating Python UDFs
in Vectorized Query Execution", CIDR 2022).

Scale design:
  * doc-range shards bound every (term, shard) group — even a stopword
    term groups at most ``shard docs`` postings, so no single reducer
    blows up (the groupBy salt the north rule requires; skew ratio is
    recorded per stage in the manifest).
  * term-hash buckets give partition pruning at query time: a query
    touches only its terms' bucket directories.
  * per-block max_tfnorm (tf-normalization upper bound WITHOUT idf,
    which is a per-term constant applied at query time) enables
    block-max pruning; storing tf-norm rather than the full score means
    the dictionary df never has to be joined into the postings build.
  * dl is stored inline per posting (one varint), making chunks
    self-contained for scoring — no doc_id-keyed norms join at query
    time (norms at 10^12 docs would be a second big shuffle per query).
"""

from __future__ import annotations

import json
import math
import os
import shutil
from contextlib import contextmanager, nullcontext

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esbulk_spark.config import IndexConfig
from esbulk_spark.functions.analyzer import tokens_col
from esbulk_spark.operators.docids import assign_doc_ids_pinned
from esbulk_spark.plans.checkpoint import Manifest, StageTimer

POSTINGS_SCHEMA = (
    "term string, shard int, chunk int, min_doc long, max_doc long, n int, "
    "chunk_cf long, "
    "max_tfnorm double, blob_ids binary, blob_tfs binary, blob_dls binary, "
    "block_last array<long>, block_max_tfnorm array<double>, "
    "off_ids array<int>, off_tfs array<int>, off_dls array<int>"
)

STATS_FILE = "stats.json"


def bucket_col(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def _rle_entries(toks_col: str, with_positions: bool = False):
    """Per-document (term, tf[, positions]) entries computed MAP-SIDE
    from the token array: sort the array, take run starts, pair each
    with its run length. All tokens of a document live in one row, so
    tf needs no shuffle at all — the (term, shard) exchange carries one
    row per POSTING instead of one per token occurrence (~2.5-3x fewer
    rows at ~2 KB/doc; guide §2.3 "aggregate before you shuffle"), and
    no post-shuffle aggregate keyed on the document exists.

    ``with_positions`` sorts (term, pos) pairs instead of bare terms:
    each run is then one term's occurrences in ascending position
    order, and its ``positions`` are the run's pos values — the same
    sorted list a posexplode + per-(term, doc) collect would build."""
    toks = F.col(toks_col)
    if with_positions:
        # sort_array compares the (term, pos) structs natively; array_sort's
        # default comparator is an interpreted lambda (noop-sink RLE pass
        # at 20k docs: 4.3 s vs 5.6 s)
        items = F.sort_array(
            F.transform(toks, lambda t, i: F.struct(t.alias("term"), i.alias("pos")))
        )

        def term_at(st, i):
            return F.get(st, i)["term"]

        empty = "array<struct<term:string,tf:int,positions:array<int>>>"
    else:
        items, term_at = F.array_sort(toks), F.get
        empty = "array<struct<term:string,tf:int>>"

    # "let"-bind each intermediate as a HOF lambda variable (transform
    # over a 1-element array): higher-order functions interpret their
    # lambda bodies, and a repeated SUBEXPRESSION (the sort, the
    # run-starts array) would otherwise re-evaluate on every element
    # access — O(n^2 log n)/doc. A bound lambda variable is a plain
    # value lookup, keeping the whole thing O(n log n)/doc.
    def with_st(st):
        n = F.size(st)
        starts_expr = F.filter(
            F.sequence(F.lit(0), n - F.lit(1)),
            lambda i: (i == F.lit(0))
            | (term_at(st, i) != term_at(st, i - F.lit(1))),
        )

        def run(s, e):
            fields = [term_at(st, s).alias("term"), (e - s).alias("tf")]
            if with_positions:
                fields.append(
                    F.transform(
                        F.slice(st, s + F.lit(1), e - s), lambda x: x["pos"]
                    ).alias("positions")
                )
            return F.struct(*fields)

        def with_starts(starts):
            ends = F.concat(
                F.slice(starts, 2, F.size(starts) - F.lit(1)), F.array(n)
            )
            return F.zip_with(starts, ends, run)

        return F.get(F.transform(F.array(starts_expr), with_starts), 0)

    ent = F.get(F.transform(F.array(items), with_st), 0)
    return F.when(F.size(toks) > 0, ent).otherwise(F.array().cast(empty))


def _rle_rows(src: DataFrame, with_positions: bool = False) -> DataFrame:
    """(doc_id, __toks) -> one (doc_id, dl, term, tf[, positions]) row
    per posting — the postings-stage input, computed without a shuffle
    (see _rle_entries)."""
    fields = [F.col("e.term").alias("term"), F.col("e.tf").cast("int").alias("tf")]
    if with_positions:
        fields.append(F.col("e.positions").alias("positions"))
    return src.select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.explode(_rle_entries("__toks", with_positions)).alias("e"),
    ).select("doc_id", "dl", *fields)


@contextmanager
def _token_source(spark: SparkSession, docs: DataFrame, cfg: IndexConfig, docs_path: str):
    """Yield (doc_id, __toks) per document for the postings and positions
    stages. Content comes from the docs table, or — sha-only mode — from
    the SOURCE table, with ids re-derived deterministically (same sort
    keys -> same range partitioning -> same ids). The doc-id cache that
    re-derivation pins is unpersisted on exit."""
    pinned = None
    if cfg.store_content:
        src = spark.read.parquet(docs_path)
    elif cfg.id_col:
        src = docs.withColumn("doc_id", F.col(cfg.id_col).cast("long"))
    else:
        src, _, pinned = assign_doc_ids_pinned(docs, cfg.sort_keys)
    try:
        yield src.select("doc_id", tokens_col(cfg.text_col).alias("__toks"))
    finally:
        if pinned is not None:
            pinned.unpersist()


def _tfnorm(tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (dl.astype(np.float64) / avgdl)))


_CHUNK_COLS = [
    "term", "shard", "chunk", "min_doc", "max_doc", "n", "chunk_cf",
    "max_tfnorm", "blob_ids", "blob_tfs", "blob_dls",
    "block_last", "block_max_tfnorm", "off_ids", "off_tfs", "off_dls",
]


# test hook: force an Arrow-boundary packing tier ("packed1"/"packed2"/
# "struct") to A/B-assert byte-identical output across tiers
_FORCE_PACK: str | None = None


def _encode_batch_groups(group_terms, group_shards, ids, tfs, dls, tfn, starts, ends, cap, bs):
    """Encode MANY (term, shard) groups in one vectorized pass ->
    pyarrow.RecordBatch (POSTINGS schema).

    ``group_terms`` (pyarrow string array or list) / ``group_shards`` are
    indexed per GROUP (one entry per starts[i]); ids/tfs/dls/tfn are the
    concatenated per-posting arrays, which starts/ends must tile EXACTLY
    (reduceat's last segment runs to the end of the array). The three
    varint streams are encoded once for the whole batch (chunk boundaries
    re-base the delta stream, so slices of the batch encoding are
    byte-identical to per-chunk encodings); block metadata comes from
    reduceat over global block starts.

    Output construction is fully columnar (guide §4.2): chunks tile the
    batch's postings in order, so every blob column IS the batch-level
    encoded buffer plus a boundary offsets array (pa.Array.from_buffers,
    zero copy), and the per-block list columns are ListArray offsets over
    the flat per-block arrays — no per-chunk python loop, no per-cell
    object conversion (was ~40% of the encoder wall at 2M docs)."""
    import pyarrow as pa

    from esbulk_spark.functions.codec import varint_encode_with_widths

    n = ids.size
    # --- split groups into chunks of <= cap postings ---
    glen = ends - starts
    n_chunks_per = (glen + cap - 1) // cap
    chunk_group = np.repeat(np.arange(starts.size), n_chunks_per)
    # index of each chunk within its group
    cum = np.concatenate(([0], np.cumsum(n_chunks_per)))
    chunk_idx = np.arange(cum[-1]) - cum[chunk_group]
    c_start = starts[chunk_group] + chunk_idx * cap
    c_end = np.minimum(c_start + cap, ends[chunk_group])

    # --- delta stream with re-base at every chunk start ---
    deltas = np.empty(n, dtype=np.uint64)
    u_ids = ids.astype(np.uint64)
    deltas[0] = u_ids[0]
    np.subtract(u_ids[1:], u_ids[:-1], out=deltas[1:])
    deltas[c_start] = u_ids[c_start]

    blob_d, w_d = varint_encode_with_widths(deltas)
    blob_t, w_t = varint_encode_with_widths(tfs.astype(np.uint64))
    blob_l, w_l = varint_encode_with_widths(dls.astype(np.uint64))
    pos_d = np.concatenate(([0], np.cumsum(w_d)))
    pos_t = np.concatenate(([0], np.cumsum(w_t)))
    pos_l = np.concatenate(([0], np.cumsum(w_l)))

    # --- global block starts (for reduceat maxes) ---
    clen = c_end - c_start
    nblocks_per = (clen + bs - 1) // bs
    blk_chunk = np.repeat(np.arange(c_start.size), nblocks_per)
    bcum = np.concatenate(([0], np.cumsum(nblocks_per)))
    blk_idx = np.arange(bcum[-1]) - bcum[blk_chunk]
    b_start = c_start[blk_chunk] + blk_idx * bs
    b_end = np.minimum(b_start + bs, c_end[blk_chunk])
    blk_max = np.maximum.reduceat(tfn, b_start)
    blk_last = ids[b_end - 1]
    chunk_max = np.maximum.reduceat(tfn, c_start)
    # per-chunk collection frequency: lets the dictionary (df, cf) derive
    # from chunk metadata alone — no second pass over raw tf rows
    chunk_cf = np.add.reduceat(tfs, c_start)

    n_chunks = c_start.size

    def _bin_col(blob, pos):
        # chunk k's blob = bytes [pos[c_start[k]], pos[c_end[k]]) of the
        # batch encoding; chunks tile, so c_end[k] == c_start[k+1] and
        # the column is one shared data buffer + boundary offsets
        if len(blob) > (1 << 31) - 1:
            # pa.binary() offsets are int32; a >2 GiB encoded batch
            # cannot be represented (the pre-vectorized builder hit the
            # same Arrow capacity wall, just later and less explicitly)
            raise ValueError(
                f"encoded batch blob stream is {len(blob)} bytes; "
                "lower spark.sql.execution.arrow.maxRecordsPerBatch"
            )
        offs = np.empty(n_chunks + 1, dtype=np.int32)
        offs[:-1] = pos[c_start]
        offs[-1] = pos[c_end[-1]]
        return pa.Array.from_buffers(
            pa.binary(), n_chunks,
            [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(blob)],
        )

    def _list_col(values, value_type):
        return pa.ListArray.from_arrays(
            pa.array(bcum.astype(np.int32), pa.int32()),
            pa.array(values, value_type),
        )

    if not isinstance(group_terms, (pa.Array, pa.ChunkedArray)):
        group_terms = pa.array(group_terms, pa.string())
    off_d = (pos_d[b_start] - pos_d[c_start][blk_chunk]).astype(np.int32)
    off_t = (pos_t[b_start] - pos_t[c_start][blk_chunk]).astype(np.int32)
    off_l = (pos_l[b_start] - pos_l[c_start][blk_chunk]).astype(np.int32)
    return pa.RecordBatch.from_arrays(
        [
            group_terms.take(pa.array(chunk_group, pa.int64())),
            pa.array(group_shards[chunk_group].astype(np.int32), pa.int32()),
            pa.array(chunk_idx.astype(np.int32), pa.int32()),
            pa.array(ids[c_start].astype(np.int64), pa.int64()),
            pa.array(ids[c_end - 1].astype(np.int64), pa.int64()),
            pa.array(clen.astype(np.int32), pa.int32()),
            pa.array(chunk_cf.astype(np.int64), pa.int64()),
            pa.array(chunk_max.astype(np.float64), pa.float64()),
            _bin_col(blob_d, pos_d),
            _bin_col(blob_t, pos_t),
            _bin_col(blob_l, pos_l),
            _list_col(blk_last.astype(np.int64), pa.int64()),
            _list_col(blk_max.astype(np.float64), pa.float64()),
            _list_col(off_d, pa.int32()),
            _list_col(off_t, pa.int32()),
            _list_col(off_l, pa.int32()),
        ],
        schema=_arrow_postings_schema(),
    )


def _arrow_postings_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term", pa.string()),
            ("shard", pa.int32()),
            ("chunk", pa.int32()),
            ("min_doc", pa.int64()),
            ("max_doc", pa.int64()),
            ("n", pa.int32()),
            ("chunk_cf", pa.int64()),
            ("max_tfnorm", pa.float64()),
            ("blob_ids", pa.binary()),
            ("blob_tfs", pa.binary()),
            ("blob_dls", pa.binary()),
            ("block_last", pa.list_(pa.int64())),
            ("block_max_tfnorm", pa.list_(pa.float64())),
            ("off_ids", pa.list_(pa.int32())),
            ("off_tfs", pa.list_(pa.int32())),
            ("off_dls", pa.list_(pa.int32())),
        ]
    )


def make_chunk_builder(cfg: IndexConfig, avgdl: float, shard_size: int | None = None):
    """mapInArrow encoder over GROUPED rows:
    (term, shard, postings: list<struct<doc_id, tf, dl>>), one row per
    (term, shard) group, in ANY order (the encoder doc-orders each group
    with a numpy lexsort).

    Why arrays instead of one row per posting: the JVM->Python Arrow
    boundary on commodity boxes moves only a few million CELLS per
    second per core, so the fast plan minimizes cells crossing it —
    tf counting happens JVM-side before the exchange (_rle_rows), each
    posting crosses as one packed cell, and Python receives |groups|
    rows whose list offsets are exactly the starts/ends frame the
    vectorized encoder wants. No group ever spans an Arrow batch (a row
    is atomic), so no tail-carry logic exists. A per-(term,shard)
    applyInPandas would pay one Python round trip PER GROUP — this pays
    one per ~thousands of groups.

    Group size is bounded by the doc-range shard (cfg.target_shard_docs)
    — the salt that keeps a stopword's array from blowing up one
    reducer; at cluster scale pick target_shard_docs so one group's
    array (~16 B/posting) fits comfortably in an aggregation buffer."""
    import pyarrow as pa

    k1, b = cfg.k1, cfg.b
    cap, bs = cfg.chunk_cap, cfg.block_size

    def build(batches):
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            group_terms = rb.column(names.index("term"))
            group_shards = (
                rb.column(names.index("shard"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            posts = rb.column(names.index("postings"))
            lengths = pc.list_value_length(posts).to_numpy(zero_copy_only=False)
            ends = np.cumsum(lengths.astype(np.int64))
            starts = np.concatenate(([0], ends[:-1]))
            flat = posts.flatten()  # respects list offsets
            # doc-order the postings WITHIN each group here: numpy's
            # sort over ints is far faster end-to-end than asking the
            # JVM agg for sort_array(collect_list(...)) (object-comparator
            # sort of structs inside ObjectHashAggregate), byte-identical
            # output (A/B-verified)
            gidx = np.repeat(np.arange(lengths.size, dtype=np.int64), lengths)
            if pa.types.is_integer(flat.type):
                # tier 1: one long per posting = rel<<40 | tf<<20 | dl.
                # rel is unique per (group, doc), so sorting by rel sorts
                # by doc id within the group — and because rel < 2^22,
                # (gidx << 22 | rel) is a SINGLE int64 radix key covering
                # both group and doc order: one stable argsort pass, ~4x
                # faster than the two-pass lexsort at ~6M postings/batch
                # and order-identical (rel unique per group).
                p = flat.to_numpy(zero_copy_only=False).astype(np.int64)
                order = np.argsort(
                    (gidx << np.int64(22)) | (p >> np.int64(40)),
                    kind="stable",
                )
                p = p[order]
                tfs = (p >> 20) & ((1 << 20) - 1)
                dls = p & ((1 << 20) - 1)
                shard_base = (
                    np.repeat(group_shards, lengths)[order] * np.int64(shard_size)
                )
                ids = (p >> 40) + shard_base
            else:
                ids = flat.field("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
                struct_fields = {f.name for f in flat.type}
                order = np.lexsort((ids, gidx))
                ids = ids[order]
                if "packed" in struct_fields:
                    packed = flat.field("packed").to_numpy(zero_copy_only=False).astype(np.int64)[order]
                    tfs = packed >> 20
                    dls = packed & ((1 << 20) - 1)
                else:
                    tfs = flat.field("tf").to_numpy(zero_copy_only=False).astype(np.int64)[order]
                    dls = flat.field("dl").to_numpy(zero_copy_only=False).astype(np.int64)[order]
            tfn = _tfnorm(tfs, dls, k1, b, avgdl)
            yield _encode_batch_groups(
                group_terms, group_shards, ids, tfs, dls, tfn, starts, ends, cap, bs
            )

    return build


def _atomic_write(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    options: dict | None = None,
) -> None:
    """Atomic table commit via the pluggable TableIO (plans/tableio.py);
    the default backend is the parquet-dir tmp+rename this function used
    to implement inline. Iceberg deployments get snapshot-isolated
    commits through the same interface."""
    from esbulk_spark.plans.tableio import ParquetDirIO

    ParquetDirIO(os.path.dirname(path)).write(
        df, os.path.basename(path), partition_by, options
    )


# row-group size for term-keyed tables (postings, dictionary): these are
# written SORTED by term within each bucket file, so parquet row-group
# min/max statistics on `term` prune a query's scan to the row groups
# containing its terms. The default 128 MB block makes each ~30-60 MB
# bucket file one undivisible group (nothing prunes); 4 MB groups cut
# the warm multi-term pruned-postings scan ~2x at the 2M-doc scale
# (0.16-0.18 s -> 0.08 s). Values/blobs are unchanged — layout only.
# A/B archived in bench/sorted_layout_ab_r06b.json.
_TERM_TABLE_WRITE_OPTIONS = {"parquet.block.size": str(4 * 1024 * 1024)}

# exchange width for the (term, shard) shuffle: bound POSTINGS PER
# REDUCE TASK instead of inheriting the session shuffle width (guide §2
# — partitioning derives from input size, not a constant tuned for one
# scale). At 218M postings a 32-wide exchange gives every reduce task
# ~7M postings (~175 MB of collect_list buffers feeding a serial
# per-partition encode); quiet A/B at 2M docs: 66.8 s (32-wide) vs
# 45.6-51.5 s (256-wide) for the exchange+agg+encode sub-plan
# (bench/build2m_width_r06b.json).
_POSTINGS_PER_TASK = 1_000_000


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    cfg: IndexConfig,
    input_sig: str = "",
    tf_source: DataFrame | None = None,
) -> dict:
    """Build (or resume) the full index table set under cfg.index_dir.

    ``tf_source``: pre-computed (doc_id, term, tf, dl) rows — the segment
    merge path provides these (decoded from segment postings) so content
    is never re-tokenized; such callers must pre-populate the docs and
    stats stages in the manifest. The stats' ``max_dl`` and
    ``min_doc_id`` pick the packing tier; without them the rows cross
    the Arrow boundary unpacked."""
    if cfg.segmented:
        if tf_source is not None:
            raise ValueError("segmented build cannot take a tf_source")
        return _build_segmented(spark, docs, cfg, input_sig)
    d = cfg.index_dir
    fp = cfg.fingerprint(input_sig)
    man = Manifest(d, fp)
    if cfg.overwrite and os.path.exists(d) and not _same_fingerprint(d, fp):
        shutil.rmtree(d)  # esbulk -purge (run.go:160-165)
    elif cfg.overwrite and os.path.exists(d):
        # same fingerprint: the committed BUILD stages are reusable
        # (resume semantics), but post-build mutation overlays — attached
        # delta segments (admin.append_docs(merge=False)) and delete
        # tombstones — are NOT covered by the fingerprint and would
        # resurrect as zombies on the "fresh" index a purge promises
        for overlay in ("attached", "deletes"):
            shutil.rmtree(os.path.join(d, overlay), ignore_errors=True)
        dm = os.path.join(d, "deletes_meta.json")
        if os.path.exists(dm):
            os.remove(dm)
    os.makedirs(d, exist_ok=True)
    man.load()

    if cfg.pipeline is not None:  # esbulk -p ingest pipeline (indexing.go:270-272)
        docs = cfg.pipeline(docs)

    # ---- stage: docs (ids + sha256 invariant column; NO tokenize) ----
    docs_path = os.path.join(d, "docs")
    if not man.is_done("docs", docs_path):
        with StageTimer() as t:
            n_written = None
            pinned = None
            if cfg.id_col:
                with_ids = docs.withColumn("doc_id", F.col(cfg.id_col).cast("long"))
            else:
                with_ids, n_written, pinned = assign_doc_ids_pinned(docs, cfg.sort_keys)
            # content stays in the docs table: the tf stage reads it, and it
            # serves _source at query time. (At 10^12-file scale you would
            # point the tf stage at the source Iceberg table instead and keep
            # only content_sha here — the per-row invariant, BASELINE.json.)
            # dl/n_terms (document norms, B5) ride along in the same pass:
            # the single-pass regexp_extract_all analyzer runs JVM-side
            # inside this write (~1s per 100 MB at 32 threads), which beats
            # persisting tf rows for a separate norms derivation.
            toks_tmp = "__toks"
            with_ids = (
                with_ids.withColumn(
                    "content_sha", F.sha2(F.col(cfg.text_col), 256)
                )
                .withColumn(toks_tmp, tokens_col(F.col(cfg.text_col)))
                .withColumn("dl", F.size(F.col(toks_tmp)))
                .withColumn("n_terms", F.size(F.array_distinct(F.col(toks_tmp))))
                .drop(toks_tmp)
            )
            if not cfg.store_content:
                # sha-only docs table (the 10^12-file mode): the invariant
                # column, ids, and norms persist; content itself is read
                # from the SOURCE table by the postings stage, never
                # duplicated into the index. _source serving and the
                # full-scan oracle need the source table in this mode.
                with_ids = with_ids.drop(cfg.text_col)
            _atomic_write(with_ids, docs_path)
            # drop the range-partitioned cache assign_doc_ids pinned: leaving
            # 100s of MB in JVM storage measurably slows later Arrow stages
            # (3x observed at 50k docs). Unpersist exactly that DataFrame —
            # a global clearCache() would nuke caller caches.
            if pinned is not None:
                pinned.unpersist()
            if n_written is None:
                n_written = spark.read.parquet(docs_path).count()
        man.record("docs", rows=n_written, secs=t.secs)
    n_docs = next(
        e["rows"] for e in reversed(man.entries)
        if e["stage"] == "docs" and e["status"] == "done"
    )

    n_shards = cfg.n_shards or max(1, math.ceil(n_docs / cfg.target_shard_docs))
    shard_size = math.ceil(n_docs / n_shards) if n_docs else 1

    # ---- stage: stats (tiny aggregates over docs norm columns) ----
    # norms (doc_id, dl, n_terms) live IN the docs table, computed during
    # the docs write — this aggregate scans two small columns (parquet
    # column pruning) and yields avgdl, which the postings encoder needs
    # for its block maxes BEFORE any posting flows.
    stats_path = os.path.join(d, STATS_FILE)
    if not man.is_done("stats", stats_path):
        agg = spark.read.parquet(docs_path).agg(
            F.sum("dl").alias("total_tokens"),
            F.sum("n_terms").alias("total_postings"),
            F.max("dl").alias("max_dl"),
            F.min("doc_id").alias("min_doc_id"),
        ).collect()[0]
        total_tokens = int(agg["total_tokens"] or 0)
        stats = {
            "n_docs": int(n_docs),
            "avgdl": (total_tokens / n_docs) if n_docs else 1.0,
            "total_tokens": total_tokens,
            "total_postings": int(agg["total_postings"] or 0),
            "max_dl": int(agg["max_dl"] or 0),
            "min_doc_id": int(agg["min_doc_id"] or 0),
            "k1": cfg.k1,
            "b": cfg.b,
            "analyzer": cfg.analyzer,
            "n_shards": int(n_shards),
            "shard_size": int(shard_size),
            "n_buckets": cfg.n_buckets,
            "store_content": cfg.store_content,
            "store_positions": bool(cfg.store_positions),
            "text_col": cfg.text_col,
            "chunk_cap": cfg.chunk_cap,
            "block_size": cfg.block_size,
            "fingerprint": fp,
        }
        with open(stats_path, "w") as f:
            json.dump(stats, f, indent=1)
        man.record("stats", **{k: v for k, v in stats.items() if k != "fingerprint"})
    stats = json.load(open(stats_path))

    # ---- stage: postings chunks by bucket ----
    # One shape for every build (plain, positional, sha-only, resume,
    # merge re-encode): per-posting rows (doc_id, dl, term, tf) -> pack
    # into one Arrow cell -> ONE repartition(exch_width, term, shard) ->
    # collect_list per (term, shard) -> the vectorized chunk encoder ->
    # bucket-partitioned write. Fresh builds derive the rows map-side
    # from each document's token array (_rle_rows: no token-occurrence
    # shuffle, no aggregate keyed on the document); the merge path
    # hands in rows decoded from segment postings (tf_source). Only
    # |groups| rows (with ~8 B/posting array cells) cross the
    # JVM->Python boundary — the Arrow pipe is cell-bound.
    post_path = os.path.join(d, "postings")
    pos_path = os.path.join(d, "positions")
    # with store_positions, the postings rows carry each posting's
    # position list too, persisted for the positions stage: one tokenize
    # pass feeds both tables. The merge path has no token arrays; its
    # positions come from the segments or from the stage's own pass.
    shared_positions = (
        cfg.store_positions
        and tf_source is None
        and not man.is_done("positions", pos_path)
    )
    pos_rows = None
    exch_width = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
        math.ceil(stats.get("total_postings", 0) / _POSTINGS_PER_TASK),
    )
    if not man.is_done("postings", post_path):
        from pyspark import StorageLevel

        with StageTimer() as t, (
            nullcontext(None)
            if tf_source is not None
            else _token_source(spark, docs, cfg, docs_path)
        ) as src:
            rows = tf_source if src is None else _rle_rows(src, shared_positions)
            if shared_positions:
                pos_rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
            sharded = rows.withColumn(
                "shard", (F.col("doc_id") / F.lit(shard_size)).cast("int")
            )
            # Arrow-boundary packing tiers (the pipe is CELL-bound, so
            # fewer columns per posting = proportionally faster):
            #   tier 1: (rel_doc_id, tf, dl) in ONE long — rel_doc_id =
            #     doc_id - shard*shard_size < shard_size fits 22 bits
            #     when shard_size <= 2^22 (the default 4M-doc shard),
            #     tf <= dl < 2^20 -> rel<<40 | tf<<20 | dl < 2^62.
            #     HALF the cells of tier 2; byte-identical blobs
            #     (A/B-asserted in tests/test_chunk_builder.py).
            #   tier 2: (doc_id, tf<<20|dl) struct — big shards.
            #   tier 3: (doc_id, tf, dl) struct — dl >= 2^20, or stats
            #     that do not record max_dl.
            max_dl_ok = 0 < stats.get("max_dl", 0) < (1 << 20)
            # tier 1 additionally needs NON-NEGATIVE doc ids: rel =
            # doc_id - shard*shard_size is only in [0, shard_size) for
            # doc_id >= 0 (int cast truncates toward zero, so a negative
            # user id_col would make rel negative and corrupt the pack)
            tier = _FORCE_PACK or (
                "packed1"
                if (
                    max_dl_ok
                    and shard_size <= (1 << 22)
                    and stats.get("min_doc_id", -1) >= 0
                )
                else ("packed2" if max_dl_ok else "struct")
            )
            if tier == "packed1":
                rel = F.col("doc_id") - F.col("shard").cast("long") * F.lit(
                    int(shard_size)
                )
                entry = (
                    rel * F.lit(1 << 40)
                    + F.col("tf").cast("long") * F.lit(1 << 20)
                    + F.col("dl")
                )
            elif tier == "packed2":
                entry = F.struct(
                    F.col("doc_id"),
                    (F.col("tf").cast("long") * F.lit(1 << 20) + F.col("dl")).alias("packed"),
                )
            else:
                entry = F.struct("doc_id", "tf", "dl")
            # pack BEFORE the exchange (guide §2.3: project before the
            # exchange): the shuffle carries (term, shard, packed) rows,
            # and the collect_list runs exchange-free in-partition
            grouped = (
                sharded.select("term", "shard", entry.alias("__p"))
                .repartition(exch_width, "term", "shard")
                .groupBy("term", "shard")
                # NO sort_array: doc-ordering happens in the encoder
                .agg(F.collect_list("__p").alias("postings"))
            )
            chunks = (
                grouped.mapInArrow(
                    make_chunk_builder(cfg, stats["avgdl"], int(shard_size)),
                    POSTINGS_SCHEMA,
                )
                .withColumn("bucket", bucket_col(F.col("term"), cfg.n_buckets))
                # one output file per bucket directory (instead of one per
                # task x bucket): query-time partition listing stays O(1).
                # TERM-SORTED within each bucket file so row-group stats
                # prune query scans (see _TERM_TABLE_WRITE_OPTIONS);
                # bucket leads the sort, so the partitioned writer's
                # required ordering holds without a second sort.
                .repartition(cfg.n_buckets, "bucket")
                .sortWithinPartitions("bucket", "term", "shard", "chunk")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # evidence hook (guide §1/§7.2): dump the postings-stage
            # physical plan before executing it, so plan-shape claims
            # (exchange count/width) are checkable without the Spark UI.
            # No effect when the env var is unset.
            exp_dir = os.environ.get("ESBULK_BUILD_EXPLAIN_DIR")
            if exp_dir:
                os.makedirs(exp_dir, exist_ok=True)
                with open(os.path.join(exp_dir, "postings.txt"), "w") as fh:
                    fh.write(
                        chunks._jdf.queryExecution().explainString(
                            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                        )
                    )
            _atomic_write(
                chunks, post_path, partition_by=["bucket"],
                options=_TERM_TABLE_WRITE_OPTIONS,
            )
        # skew metric from the still-cached chunks: postings per
        # (term,shard) group max vs mean
        srow = chunks.agg(
            F.count(F.lit(1)).alias("chunks"),
            F.max("n").alias("max_chunk"),
            F.avg("n").alias("avg_chunk"),
        ).collect()[0]
        skew = float(srow["max_chunk"] / srow["avg_chunk"]) if srow["avg_chunk"] else 1.0
        man.record(
            "postings", secs=t.secs, chunks=int(srow["chunks"]),
            skew_ratio=skew,
            postings_per_sec=(stats["total_postings"] / t.secs if t.secs else 0),
        )
        chunks_cache = chunks
    else:
        chunks_cache = None

    # ---- stage: dictionary (term, df, cf) from postings chunk metadata ----
    dict_path = os.path.join(d, "dictionary")
    if not man.is_done("dictionary", dict_path):
        with StageTimer() as t:
            src = (
                chunks_cache
                if chunks_cache is not None
                else spark.read.parquet(post_path)
            )
            dictionary = (
                src.groupBy("term")
                .agg(F.sum("n").alias("df"), F.sum("chunk_cf").alias("cf"))
                .withColumn("bucket", bucket_col(F.col("term"), cfg.n_buckets))
                .repartition(cfg.n_buckets, "bucket")
                .sortWithinPartitions("bucket", "term")
                .persist()
            )
            _atomic_write(
                dictionary, dict_path, partition_by=["bucket"],
                options=_TERM_TABLE_WRITE_OPTIONS,
            )
            # explicit hot-term accounting (north rule): terms whose df
            # exceeds one shard's doc capacity are the skew drivers — the
            # doc-range shard is their salt; record them per build
            hot = dictionary.orderBy(F.desc("df")).limit(20).collect()
            dictionary.unpersist()
        man.record(
            "dictionary",
            secs=t.secs,
            hot_terms=[
                {"term": r["term"], "df": int(r["df"]),
                 "salted_into_shards": min(int(n_shards), int(r["df"]))}
                for r in hot
                if r["df"] > shard_size
            ],
        )
    # ---- stage: positions (opt-in, cfg.store_positions) ----
    # (term, doc_id, positions over the ANALYZED token stream), bucket-
    # partitioned like the postings so phrase queries prune the same
    # way. No custom codec: parquet's columnar delta encoding handles
    # sorted int arrays. The rows are the postings stage's own
    # (_rle_rows with positions): persisted ones when both stages ran,
    # else one tokenize pass of this stage's own. Phrase semantics:
    # adjacency in the analyzed stream (stopwords removed before
    # numbering), identical in the DuckDB oracle.
    if cfg.store_positions and not man.is_done("positions", pos_path):
        with StageTimer() as t, (
            nullcontext(None)
            if pos_rows is not None
            else _token_source(spark, docs, cfg, docs_path)
        ) as src:
            rows = pos_rows if src is None else _rle_rows(src, with_positions=True)
            positions = (
                rows.select("term", "doc_id", "positions")
                .withColumn("bucket", bucket_col(F.col("term"), cfg.n_buckets))
                .repartition(cfg.n_buckets, "bucket")
            )
            _atomic_write(positions, pos_path, partition_by=["bucket"])
        man.record("positions", secs=t.secs, fused=pos_rows is not None)

    if pos_rows is not None:
        pos_rows.unpersist()
    if chunks_cache is not None:
        chunks_cache.unpersist()
    return stats


def _build_segmented(
    spark: SparkSession, docs: DataFrame, cfg: IndexConfig, input_sig: str
) -> dict:
    """cfg.segmented = N: the large-build plan promoted to a config flag
    (VERDICT r2 item 7). Assign doc ids ONCE, split the corpus into N
    contiguous doc-id waves, build each wave as an independent segment
    index, then metadata-refresh merge (operators/merge.py:162) into
    cfg.index_dir.

    Why: the single-pass build's (term, shard) shuffle is token-sized —
    at 10^12 docs that is the cluster-killing exchange. Per wave the
    shuffle covers only 1/N of the tokens (bounded working set, bounded
    spill), and the merge moves index-sized blobs verbatim. Search
    results are rank-identical to the single-pass build (chunk
    boundaries/file bytes legitimately differ) — asserted in
    tests/test_merge.py.

    Resume: the staging dir (index_dir + '.segments') carries the
    config fingerprint; each wave build is itself stage-checkpointed, so
    a killed build redoes only unfinished waves. The merged index is
    stamped with the segmented config's fingerprint, making the whole
    build a no-op on re-run."""
    from dataclasses import replace

    from esbulk_spark.operators.merge import merge_segments_fast

    d = cfg.index_dir
    n_waves = max(1, int(cfg.segmented))
    fp = cfg.fingerprint(input_sig)
    stats_path = os.path.join(d, STATS_FILE)
    if _same_fingerprint(d, fp) and os.path.exists(stats_path):
        return json.load(open(stats_path))

    work = d + ".segments"
    fp_file = os.path.join(work, "FINGERPRINT")
    fresh = not (
        os.path.exists(fp_file) and open(fp_file).read() == fp
    )
    if fresh:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        with open(fp_file, "w") as f:
            f.write(fp)

    if cfg.pipeline is not None:
        docs = cfg.pipeline(docs)
    src = os.path.join(work, "src")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        pinned = None
        if cfg.id_col:
            with_ids = docs.withColumn("doc_id", F.col(cfg.id_col).cast("long"))
        else:
            with_ids, _, pinned = assign_doc_ids_pinned(docs, cfg.sort_keys)
        with_ids.write.mode("overwrite").parquet(src)
        if pinned is not None:
            pinned.unpersist()
    srcdf = spark.read.parquet(src)
    lo, hi = srcdf.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    if lo is None:
        # empty corpus: nothing to segment — run ONE non-segmented build
        # (which is empty-safe) and stamp the segmented fingerprint so
        # re-runs short-circuit exactly like the normal path
        ecfg = replace(
            cfg, id_col="doc_id", segmented=None, overwrite=True, pipeline=None
        )
        stats = build_index(spark, srcdf, ecfg, input_sig=f"{input_sig}#seg-empty")
        stats = dict(stats, fingerprint=fp, segmented=n_waves)
        with open(stats_path, "w") as f:
            json.dump(stats, f, indent=1)
        Manifest(d, fp).record("segmented_build", n_waves=n_waves, empty=True)
        shutil.rmtree(work, ignore_errors=True)
        return stats
    if cfg.id_col:
        # sparse user ids: quantile cuts for balanced waves
        qs = srcdf.stat.approxQuantile(
            "doc_id", [i / n_waves for i in range(1, n_waves)], 0.001
        )
        cuts = sorted({int(q) for q in qs})
    else:
        # dense assigned ids: an even value split IS an even doc split
        step = (hi - lo + 1) / n_waves
        cuts = [int(lo + step * i) for i in range(1, n_waves)]
    bounds = [lo - 1] + cuts + [hi]
    wave_shards = max(1, cfg.n_shards // n_waves) if cfg.n_shards else None
    seg_dirs = []

    def _build_wave(i: int) -> None:
        blo, bhi = bounds[i], bounds[i + 1]
        wcfg = replace(
            cfg,
            index_dir=seg_dirs[i],
            id_col="doc_id",
            segmented=None,
            n_shards=wave_shards,
            overwrite=True,
            pipeline=None,
        )
        build_index(
            spark,
            srcdf.filter((F.col("doc_id") > blo) & (F.col("doc_id") <= bhi)),
            wcfg,
            input_sig=f"{input_sig}#seg{i}/{n_waves}",
        )

    for i in range(len(bounds) - 1):
        seg_dirs.append(os.path.join(work, f"seg{i:04d}"))
    # Overlap wave builds (guide §2.6): waves are independent jobs over
    # disjoint doc ranges with separate manifest dirs, and each wave's
    # plan has serial sections (stats collect, manifest counts, commit
    # renames) plus stage tails that leave most cores idle — the FIFO
    # scheduler back-fills them with the next wave's tasks. Two in
    # flight keeps the per-wave working-set bound (the reason segmented
    # builds exist) at 2/N of the single-pass shuffle instead of 1/N;
    # ESBULK_SEGMENT_PARALLELISM=1 restores strictly sequential waves.
    # Resume semantics are unchanged: completed waves short-circuit on
    # their fingerprint regardless of completion order.
    par = max(1, int(os.environ.get("ESBULK_SEGMENT_PARALLELISM", "2")))
    if par == 1 or len(seg_dirs) == 1:
        for i in range(len(seg_dirs)):
            _build_wave(i)
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=par) as pool:
            # list() re-raises the first wave failure, like the loop
            list(pool.map(_build_wave, range(len(seg_dirs))))
    mcfg = replace(cfg, segmented=None, pipeline=None)
    stats = merge_segments_fast(spark, seg_dirs, mcfg)
    # stamp the SEGMENTED config's fingerprint so re-runs short-circuit
    stats = dict(stats, fingerprint=fp, segmented=n_waves)
    with open(stats_path, "w") as f:
        json.dump(stats, f, indent=1)
    Manifest(d, fp).record("segmented_build", n_waves=n_waves)
    shutil.rmtree(work, ignore_errors=True)
    return stats


def _same_fingerprint(index_dir: str, fp: str) -> bool:
    p = os.path.join(index_dir, STATS_FILE)
    try:
        return json.load(open(p)).get("fingerprint") == fp
    except Exception:
        # stats not yet written: trust the manifest fingerprints
        mp = os.path.join(index_dir, "manifest.jsonl")
        try:
            with open(mp) as f:
                return any(json.loads(x).get("fingerprint") == fp for x in f if x.strip())
        except Exception:
            return False
