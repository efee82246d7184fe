"""Incremental index maintenance with Structured Streaming.

The reference is a bounded batch job with streaming flavor (unbuffered
channel backpressure, run.go:200,312-321) — it has no event-time
semantics, so nothing here is a *port*; this is the natural Spark
extension: new documents arrive as a stream, each micro-batch becomes a
SEGMENT (an independent index directory, built with globally-unique
doc-id ranges), and segments are periodically compacted into the main
index with operators/merge.py — the Lucene segment lifecycle, re-expressed
as Structured Streaming + deterministic batch builds.

Exactly-once: segments are named by batch_id; a replayed micro-batch
(checkpoint recovery) finds its segment directory complete and skips —
the same fingerprint-resume contract as plans/checkpoint.py.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession

from esbulk_spark.config import IndexConfig


class StreamingIndexer:
    """foreachBatch sink: micro-batch -> segment index directory.

    ``base_dir/segments/seg_<batch_id>`` per micro-batch;
    ``base_dir/state.json`` tracks the next doc id (segments own disjoint
    dense id ranges, the contract merge_segments requires)."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        text_col: str = "content",
        sort_keys: tuple[str, ...] = ("repo", "path", "commit"),
        n_buckets: int = 8,
        segment_shard_docs: int = 4_000_000,
        store_positions: bool = False,
        keep_ids: bool = False,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.text_col = text_col
        self.sort_keys = sort_keys
        self.n_buckets = n_buckets
        self.segment_shard_docs = segment_shard_docs
        # keep_ids: trust the incoming `doc_id` column instead of
        # assigning dense per-batch ranges — for sources with stable
        # globally-unique ids. The caller owns cross-batch uniqueness
        # (merge_segments requires globally unique ids; SegmentSetReader
        # serves interleaved id spaces fine).
        self.keep_ids = keep_ids
        # opt-in positional segments: each micro-batch segment carries a
        # positions table, and compact()'s merge unions them (disjoint
        # doc-id ranges make that exact) — phrase queries work on the
        # streamed index just like the batch one
        self.store_positions = store_positions
        os.makedirs(self.segments_dir, exist_ok=True)

    @property
    def segments_dir(self) -> str:
        return os.path.join(self.base_dir, "segments")

    @property
    def state_path(self) -> str:
        return os.path.join(self.base_dir, "state.json")

    def _state(self) -> dict:
        try:
            return json.load(open(self.state_path))
        except Exception:
            return {"next_doc_id": 0, "batches": []}

    def segment_dirs(self) -> list[str]:
        st = self._state()
        return [os.path.join(self.segments_dir, f"seg_{b}") for b in st["batches"]]

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The foreachBatch hook. Idempotent per batch_id."""
        from esbulk_spark.operators.docids import assign_doc_ids_with_count
        from esbulk_spark.plans.build import build_index

        st = self._state()
        if batch_id in st["batches"]:
            return  # replay after checkpoint recovery: segment already built
        seg_dir = os.path.join(self.segments_dir, f"seg_{batch_id}")
        base = st["next_doc_id"]

        if self.keep_ids:
            docs = batch_df
            n = docs.count()
        else:
            # segment-local dense ids offset by the global watermark ->
            # the disjoint-range contract merge_segments needs
            with_local, n = assign_doc_ids_with_count(
                batch_df, self.sort_keys, out_col="__local_id"
            )
            from pyspark.sql import functions as F

            docs = with_local.withColumn(
                "doc_id", (F.col("__local_id") + F.lit(base)).cast("long")
            ).drop("__local_id")

        cfg = IndexConfig(
            index_dir=seg_dir,
            id_col="doc_id",
            text_col=self.text_col,
            n_buckets=self.n_buckets,
            n_shards=max(1, math.ceil(max(n, 1) / self.segment_shard_docs)),
            overwrite=True,
            store_positions=self.store_positions,
        )
        build_index(self.spark, docs, cfg, input_sig=f"seg{batch_id}:{base}")

        st["next_doc_id"] = base + n
        st["batches"] = sorted(st["batches"] + [batch_id])
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self.state_path)

    def start(self, stream_df: DataFrame, checkpoint_dir: str, available_now: bool = True):
        """Attach to a streaming DataFrame. available_now=True drains the
        current backlog then stops (the bounded-ingest shape of the
        reference); False runs continuously."""
        writer = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def reader(self):
        """Live search over everything ingested SO FAR, no compaction
        needed — the streamed segments served through a SegmentSetReader
        with global statistics (plans/segments.py), exactly ES's
        refresh-then-search view of an actively-written index. One
        segment degenerates to a plain IndexReader. Re-call after new
        micro-batches land (segment membership is read from state.json
        at call time)."""
        from esbulk_spark.plans.reader import IndexReader
        from esbulk_spark.plans.segments import SegmentSetReader

        dirs = self.segment_dirs()
        if not dirs:
            raise ValueError("no micro-batch segments ingested yet")
        if len(dirs) == 1:
            return IndexReader(self.spark, dirs[0])
        return SegmentSetReader(self.spark, dirs)

    def compact(self, out_dir: str, n_buckets: int | None = None, n_shards: int | None = None) -> dict:
        """Merge all segments into one exact global index (operators/merge):
        global N/avgdl/idf, rank-identical to a single-pass batch build."""
        from esbulk_spark.operators.merge import merge_segments

        cfg = IndexConfig(
            index_dir=out_dir,
            id_col="doc_id",
            text_col=self.text_col,
            n_buckets=n_buckets or self.n_buckets,
            n_shards=n_shards,
        )
        return merge_segments(self.spark, self.segment_dirs(), cfg)
