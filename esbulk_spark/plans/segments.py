"""Search over a SET of segment indexes as one logical index.

This is the searcher half of the Lucene segment lifecycle (the builder
half is streaming/incremental.py and admin.append_docs): an appended
segment becomes searchable IMMEDIATELY — ES's refresh semantics — and
merging is a background cost amortization, never a correctness
requirement. The reference's continuous `_bulk` stream lands in exactly
this model on the ES side (documents visible after refresh, segments
merged later; run.go:256 flushes, administration.go:32-48).

Rank identity with the merged index holds because every statistic BM25
consumes is aggregated across segments BEFORE scoring:

  n_docs / total_tokens / avgdl   additive over segment stats.json files
                                  (driver-side, zero Spark jobs)
  per-term df / cf                dictionary union -> sum per term (the
                                  dictionary is term-level metadata,
                                  orders of magnitude smaller than
                                  postings)
  postings                        union with per-segment shard-id offsets
                                  — shard is an opaque scoring-group key,
                                  exactly merge_segments_fast's remap,
                                  evaluated at READ time instead of
                                  rewrite time
  block-max metadata              each chunk's max_tfnorm/block maxes are
                                  avgdl-dependent upper bounds computed
                                  with the SEGMENT's avgdl; under the
                                  global avgdl they may be slack but stay
                                  valid bounds ONLY when global avgdl <=
                                  segment avgdl. The scorer therefore
                                  scales them by ``bound_scale`` (below);
                                  the rows themselves are read as stored.

Cost model at 10^12 docs: append = build only the delta (token-sized in
the BATCH, not the corpus); search adds one union branch per segment,
each bucket/term-pruned exactly like the single-index scan; when the
segment count grows, operators/merge.merge_segments_fast compacts at
index-sized cost. This mirrors ES: searches fan over segments; merges
amortize.

Block-max caveat, precisely: a chunk's stored max_tfnorm was computed
as tf/(tf + k1*(1-b) + k1*b*dl/avgdl_seg), which INCREASES with avgdl.
When the global avgdl exceeds a segment's (avgdl_glob > avgdl_seg) the
true global-stats tfnorm can exceed the stored bound, so pruning with
stale bounds could wrongly skip a winner. The reader's ``bound_scale``
is the worst-case ratio
  sup_{tf,dl} tfnorm(avgdl_glob)/tfnorm(avgdl_seg)
    = sup_dl (1-b+b*dl/avgdl_seg)/(1-b+b*dl/avgdl_glob)   (at tf -> 0)
    = avgdl_glob/avgdl_seg                                 (dl -> inf)
i.e. max(1, avgdl_glob / min_seg avgdl) — a cheap, conservative,
EXACTNESS-PRESERVING inflation (tests pin rank identity vs the merged
index). The scorer applies it (plans/wand.py: ``_TermCursor`` computes
idf * (block max * bound_scale)) on both the driver and the distributed
path; neither ``_table`` nor ``read_terms`` rewrites a stored bound.
Merged/compacted indexes recompute exact bounds
(merge._make_max_refresher) and carry none of this slack.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esbulk_spark.plans.build import STATS_FILE
from esbulk_spark.plans.reader import IndexReader

__all__ = ["SegmentSetReader", "sum_segment_stats"]

_MUST_AGREE = ("analyzer", "k1", "b", "chunk_cap", "block_size", "n_buckets")


def sum_segment_stats(seg_stats: list[dict]) -> dict:
    """The stats of a union of segments: the first segment's layout
    (every ``_MUST_AGREE`` key must agree across the set), the additive
    counts summed, shards counted end to end, and ``max_dl`` /
    ``min_doc_id`` taken over the non-empty segments (left out when one
    of them does not record it). The segment-set reader and both merges
    (operators/merge.py) read their statistics from here."""
    for key in _MUST_AGREE:
        vals = {s[key] for s in seg_stats}
        if len(vals) != 1:
            raise ValueError(f"segments disagree on {key}: {vals}")
    n_docs = sum(s["n_docs"] for s in seg_stats)
    total_tokens = sum(s["total_tokens"] for s in seg_stats)
    out = {k: v for k, v in seg_stats[0].items() if k not in ("max_dl", "min_doc_id")}
    for key, pick in (("max_dl", max), ("min_doc_id", min)):
        vals = [s.get(key) for s in seg_stats if s.get("n_docs")]
        if vals and None not in vals:
            out[key] = pick(vals)
    return dict(
        out,
        n_docs=int(n_docs),
        total_tokens=int(total_tokens),
        avgdl=(total_tokens / n_docs) if n_docs else 1.0,
        total_postings=sum(s["total_postings"] for s in seg_stats),
        n_shards=int(sum(s["n_shards"] for s in seg_stats)),
        shard_size=max(s["shard_size"] for s in seg_stats),
        store_positions=all(
            bool(s.get("store_positions", False)) for s in seg_stats
        ),
        fingerprint="segset:"
        + "|".join(s.get("fingerprint", "") for s in seg_stats),
    )


class _MultiIO:
    """TableIO facade over N segment backends: existence is ANY for the
    optional overlay tables (deletes may live on a subset), ALL for the
    structural ones (a table the query plan requires must exist in every
    segment for the union to be complete)."""

    _ANY = frozenset({"deletes"})

    def __init__(self, ios):
        self.ios = ios

    def exists(self, name: str) -> bool:
        probe = any if name in self._ANY else all
        return probe(io.exists(name) for io in self.ios)

    def refresh(self, spark: SparkSession, name: str) -> None:
        for io in self.ios:
            if io.exists(name):
                io.refresh(spark, name)


class SegmentSetReader(IndexReader):
    """IndexReader over ``segment_dirs`` with global statistics.

    Every IndexReader query surface (search/WAND, bool, phrase,
    expansions, aggs, count, get_doc, ...) works unchanged: the class
    only overrides WHERE tables come from (`_table` for Spark plans and
    `read_terms` for driver-side reads: unions with shard remap and a
    df-summed dictionary) and where statistics come from (additive over
    the segments' stats.json files). Doc ids must be
    globally unique across segments — the same contract every merge
    path enforces."""

    def __init__(self, spark: SparkSession, segment_dirs: list[str]):
        from esbulk_spark.plans.tableio import for_index_dir

        if not segment_dirs:
            raise ValueError("SegmentSetReader needs at least one segment dir")
        self.spark = spark
        self.segment_dirs = [d.rstrip("/") for d in segment_dirs]
        self.index_dir = self.segment_dirs[0]
        self.ios = [for_index_dir(d, spark) for d in self.segment_dirs]
        self.io = _MultiIO(self.ios)
        self._reset()

    # ---- statistics ----

    def _load_stats(self) -> None:
        """Per-segment stats plus the global stats summed over them."""
        self.seg_stats = []
        for d in self.segment_dirs:
            with open(os.path.join(d, STATS_FILE)) as f:
                self.seg_stats.append(json.load(f))
        self.stats = sum_segment_stats(self.seg_stats)

    @property
    def bound_scale(self) -> float:
        """Multiplier that keeps every segment's stored block-max bounds
        valid under the GLOBAL avgdl (module docstring): tfnorm grows
        with avgdl, so a segment whose avgdl is BELOW the global one
        stored bounds that are too tight — inflate by the worst ratio
        avgdl_glob / min_seg_avgdl; 1.0 when the global average is the
        smallest (bounds only get slacker)."""
        g = self.stats["avgdl"]
        lo = min(s["avgdl"] for s in self.seg_stats)
        return max(1.0, g / lo) if lo > 0 else 1.0

    # ---- table plumbing ----

    def _table(self, name: str) -> DataFrame:
        df = self._tables.get(name)
        if df is not None:
            return df
        parts = []
        shard_off = 0
        for io, st in zip(self.ios, self.seg_stats):
            if name in _MultiIO._ANY and not io.exists(name):
                shard_off += int(st["n_shards"])
                continue
            t = io.read(self.spark, name)
            if name == "postings":
                t = t.withColumn(
                    "shard", (F.col("shard") + F.lit(shard_off)).cast("int")
                )
            parts.append(t)
            shard_off += int(st["n_shards"])
        if not parts:
            raise FileNotFoundError(f"no segment has table {name!r}")
        df = reduce(lambda a, b: a.unionByName(b), parts)
        if name == "dictionary":
            # per-term df/cf are additive across segments; bucket is a
            # pure function of term, so it survives the group-by
            df = df.groupBy("term", "bucket").agg(
                F.sum("df").alias("df"), F.sum("cf").alias("cf")
            )
        self._tables[name] = df
        return df

    def read_terms(self, name: str, terms: list[str] | None = None,
                   columns: list[str] | None = None):
        """The driver-side twin of ``_table``: per-segment Arrow reads,
        concatenated, with the same shard remap on postings and per-term
        df/cf sums on the dictionary."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if terms is not None:
            terms = sorted(set(terms))
        buckets = None if terms is None else self._buckets(terms)
        parts = []
        shard_off = 0
        for io, st in zip(self.ios, self.seg_stats):
            if not (name in _MultiIO._ANY and not io.exists(name)):
                t = io.read_terms(name, buckets, terms, columns)
                if name == "postings" and "shard" in t.column_names:
                    t = t.set_column(
                        t.schema.get_field_index("shard"), "shard",
                        pc.add(t["shard"], pa.scalar(shard_off, pa.int32())),
                    )
                parts.append(t)
            shard_off += int(st["n_shards"])
        if not parts:
            raise FileNotFoundError(f"no segment has table {name!r}")
        t = pa.concat_tables(parts, promote_options="permissive")
        if name == "dictionary":
            sums = [c for c in ("df", "cf") if c in t.column_names]
            g = t.group_by("term").aggregate([(c, "sum") for c in sums])
            t = pa.table({"term": g["term"], **{c: g[f"{c}_sum"] for c in sums}})
        return t

