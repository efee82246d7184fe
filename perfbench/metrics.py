"""End-to-end and per-layer metrics of one run (README.md has the table
of which layer metric should move which end-to-end metric)."""

from __future__ import annotations

import math
import statistics

import workloads as W

UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_content_byte": "ratio",
    "search_p50_ms": "ms",
    "batch_queries_per_s": "queries/s",
    "peak_rss_mb": "MB",
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest of p95/p90/p80 that has at least
    ten samples beyond it, else the median."""
    for pct in (95, 90, 80):
        if len(values) * (100 - pct) / 100 >= 10:
            return float(pct), quantile(values, pct / 100)
    return 50.0, statistics.median(values)


def end_to_end(run: W.Run, peak_rss_mb: float) -> dict[str, float]:
    t = run.times
    return {
        "setup_s": sum(run.setup.values()),
        "build_docs_per_s": W.MAIN_DOCS / t["build"][0],
        "index_bytes_per_content_byte": run.facts["index_bytes"] / run.facts["content_bytes"],
        "search_p50_ms": 1000 * _median(t["search"]),
        "batch_queries_per_s": W.BATCH_SIZE * len(t["batch"]) / sum(t["batch"]),
        "peak_rss_mb": peak_rss_mb,
    }


def units(values: dict[str, float]) -> dict[str, dict]:
    return {k: {"value": v, "unit": UNITS.get(k, PER_LAYER_UNITS.get(k, ""))}
            for k, v in values.items()}


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "corpus.gen_s": "s",
    "setup.queries_s": "s",
    "build.docs_s": "s",
    "build.stats_s": "s",
    "build.postings_s": "s",
    "build.dictionary_s": "s",
    "build.other_s": "s",
    "build.postings": "count",
    "build.spark_jobs": "count",
    "build.spark_tasks": "count",
    "tableio.docs_bytes": "B",
    "tableio.postings_bytes": "B",
    "tableio.dictionary_bytes": "B",
    "reader.queries": "count",
    "reader.lookup_calls": "count",
    "reader.lookup_ms": "ms",
    "reader.df_cache_hit_ratio": "ratio",
    "reader.scan_ms": "ms",
    "reader.batch_ms": "ms",
    "wand.score_ms": "ms",
    "wand.groups_per_query": "count",
    "wand.chunk_rows_per_query": "count",
    "wand.postings_per_query": "count",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.jobs_per_batch": "count",
    "search.count": "count",
    "search.tail_pct": "pct",
    "search.tail_ms": "ms",
    "admin.append_s": "s",
    "admin.append_build_s": "s",
    "admin.append_self_s": "s",
    "append_docs_per_s": "docs/s",
    "segments.count": "count",
    "segments.search_p50_ms": "ms",
    "segments.scan_ms": "ms",
    "merge.compact_s": "s",
    "merge.fast_merge_s": "s",
    "merge.bytes_rewritten": "B",
    "compact_s": "s",
    "failed_op_share": "ratio",
}
PER_LAYER_UNITS.update({f"traced.{k}": u for k, u in UNITS.items()})


def per_layer(run: W.Run, e2e: dict[str, float]) -> dict[str, dict]:
    rec, f, t = run.rec, run.facts, run.times
    kids: dict[int, float] = {}
    for s in rec.spans:
        if s.parent is not None:
            kids[s.parent] = kids.get(s.parent, 0.0) + s.secs
    index = {id(s): i for i, s in enumerate(rec.spans)}

    def self_ms(name: str, ops: list[int]) -> list[float]:
        return [
            1000 * (s.secs - kids.get(index[id(s)], 0.0))
            for s in rec.named(name) if s.op in ops
        ]

    def total(name: str) -> float:
        return sum(s.secs for s in rec.named(name))

    searches = run.ops.get("search", [])
    lookups_by_op: dict[int, int] = {}
    for s in rec.named("reader.lookup_terms") + rec.named("segments.lookup_terms"):
        lookups_by_op[s.op] = lookups_by_op.get(s.op, 0) + 1
    score = {op: rec.named("wand.score_group", op) for op in searches}
    jobs = run.jobs.by_op
    build_op = int(f["build_op"])
    build_span = next(s for s in rec.named("build.build_index") if s.op == build_op)
    stages = sum(f[k] for k in ("docs_s", "stats_s", "postings_s", "dictionary_s"))
    append_s = total("admin.append_docs")
    append_build_s = sum(
        s.secs for s in rec.named("build.build_index") if s.op in run.ops.get("append", [])
    )
    tail_pct, tail_s = tail(t["search"])
    out = {
        "session.start_s": run.setup["session_s"],
        "corpus.gen_s": run.setup["corpus_s"],
        "setup.queries_s": run.setup["queries_s"],
        "build.docs_s": f["docs_s"],
        "build.stats_s": f["stats_s"],
        "build.postings_s": f["postings_s"],
        "build.dictionary_s": f["dictionary_s"],
        "build.other_s": build_span.secs - stages,
        "build.postings": f["total_postings"],
        "build.spark_jobs": jobs[build_op][0],
        "build.spark_tasks": jobs[build_op][2],
        "tableio.docs_bytes": f["docs_bytes"],
        "tableio.postings_bytes": f["postings_bytes"],
        "tableio.dictionary_bytes": f["dictionary_bytes"],
        "reader.queries": len(searches),
        "reader.lookup_calls": sum(lookups_by_op.get(op, 0) for op in searches),
        "reader.lookup_ms": _median(
            1000 * s.secs for s in rec.named("reader.lookup_terms") if s.op in searches
        ),
        "reader.df_cache_hit_ratio": (
            sum(1 for op in searches if op not in lookups_by_op) / len(searches)
        ),
        "reader.scan_ms": _median(self_ms("reader.search_rows", searches)),
        "reader.batch_ms": 1000 * _median(t.get("batch", [])),
        "wand.score_ms": _median(1000 * sum(s.secs for s in v) for v in score.values()),
        "wand.groups_per_query": _median(len(v) for v in score.values()),
        "wand.chunk_rows_per_query": _median(
            sum(s.counts["chunk_rows"] for s in v) for v in score.values()
        ),
        "wand.postings_per_query": _median(
            sum(s.counts["postings"] for s in v) for v in score.values()
        ),
        "spark.jobs_per_query": _median(jobs[op][0] for op in searches),
        "spark.stages_per_query": _median(jobs[op][1] for op in searches),
        "spark.tasks_per_query": _median(jobs[op][2] for op in searches),
        "spark.jobs_per_batch": _median(jobs[op][0] for op in run.ops.get("batch", [])),
        "search.count": len(t["search"]),
        "search.tail_pct": tail_pct,
        "search.tail_ms": 1000 * tail_s,
        "admin.append_s": append_s,
        "admin.append_build_s": append_build_s,
        "admin.append_self_s": append_s - append_build_s,
        "append_docs_per_s": (
            W.DELTA_DOCS * len(t["append"]) / sum(t["append"]) if "append" in t else 0.0
        ),
        "segments.count": f.get("segments", 1),
        "segments.search_p50_ms": 1000 * _median(t.get("segment_search", [])),
        "segments.scan_ms": _median(
            self_ms("segments.search_rows", run.ops.get("segment_search", []))
        ),
        "merge.compact_s": total("admin.compact_attached"),
        "merge.fast_merge_s": total("merge.merge_segments_fast"),
        "merge.bytes_rewritten": f.get("compacted_bytes", 0),
        "compact_s": sum(t.get("compact", [])),
        "failed_op_share": run.failed / run.attempted,
    }
    out.update({f"traced.{k}": v for k, v in e2e.items()})
    return units(out)
