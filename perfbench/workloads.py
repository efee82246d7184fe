"""The benchmark's workloads over the engine's public API.

Every run builds a fresh index from a seeded corpus (the timed build),
then runs its workload's closed loop with one client, then checks the
served results against the full-scan BM25 oracle outside the timed
window. README.md in this directory says why each workload exists.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from spans import JobCounter, Recorder

# corpus and layout (README.md, "Sizing")
MAIN_DOCS = 5000
DELTA_DOCS = 200
N_BUCKETS = 8
TOP_K = 10
BATCH_SIZE = 20          # queries per search_many call
BATCH_EVERY = 6          # every 6th operation of a serving loop is a batch
MIN_OPS = BATCH_EVERY    # least operations of a serving loop: one batch at least
HOT_SET = 3              # query_serve: distinct hot queries, searched in warm-up
HOT_EVERY = 4            # query_serve: every 4th single query is from the hot set
SEGMENT_SEARCHES = 8     # append_serve: single queries on the segment set
ROUND_TO = 6             # oracle comparison precision
# df strata of the terms of each fresh query in turn (0 rare, 1 middle,
# 2 common): 1-3 terms, and the same mix of query shapes in every run
SHAPES = ((2,), (1, 2), (0, 1, 2), (1,), (0, 2), (0, 1))


@dataclass
class Served:
    """One served top-k kept for the correctness gate."""

    query: str
    rows: list[tuple[int, float]]
    state: str           # which index state served it: main | segments | merged


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    rec: Recorder
    jobs: JobCounter
    rng: random.Random = field(init=False)
    op: int = 0
    attempted: int = 0
    failed: int = 0
    # per-op timings (seconds) by kind
    times: dict[str, list[float]] = field(default_factory=dict)
    ops: dict[str, list[int]] = field(default_factory=dict)
    served: list[Served] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)
    facts: dict[str, float] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)

    def timed(self, kind: str, fn, *args, **kwargs):
        """One benchmark operation: job group, span op id, wall time."""
        self.op += 1
        self.rec.op = self.op
        self.attempted += 1
        with self.jobs.group(self.op, kind):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
        self.rec.op = 0  # spans outside timed operations belong to op 0
        self.times.setdefault(kind, []).append(dt)
        self.ops.setdefault(kind, []).append(self.op)
        return out

    def guarded(self, kind: str, fn, *args, **kwargs):
        """A query operation: an exception counts as a failed operation
        and the loop goes on."""
        try:
            return self.timed(kind, fn, *args, **kwargs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None

    @property
    def index_dir(self) -> str:
        return os.path.join(self.work, "index")


# ---------------------------------------------------------------- set-up


def make_corpus(run: Run, name: str, n_docs: int, seed: int) -> str:
    from esbulk_spark.corpus import synth_corpus

    path = os.path.join(run.work, name)
    synth_corpus(run.spark, n_docs, seed=seed).write.mode("overwrite").parquet(path)
    return path


def content_bytes(path: str) -> int:
    """UTF-8 bytes of the corpus's content column, read on the driver."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.read_table(path, columns=["content"]).column("content")
    return int(pc.sum(pc.binary_length(col)).as_py())


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, files in os.walk(path)
        for fn in files
    )


class QueryPool:
    """Queries drawn from the index's own dictionary, stratified by df.

    Terms are split into three df strata (rare, middle, common); the n-th
    query takes its terms from the strata ``SHAPES[n % len(SHAPES)]``, each
    term drawn at random from its stratum. ``fresh()`` only uses terms no
    earlier query of the run used, so its df lookup always misses the
    reader's cache."""

    def __init__(self, term_dfs: list[tuple[str, int]], rng: random.Random):
        ordered = sorted(term_dfs, key=lambda t: (t[1], t[0]))
        third = len(ordered) // 3
        self.strata = [
            [t for t, _ in ordered[:third]],
            [t for t, _ in ordered[third:2 * third]],
            [t for t, _ in ordered[2 * third:]],
        ]
        for s in self.strata:
            rng.shuffle(s)
        self.n = 0

    def fresh(self) -> str:
        shape = SHAPES[self.n % len(SHAPES)]
        self.n += 1
        return " ".join(self.strata[i].pop() for i in shape)


def sample_queries(run: Run) -> QueryPool:
    from esbulk_spark.plans.reader import IndexReader

    rows = IndexReader(run.spark, run.index_dir).dictionary().select("term", "df").collect()
    return QueryPool([(r["term"], int(r["df"])) for r in rows], run.rng)


# ---------------------------------------------------------------- build


def timed_build(run: Run, corpus: str, n_docs: int) -> None:
    """The fresh build every workload starts with, then its untimed
    checks: doc count, and stats total_postings == sum(df)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans import build
    from esbulk_spark.plans.reader import IndexReader

    shutil.rmtree(run.index_dir, ignore_errors=True)
    cfg = IndexConfig(index_dir=run.index_dir, n_buckets=N_BUCKETS)
    docs = run.spark.read.parquet(corpus)
    stats = run.timed(
        "build", build.build_index, run.spark, docs, cfg,
        input_sig=f"perfbench:{run.seed}:{n_docs}",
    )
    run.facts["build_op"] = run.op
    got_docs = IndexReader(run.spark, run.index_dir).doc_count()
    dictionary = pq.read_table(os.path.join(run.index_dir, "dictionary"), columns=["df"])
    sum_df = int(pc.sum(dictionary.column("df")).as_py() or 0)
    if got_docs != n_docs or sum_df != stats["total_postings"]:
        print(
            f"build check failed: doc_count={got_docs} (want {n_docs}), "
            f"sum(df)={sum_df} (stats total_postings {stats['total_postings']})",
            file=sys.stderr,
        )
        run.failed += 1
    run.facts["total_postings"] = stats["total_postings"]
    run.facts.update(stage_secs(run.index_dir))
    for table in ("docs", "postings", "dictionary"):
        run.facts[f"{table}_bytes"] = du(os.path.join(run.index_dir, table))
    run.facts["index_bytes"] = du(run.index_dir)


def stage_secs(index_dir: str) -> dict[str, float]:
    """Per-stage build seconds from the manifest build_index writes. The
    stats stage records no secs; its time is the gap between the docs and
    stats entries' wall clocks."""
    entries = {}
    with open(os.path.join(index_dir, "manifest.jsonl")) as f:
        for line in f:
            e = json.loads(line)
            entries[e["stage"]] = e
    return {
        "docs_s": entries["docs"]["secs"],
        "stats_s": entries["stats"]["wall_clock"] - entries["docs"]["wall_clock"],
        "postings_s": entries["postings"]["secs"],
        "dictionary_s": entries["dictionary"]["secs"],
    }


# ---------------------------------------------------------------- workloads


def query_serve(run: Run, pool: QueryPool) -> None:
    """The serving loop on the fresh index, every HOT_EVERY-th single
    query a repeat from the hot set."""
    from esbulk_spark.plans.reader import IndexReader

    reader = IndexReader(run.spark, run.index_dir)
    hot = [pool.fresh() for _ in range(HOT_SET)]
    warm_up(reader, hot, pool)
    serve_loop(run, reader, pool, "main", hot)


def append_serve(run: Run, pool: QueryPool, delta: str) -> None:
    """Writes beside reads: append a delta segment (attached, not
    merged), SEGMENT_SEARCHES single queries on the segment set, compact,
    then the serving loop on the merged index."""
    from esbulk_spark.plans import admin

    stats = run.timed(
        "append", admin.append_docs, run.spark, run.index_dir,
        run.spark.read.parquet(delta), merge=False,
    )
    if stats.get("appended") != DELTA_DOCS:
        print(f"append check failed: {stats}", file=sys.stderr)
        run.failed += 1
    segments = admin.open_reader(run.spark, run.index_dir)
    run.facts["segments"] = len(getattr(segments, "segment_dirs", [run.index_dir]))
    # untimed: the first search on a new segment set pays its first reads
    segments.search_rows(pool.fresh(), k=TOP_K)
    for _ in range(SEGMENT_SEARCHES):
        q = pool.fresh()
        rows = run.guarded("segment_search", segments.search_rows, q, k=TOP_K)
        if rows is not None and not any(c.state == "segments" for c in run.served):
            run.served.append(Served(q, rows, "segments"))
    run.timed("compact", admin.compact_attached, run.spark, run.index_dir)
    run.facts["compacted_bytes"] = du(run.index_dir)
    merged = admin.open_reader(run.spark, run.index_dir)
    warm_up(merged, [pool.fresh()], pool)
    serve_loop(run, merged, pool, "merged")


def serve_loop(run: Run, reader, pool: QueryPool, state: str,
               hot: list[str] | None = None) -> None:
    """Closed loop with one client for the run's seconds, MIN_OPS
    operations at least: single ``search_rows`` queries, every
    BATCH_EVERY-th operation a BATCH_SIZE-query ``search_many`` batch
    instead; with a hot set, every HOT_EVERY-th single query repeats one
    of it. The first fresh single query's top-k is kept for the gate and
    carried into the first batch."""
    checked: Served | None = None
    carried = False
    deadline = time.perf_counter() + run.seconds
    i = 0
    while i < MIN_OPS or time.perf_counter() < deadline:
        i += 1
        if i % BATCH_EVERY == 0:
            batch(run, reader, pool, None if carried else checked, state)
            carried = carried or checked is not None
            continue
        is_hot = bool(hot) and i % HOT_EVERY == 1
        q = hot[run.rng.randrange(len(hot))] if is_hot else pool.fresh()
        rows = run.guarded("search", reader.search_rows, q, k=TOP_K)
        if rows is not None and checked is None and not is_hot:
            checked = Served(q, rows, state)
            run.served.append(checked)


def warm_up(reader, queries: list[str], pool: QueryPool) -> None:
    """Untimed searches and one batch on a newly opened reader, so the
    timed loop does not pay the first-use costs of the JVM, the Python
    workers and the reader's files, which a serving process pays once. The
    searched queries' dfs stay cached."""
    for q in queries:
        reader.search_rows(q, k=TOP_K)
    reader.search_many({f"w{j:02d}": pool.fresh() for j in range(BATCH_SIZE)}, k=TOP_K).collect()


def batch(run: Run, reader, pool: QueryPool, checked: Served | None, state: str) -> None:
    """One search_many batch of fresh queries. A ``checked`` single query
    replaces one fresh query and the batch's top-k for it is kept for the gate, so one
    oracle call checks both paths."""
    carry = checked is not None
    qs = {f"q{j:02d}": pool.fresh() for j in range(BATCH_SIZE - carry)}
    if carry:
        qs["check"] = checked.query
    rows = run.guarded("batch", lambda: reader.search_many(qs, k=TOP_K).collect())
    if rows is not None and carry:
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows if r["qid"] == "check"]
        run.served.append(Served(checked.query, got, state))


WORKLOADS = ("query_serve", "append_serve")


# ---------------------------------------------------------------- gate


def oracle_gate(run: Run) -> None:
    """Untimed: every kept top-k must equal bm25_fullscan's over the docs
    of the index state that served it. The final index holds the same docs
    and statistics as the segment set before compaction, so one reader
    checks both."""
    from esbulk_spark.plans import admin
    from esbulk_spark.plans.score import bm25_fullscan

    docs = admin.open_reader(run.spark, run.index_dir).docs()
    oracle: dict[str, list[tuple[int, float]]] = {}
    for s in run.served:
        if s.query not in oracle:
            oracle[s.query] = [
                (int(r["doc_id"]), float(r["score"]))
                for r in bm25_fullscan(docs, s.query, k=TOP_K, round_to=ROUND_TO).collect()
            ]
        want = oracle[s.query]
        # the oracle breaks ties on the rounded score by doc id; the served
        # order must descend by score
        ordered = all(a[1] >= b[1] for a, b in zip(s.rows, s.rows[1:]))
        got = sorted(
            ((d, round(sc, ROUND_TO)) for d, sc in s.rows),
            key=lambda t: (-t[1], t[0]),
        )
        if got != want or not ordered:
            print(f"oracle mismatch ({s.state}) {s.query!r}: {got} != {want}",
                  file=sys.stderr)
            run.failed += 1
    # bm25_fullscan leaves its projection persisted; drop it
    run.spark.catalog.clearCache()
    run.facts["oracle_queries"] = len(oracle)
    run.facts["oracle_checked"] = len(run.served)
