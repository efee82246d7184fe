"""Index-backed query execution (SURVEY.md §3.3 query lifecycle).

The reference's query path is its integration tests' `_search` call
(esbulk's run_test.go:300-320): analyze -> look up -> score -> top-k.
Here that becomes a Python-side planner (SURVEY.md §4.1: a library
function achieves the same plan a custom Catalyst rule would).
IndexReader's query families are adapters over four shared pieces:

  * the read seam, ``read_terms``: dictionary, postings and tombstone
    rows of the query's terms, read on the driver. The terms hash to
    bucket directories and only those files are read, through pyarrow:
    of each term-sorted file only the row groups whose cached footer
    statistics bracket a wanted term — no Spark job. SegmentSetReader
    overrides only this and ``_table``.
  * the single-query top-k gate, ``_topk_candidates``: when the terms'
    postings fit under ``driver_score_max`` their chunk rows come
    through the seam and the block-max WAND kernel (plans/wand.py)
    scores them on the driver, with zero Spark jobs; above it a bucket-
    and term-pruned Spark scan feeds the same kernel per shard (shards
    are the parallelism unit, exactly like ES shards). Either way the
    <= n_shards * k per-shard winners merge on the driver. search,
    search_rows, search_response, the expansion families (prefix,
    fuzzy, wildcard, regexp, stemmed) and more_like_this all pass
    through it. search_many runs every query of a batch through the
    distributed scorer in one plan and merges each query's winners on
    the driver with the same merge.
  * the positional slot core for phrase, sloppy phrase, span_near,
    span_first and phrase_prefix: one pruned positions scan
    (``_positions``, the only has-positions guard), slots joined rarest
    term first, one BM25 tail (``_score_phrase_cand``) and the shared
    ``topk_deterministic`` cut.

  * the match core, ``_match``: every live doc with all ``must`` terms,
    ``minimum_should_match`` distinct ``should`` terms and no
    ``must_not`` term, BM25-scored, with no top-k cut. One
    ``_decode_to_rows`` (a ``mapInArrow`` that decodes each Arrow batch
    with ``codec.decode_rows``, the batch decoder WAND and the merges
    share), one aggregate, and an anti-join against the must_not
    terms' own match set. When a must term's postings fit under
    ``driver_score_max`` and it keeps at most half the corpus, its doc
    ids are read on the driver and seed the decode (rarest-first
    intersection). score_all, search_and, search_bool, count, the
    terms and significant_terms aggregations, boosting_query and the
    query_string term and pattern leaves are adapters over it.

``explain`` and ``search_similarity`` decode rows with their own per-term
arithmetic.
Every DataFrame built from driver-side rows (a result, an empty result,
the batch's query pairs) is an Arrow-backed
local relation (``_local_df``), so collecting it runs no Spark job.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from esbulk_spark.functions.analyzer import analyze_query, tokenize_text
from esbulk_spark.plans.build import STATS_FILE
from esbulk_spark.plans.wand import RESULT_SCHEMA, idf as idf_fn, make_group_scorer
from esbulk_spark.plans.score import topk_deterministic

# the postings columns score_group reads: the driver path reads only
# these, and the distributed scorer projects to them before its
# (qid, shard) exchange
_SCORED_COLS = (
    "shard", "term", "min_doc", "n", "blob_ids", "blob_tfs", "blob_dls",
    "block_last", "block_max_tfnorm", "off_ids", "off_tfs", "off_dls",
)

# Spark DDL type -> Arrow type, for the schemas _local_df builds
_ARROW_TYPES = {"string": "string", "int": "int32", "long": "int64",
                "double": "float64"}


def fuzziness_edits(term: str, fuzziness: int | str) -> int:
    """Resolve an ES fuzziness spec to an edit count. ``AUTO`` follows
    the public ES ladder: terms of length 0-2 must match exactly, 3-5
    allow one edit, longer allow two."""
    if isinstance(fuzziness, str):
        if fuzziness.upper() != "AUTO":
            raise ValueError(f"fuzziness must be an int or 'AUTO': {fuzziness!r}")
        n = len(term)
        return 0 if n <= 2 else (1 if n <= 5 else 2)
    if fuzziness < 0:
        raise ValueError("fuzziness must be >= 0")
    return int(fuzziness)


def wildcard_to_like(pattern: str) -> str:
    """ES wildcard pattern -> SQL LIKE: ``*`` -> ``%``, ``?`` -> ``_``,
    literal ``%``/``_``/``\\`` escaped with a backslash (the default
    LIKE escape in Spark; the DuckDB oracle says ``ESCAPE '\\'``
    explicitly). Analyzer terms are lowercase alphanumeric runs, so the
    escapes are defensive, not load-bearing."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def phrase_join_order(terms: list[str], dfs: dict[str, int]) -> list[int]:
    """Slot-join order for phrase search: slot indices sorted by the
    term's document frequency ascending (ties: slot position). The
    FIRST element is always a min-df slot, so the join chain is driven
    by the rarest term's posting set. Pure so tests can pin it."""
    return sorted(range(len(terms)), key=lambda i: (dfs[terms[i]], i))


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        from esbulk_spark.plans.tableio import for_index_dir

        self.spark = spark
        self.index_dir = index_dir
        # pluggable table storage (plans/tableio.py): parquet dirs by
        # default, Iceberg tables when the location/jars select it
        self.io = for_index_dir(index_dir, spark)
        self._reset()

    def _load_stats(self) -> None:
        """Set ``self.stats`` from the index's stats.json."""
        with open(os.path.join(self.index_dir, STATS_FILE)) as f:
            self.stats = json.load(f)

    def _reset(self) -> None:
        """(Re)load the statistics and empty every per-reader cache."""
        self._load_stats()
        self._tables: dict[str, DataFrame] = {}
        # term -> df cache (None = known-absent): df values are QUERY
        # METADATA (a handful of ints), so they ride into plans as
        # literals instead of a dictionary broadcast join — one Spark
        # job less per search, zero jobs for warm terms
        self._df_cache: dict[str, int | None] = {}
        # soft-delete tombstones: False = not loaded yet; None = none
        self._del_arr: object = False
        self._del_bc = None

    @property
    def n_docs(self) -> int:
        return self.stats["n_docs"]

    @property
    def bound_scale(self) -> float:
        """Factor the scorer applies to stored block maxes (1.0: one
        index's bounds hold under its own statistics)."""
        return 1.0

    def _table(self, name: str) -> DataFrame:
        # memoized: re-creating the relation re-lists every partition
        # directory (100s of ms on a bucketed postings table) per query.
        # After an external rebuild of a stage directory call refresh().
        df = self._tables.get(name)
        if df is None:
            df = self.io.read(self.spark, name)
            self._tables[name] = df
        return df

    def refresh(self) -> None:
        """Invalidate memoized relations + Spark's file-listing caches
        (needed after a stage directory is rebuilt in place)."""
        self._reset()
        for name in ("docs", "dictionary", "postings", "positions", "deletes"):
            self.io.refresh(self.spark, name)

    # ---- soft deletes (Lucene liveDocs model: delete_by_query writes
    # doc_id tombstones; every read path masks them; index statistics
    # (df, avgdl, norms) keep counting deleted docs until
    # expunge_deletes/compaction rebuilds — exactly ES/Lucene semantics
    # for deletes between merges) ----

    def _deleted_arr(self):
        """Sorted int64 tombstone doc_ids, or None when the index has no
        deletes. Loaded once per reader (refresh() reloads). Tombstones
        are bounded operational state — ES keeps them until merge too;
        expunge_deletes() is the compaction that clears them."""
        if self._del_arr is False:
            import numpy as np

            if not self.io.exists("deletes"):
                self._del_arr = None
            else:
                ids = self.read_terms("deletes", columns=["doc_id"])["doc_id"]
                arr = np.sort(ids.to_numpy().astype(np.int64))
                self._del_arr = arr if arr.size else None
        return self._del_arr

    def _deleted_bc(self):
        """Spark broadcast of the tombstone array (one copy per
        executor); None when no deletes."""
        arr = self._deleted_arr()
        if arr is None:
            return None
        if self._del_bc is None:
            self._del_bc = self.spark.sparkContext.broadcast(arr)
        return self._del_bc

    def _live(self, df: DataFrame) -> DataFrame:
        """Anti-join ``df`` (carrying doc_id) against the tombstones;
        passthrough when the index has none. Distributed-safe for any
        tombstone volume (no driver materialization on this path)."""
        if self._deleted_arr() is None:
            return df
        return df.join(
            self._table("deletes").select("doc_id"), "doc_id", "left_anti"
        )

    def docs(self) -> DataFrame:
        return self._live(self._table("docs"))

    def dictionary(self) -> DataFrame:
        return self._table("dictionary")

    def postings(self) -> DataFrame:
        return self._table("postings")

    def norms(self) -> DataFrame:
        # document norms (doc_id, dl): the docs table carries dl
        return self._table("docs").select("doc_id", "dl")

    def doc_count(self) -> int:
        """Post-ingest verification count (run_test.go:318-320 analog)."""
        return self.docs().count()

    def has_positions(self) -> bool:
        """Whether this index carries the opt-in positions table. New
        indexes record store_positions in stats.json; for pre-r4 indexes
        fall back to probing the directory (one os.stat, no Spark job)."""
        v = self.stats.get("store_positions")
        if v is not None:
            return bool(v)
        return self.io.exists("positions")

    # ---- driver-side reads: the one seam (no Spark job) ----

    def read_terms(self, name: str, terms: list[str] | None = None,
                   columns: list[str] | None = None):
        """``pyarrow.Table`` of table ``name``'s rows for ``terms`` (None:
        the whole table), read on the driver from the terms' bucket
        files through the storage backend. Every driver-side read of
        dictionary, postings or tombstone rows goes through here;
        SegmentSetReader overrides it to union its segments."""
        if terms is not None:
            terms = sorted(set(terms))
        buckets = None if terms is None else self._buckets(terms)
        return self.io.read_terms(name, buckets, terms, columns)

    def read_postings(self, terms: list[str], columns: list[str] | None = None):
        """Postings chunk rows of ``terms`` as a ``pyarrow.Table`` — the
        driver-side twin of ``_pruned_postings`` (same rows, no job)."""
        return self.read_terms("postings", terms, columns)

    def lookup_term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term -> (df, cf) from the bucket-pruned dictionary rows: at
        most len(terms) rows of query metadata. cf (collection
        frequency) feeds the LM Dirichlet similarity's collection
        language model."""
        if not terms:
            return {}
        t = self.read_terms("dictionary", terms, ["term", "df", "cf"])
        return dict(zip(t["term"].to_pylist(),
                        zip(t["df"].to_pylist(), t["cf"].to_pylist())))

    def lookup_terms(self, terms: list[str]) -> dict[str, int]:
        """term -> df (lookup_term_stats without cf)."""
        return {t: df for t, (df, _cf) in self.lookup_term_stats(terms).items()}

    # ---- planning helpers ----

    def _dfs_cached(self, terms: list[str]) -> dict[str, int]:
        """term -> df via the memoized driver cache; one dictionary read
        for cache misses only (absence is cached too). Cleared by
        refresh()."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            found = self.lookup_terms(missing)
            for t in missing:
                self._df_cache[t] = found.get(t)
        return {t: v for t in terms if (v := self._df_cache.get(t)) is not None}

    def _buckets(self, terms: list[str]) -> list[int]:
        # pure-Python XXH64 with verified bit-parity to the write path's
        # bucket_col (tests/test_bucket_hash.py): bucket ids become
        # plan-time literals -> static partition pruning, no Spark job
        from esbulk_spark.functions.xxhash import term_bucket

        n = self.stats["n_buckets"]
        return sorted({term_bucket(t, n) for t in terms})

    def _pruned_postings(self, terms: list[str]) -> DataFrame:
        """Spark scan of ``terms``' postings for the distributed plans;
        driver-side reads use read_postings."""
        return self.postings().filter(
            F.col("bucket").isin(self._buckets(terms)) & F.col("term").isin(terms)
        )

    # ---- search ----

    @contextmanager
    def interactive(self):
        """Interactive-query mode: AQE off for the duration.

        AQE's stage-by-stage re-plan (great for multi-GB build shuffles)
        adds ~2x wall time to sub-second search jobs — it materializes
        each exchange before planning the next stage AND coalesces the
        tiny scorer shuffle down to fewer tasks than there are shards.
        Measured on a 200k-doc index (32 cores): p50 1.7s -> 0.94s. At
        small scale it is the other way round: on a 5k-doc, one-shard
        index (4-core VM, local[4], 32 shuffle partitions) a 20-query
        search_many took 275 ms with AQE and 735 ms without it, because
        AQE coalesces the 32 scorer partitions into a few tasks. Measure
        before using it around latency-sensitive distributed calls."""
        key = "spark.sql.adaptive.enabled"
        prev = self.spark.conf.get(key)
        self.spark.conf.set(key, "false")
        try:
            yield self
        finally:
            self.spark.conf.set(key, prev)

    def _per_shard_scores(
        self, analyzed: dict[str, list[str]], k: int, prune: bool
    ) -> DataFrame | None:
        """(qid, doc_id, score) per-shard top-k candidates — the shared
        scoring plan: bucket+term-pruned postings scan, broadcast (qid,
        term) pairs + dictionary df, per-(qid, shard) block-max scorer."""
        all_terms = sorted({t for ts in analyzed.values() for t in ts})
        if not all_terms:
            return None
        # per-term df is query METADATA (<= |terms| ints): resolve it
        # driver-side through the memoized cache and inline the values
        # as literals. No Spark job, cold or warm — vs a dictionary
        # broadcast join, whose broadcast-build job ran on every search.
        dfs = self._dfs_cached(all_terms)
        if not dfs:
            return None
        present = sorted(dfs)
        posts = self._pruned_postings(present).select(*_SCORED_COLS)
        if len(analyzed) == 1:
            # single query: qid and the df map are literals — no joins;
            # the broadcast below costs one Spark job of its own
            qid = next(iter(analyzed))
            dfmap = F.create_map(
                *[F.lit(x) for t in present for x in (t, dfs[t])]
            )
            tagged = posts.withColumn("qid", F.lit(qid)).withColumn(
                "df", F.element_at(dfmap, F.col("term"))
            )
        else:
            # (qid, term, df) triples: tiny, ONE broadcast onto the
            # pruned postings scan. Broadcasting even a local relation
            # runs one Spark job (the exchange collects its child
            # through a job), which the single-query branch avoids
            pairs = self._local_df(
                [
                    (qid, t, dfs[t])
                    for qid, ts in analyzed.items()
                    for t in ts
                    if t in dfs
                ],
                "qid string, term string, df long",
            )
            tagged = posts.join(F.broadcast(pairs), "term")
        scorer = make_group_scorer(
            self.n_docs,
            k,
            self.stats["k1"],
            self.stats["b"],
            self.stats["avgdl"],
            self.stats["block_size"],
            prune=prune,
            dense_max=self.dense_max,
            exclude_bc=self._deleted_bc(),
            bound_scale=self.bound_scale,
        )
        return tagged.groupBy("qid", "shard").applyInArrow(scorer, RESULT_SCHEMA)

    def _shard_candidates(
        self, analyzed: dict[str, list[str]], k: int, prune: bool
    ) -> list[tuple[str, int, int, float]]:
        """(qid, shard, doc_id, score) per-(qid, shard) top-k of the
        distributed scorer, collected to the driver: at most
        len(analyzed) * n_shards * k rows, which _merge_topk merges."""
        per_shard = self._per_shard_scores(analyzed, k, prune)
        if per_shard is None:
            return []
        return [
            (r.qid, r.shard, r.doc_id, r.score) for r in per_shard.collect()
        ]

    def search_many(
        self,
        queries: dict[str, str],
        k: int = 10,
        prune: bool = True,
        round_to: int | None = None,
    ) -> DataFrame:
        """Batch top-k -> (qid, doc_id, score): per-qid top-k, ordered by
        qid, then (score desc, doc_id asc), the score rounded first when
        round_to is set.

        One distributed plan scores every query: the (qid, term, df)
        pairs broadcast onto the bucket+term-pruned postings scan and
        the block-max scorer runs per (qid, shard). Its <= n_queries *
        n_shards * k winners are collected and merged per qid on the
        driver by the same _merge_topk search_rows uses. The Spark work
        runs when search_many is called; the result is a local
        relation, so collecting it runs no further job."""
        analyzed = {qid: analyze_query(q) for qid, q in queries.items()}
        by_qid: dict[str, list[tuple[int, int, float]]] = {}
        for qid, *cand in self._shard_candidates(analyzed, k, prune):
            by_qid.setdefault(qid, []).append(tuple(cand))
        # str order is code-point order: Spark's binary string order
        return self._local_df(
            [
                (qid, d, sc)
                for qid in sorted(by_qid)
                for d, sc in self._merge_topk(by_qid[qid], k, round_to)
            ],
            "qid string, doc_id long, score double",
        )

    # single-query driver-scoring gate: when the query's total postings
    # (known driver-side from the df cache) fit under this bound, the
    # chunk rows are read on the driver (read_postings: pyarrow over the
    # terms' bucket files, no Spark job) and scored with the same WAND
    # kernel — the ES coordinator-node role. Hot/huge queries exceed the
    # gate and take the distributed per-shard plan, so this is a latency
    # fast path, not a scale ceiling. ~2M postings ≈ 8-16 MB of blobs.
    driver_score_max: int = 2_000_000
    # forwarded to score_group: groups under this take the dense
    # decode-all kernel; None = wand.DENSE_GROUP_MAX. Tests set 0 to
    # force the WAND sweep.
    dense_max: int | None = None

    def _driver_candidates(
        self, dfs: dict[str, int], k: int, prune: bool
    ) -> list[tuple[int, int, float]]:
        """(shard, doc_id, score) per-shard top-k, scored driver-side.
        Identical math to the distributed scorer: same score_group
        kernel, same per-shard top-k contract."""
        import numpy as np

        from esbulk_spark.functions.codec import ChunkRows
        # looked up per call, so a wrapped score_group is the one called
        from esbulk_spark.plans.wand import score_group

        t = self.read_postings(sorted(dfs), list(_SCORED_COLS))
        if not t.num_rows:
            return []
        chunks = ChunkRows.from_arrow(t)
        chunks.cols["df"] = np.array(
            [dfs[x] for x in chunks.cols["term"]], dtype=np.int64)
        shard_col = chunks["shard"]
        order = np.argsort(shard_col, kind="stable")
        firsts = np.flatnonzero(np.diff(shard_col[order], prepend=-1))
        s = self.stats
        out: list[tuple[int, int, float]] = []
        for idx in np.split(order, firsts[1:]):
            ids, scores = score_group(
                chunks.take(idx), self.n_docs, k, s["k1"], s["b"], s["avgdl"],
                s["block_size"], prune, dense_max=self.dense_max,
                exclude=self._deleted_arr(), bound_scale=self.bound_scale,
            )
            shard = int(shard_col[idx[0]])
            out.extend(
                (shard, int(d), float(sc)) for d, sc in zip(ids, scores)
            )
        return out

    def _topk_candidates(
        self, dfs: dict[str, int], k: int, prune: bool
    ) -> list[tuple[int, int, float]]:
        """(shard, doc_id, score) per-shard top-k for one disjunction over
        the resolved ``term -> df`` map — the single-query gate every
        top-k family goes through: the driver fast path when the terms'
        postings fit under driver_score_max, else the distributed
        per-shard plan, collected (<= n_shards * k rows)."""
        if not dfs:
            return []
        if sum(dfs.values()) <= self.driver_score_max:
            return self._driver_candidates(dfs, k, prune)
        return [c[1:] for c in self._shard_candidates({"q": sorted(dfs)}, k, prune)]

    @staticmethod
    def _merge_topk(
        cand: list[tuple[int, int, float]], k: int, round_to: int | None
    ) -> list[tuple[int, float]]:
        """Global top-k (doc_id, score) of per-shard candidates, merged on
        the driver: ordered by (published score desc, doc_id asc), the
        score rounded first when round_to is set — topk_deterministic's
        contract."""
        if round_to is not None:
            merged = [(d, round(sc, round_to)) for _, d, sc in cand]
        else:
            merged = [(d, sc) for _, d, sc in cand]
        merged.sort(key=lambda t: (-t[1], t[0]))
        return [(int(d), float(sc)) for d, sc in merged[:k]]

    def search_rows(
        self,
        query: str,
        k: int = 10,
        prune: bool = True,
        round_to: int | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k as driver-side (doc_id, score) rows — the SERVING path
        (what an ES client gets back as JSON): no result DataFrame is
        materialized. Small queries run no Spark job at all (driver-side
        dictionary and postings reads, driver scoring); larger ones run
        the distributed per-shard plan. The global merge is on the
        driver. search_response builds on the same candidates."""
        dfs = self._dfs_cached(analyze_query(query))
        return self._merge_topk(self._topk_candidates(dfs, k, prune), k, round_to)

    def _local_df(self, rows: list[tuple], schema: str) -> DataFrame:
        """``rows`` under the DDL ``schema`` as an Arrow-backed local
        relation. The rows live in the plan, so collecting it runs no
        Spark job (broadcasting it runs one); a Python list would be
        parallelized into an RDD that costs a job at every use. Every
        DataFrame the reader builds from driver-side rows comes from
        here."""
        import pyarrow as pa

        names, types = zip(*(f.split() for f in schema.split(",")))
        cols = list(zip(*rows)) if rows else [()] * len(names)
        return self.spark.createDataFrame(pa.table(
            [pa.array(c, pa.type_for_alias(_ARROW_TYPES[t]))
             for c, t in zip(cols, types)],
            names=list(names),
        ))

    def _rows_df(self, rows: list[tuple[int, float]]) -> DataFrame:
        return self._local_df(rows, "doc_id long, score double")

    def search(
        self,
        query: str,
        k: int = 10,
        prune: bool = True,
        round_to: int | None = None,
    ) -> DataFrame:
        """Single-query top-k -> (doc_id, score) DataFrame (compose it
        into further Spark plans; for serving latency use search_rows).

        The rows are search_rows' at every size: the driver gate scores
        small queries on the driver and sends larger ones through the
        distributed per-shard plan, then the <= n_shards * k candidates
        merge on the driver and only the result DataFrame is Spark's.
        The ordering key is the ROUNDED score when round_to is set — the
        same contract as the full-scan and DuckDB oracles."""
        return self._rows_df(self.search_rows(query, k, prune, round_to))

    def search_response(
        self,
        query: str,
        k: int = 10,
        prune: bool = True,
        round_to: int | None = None,
        with_source: bool = True,
        track_total_hits: bool = False,
        highlight: str | None = None,
        highlight_window: int = 60,
        es_version: int = 7,
        aggs: dict | None = None,
    ) -> dict:
        """ES-shaped search response — the full field set the reference's
        response models consume (run_test.go:416-465, SearchResponse6/7:
        ``took``, ``timed_out``, ``_shards`` {total, successful, skipped,
        failed}, ``hits.total``, ``hits.max_score``, per-hit ``_id`` /
        ``_index`` / ``_type`` / ``_score`` / ``_source``).

        The global top-k merge happens DRIVER-side over the collected
        per-shard candidates (<= n_shards*k tiny rows) — exactly the ES
        coordinator-node role — which is what makes per-shard stats
        observable: ``_shards.skipped`` counts shards the pruned postings
        scan never touched (no postings for any query term there), so
        WAND/bucket pruning is user-visible.

        ``track_total_hits``: like ES's flag — the true total (docs
        matching >= 1 term, ``count``) costs extra Spark jobs, so it is
        opt-in; otherwise total reports the returned hit count.

        ``highlight``: name of a ``_source`` field to highlight (ES's
        highlighter analog): per hit, a snippet of ±highlight_window
        chars around the first match with every query-term occurrence
        wrapped in <em>..</em>. Pure driver-side work on <= k source
        strings; requires ``with_source`` and a content-storing index.

        ``es_version``: the reference's integration matrix runs ES
        5.6.16 / 6.8.14 / 7.17.7 / 8.6.0 (run_test.go:218-248); all
        four are accepted. 7 (default) and 8 emit the nested ES7+
        total (``hits.total = {value, relation}``, SearchResponse7 in
        run_test.go:441-465); 5 and 6 emit the flat pre-ES7 shape
        (``hits.total = <int>``, SearchResponse6 in run_test.go:416-439).
        Version-specific trims on public ES behavior: 5 omits
        ``_shards.skipped`` (added in 6.x), 8 omits per-hit ``_type``
        (mapping types removed in 8).

        ``aggs``: ES-request-shaped terms aggregations, e.g.
        ``{"by_lang": {"terms": {"field": "lang", "size": 10}}}`` —
        each runs search_aggs_terms over the FULL match set and lands
        under ``response["aggregations"][name]["buckets"]`` as
        ``{key, doc_count}`` rows in ES bucket order."""
        import time as _time

        if es_version not in (5, 6, 7, 8):
            raise ValueError(
                f"es_version must be 5, 6, 7 or 8 (the reference's "
                f"integration matrix), got {es_version!r}"
            )
        t0 = _time.monotonic()
        n_shards_total = int(self.stats.get("n_shards", 0))
        cand = self._topk_candidates(
            self._dfs_cached(analyze_query(query)), k, prune
        )
        shards_seen = {sh for sh, _, _ in cand}
        index_name = os.path.basename(os.path.normpath(self.index_dir))
        hits = [
            {
                "_index": index_name,
                "_type": "_doc",
                "_id": doc_id,
                "_score": score,
            }
            for doc_id, score in self._merge_topk(cand, k, round_to)
        ]
        if es_version >= 8:  # ES8 removed mapping types from responses
            for h in hits:
                del h["_type"]
        if with_source and hits:
            ids = [h["_id"] for h in hits]
            src = {
                r["doc_id"]: r.asDict()
                for r in self.docs().filter(F.col("doc_id").isin(ids)).collect()
            }
            for h in hits:
                h["_source"] = self._source_fields(dict(src.get(h["_id"], {})))
            if highlight is not None:
                import re as _re

                terms = analyze_query(query)
                # match the ANALYZED terms as standalone words OR as
                # camel/snake pieces inside identifiers (the analyzer
                # splits those), longest term first so nested pieces
                # don't clip longer matches
                pat = _re.compile(
                    "|".join(
                        _re.escape(t)
                        for t in sorted(terms, key=len, reverse=True)
                    ),
                    _re.IGNORECASE,
                )
                for h in hits:
                    text = h["_source"].get(highlight)
                    if not isinstance(text, str):
                        continue
                    m = pat.search(text)
                    if not m:
                        continue
                    lo = max(0, m.start() - highlight_window)
                    hi = min(len(text), m.end() + highlight_window)
                    frag = pat.sub(lambda g: f"<em>{g.group(0)}</em>", text[lo:hi])
                    h["highlight"] = {highlight: [frag]}
        total = self.count(query) if track_total_hits else len(hits)
        if es_version >= 7:
            total_field = {
                "value": int(total),
                "relation": "eq" if track_total_hits or total < k else "gte",
            }
        else:  # pre-ES7 clients expect a bare number
            total_field = int(total)
        shards = {
            "total": n_shards_total,
            "successful": len(shards_seen),
            "skipped": max(0, n_shards_total - len(shards_seen)),
            "failed": 0,
        }
        if es_version == 5:  # _shards.skipped arrived in 6.x
            del shards["skipped"]
        resp = {
            "took": int((_time.monotonic() - t0) * 1000),
            "timed_out": False,
            "_shards": shards,
            "hits": {
                "total": total_field,
                "max_score": float(hits[0]["_score"]) if hits else None,
                "hits": hits,
            },
        }
        if aggs:
            out_aggs = {}
            for name, spec in aggs.items():
                t = spec.get("terms") if isinstance(spec, dict) else None
                if not t or "field" not in t:
                    raise ValueError(
                        f"unsupported aggregation spec for {name!r}: only "
                        f'{{"terms": {{"field": ..., "size": ...}}}} is implemented'
                    )
                buckets = self.search_aggs_terms(
                    query, t["field"], agg_size=int(t.get("size", 10))
                ).collect()
                out_aggs[name] = {
                    "buckets": [
                        {"key": r["key"], "doc_count": int(r["doc_count"])}
                        for r in buckets
                    ]
                }
            resp["aggregations"] = out_aggs
        return resp

    def expand_prefix(self, prefix: str, max_expansions: int = 50) -> dict[str, int]:
        """ES prefix/term-expansion: dictionary terms starting with
        ``prefix`` -> df, capped at ``max_expansions`` in term order
        (ES's index-order cap made deterministic). The dictionary scan
        cannot bucket-prune (buckets are hash-based, prefixes are
        ranges) but touches ONLY the dictionary — term-level metadata,
        1000x smaller than postings; a 10^9-term deployment would add a
        sorted term-range table for this scan, changing nothing
        downstream. Results land in the df cache so the scoring plan
        prunes postings exactly like an explicit multi-term query."""
        prefix = prefix.strip().lower()
        if not prefix:
            return {}
        return self._expand_terms(
            F.col("term").startswith(prefix), max_expansions
        )

    def _expand_terms(self, cond, max_expansions: int) -> dict[str, int]:
        """Multi-term query expansion core: dictionary terms matching
        ``cond`` -> df, capped at ``max_expansions`` in term order (ES's
        index-order cap made deterministic). Touches ONLY the dictionary
        — term-level metadata, orders of magnitude smaller than postings
        — and lands results in the df cache so the scoring plan prunes
        postings exactly like an explicit multi-term query."""
        rows = self._expansion_df(cond, max_expansions).collect()
        out = {r["term"]: int(r["df"]) for r in rows}
        self._df_cache.update(out)
        return out

    def _expansion_df(self, cond, max_expansions: int) -> DataFrame:
        """The expansion scan as a DataFrame — split out so plan tests
        can assert it touches ONLY the dictionary relation."""
        return (
            self.dictionary()
            .filter(cond)
            .select("term", "df")
            .orderBy("term")
            .limit(max_expansions)
        )

    def _fuzzy_cond(self, term: str, n_edits: int, prefix_length: int):
        """Shared fuzzy candidate predicate (expand_fuzzy + the term
        suggester): length band, optional exact-prefix guard, JVM-side
        Levenshtein — one definition so the two callers cannot
        diverge."""
        cond = F.length("term").between(len(term) - n_edits, len(term) + n_edits)
        if prefix_length > 0:
            cond &= F.col("term").startswith(term[:prefix_length])
        return cond & (F.levenshtein(F.col("term"), F.lit(term)) <= n_edits)

    def expand_fuzzy(
        self,
        term: str,
        fuzziness: int | str = "AUTO",
        max_expansions: int = 50,
        prefix_length: int = 0,
    ) -> dict[str, int]:
        """ES ``fuzzy``-query term expansion: dictionary terms within
        ``fuzziness`` Levenshtein edits of ``term`` (AUTO = ES's ladder:
        0 edits for length 0-2, 1 for 3-5, 2 above — public ES docs).
        The edit-distance filter is JVM-side (``F.levenshtein``) over
        the dictionary scan, pre-pruned by the length band |len(t) -
        len(term)| <= n and the ES ``prefix_length`` exact-prefix guard
        — Lucene prunes the same scan with a Levenshtein automaton over
        its FST; the length band is the relational equivalent and the
        distance call runs distributed, never on the driver."""
        term = term.strip().lower()
        if not term:
            return {}
        n = fuzziness_edits(term, fuzziness)
        return self._expand_terms(
            self._fuzzy_cond(term, n, prefix_length), max_expansions
        )

    def search_fuzzy(
        self,
        term: str,
        k: int = 10,
        fuzziness: int | str = "AUTO",
        max_expansions: int = 50,
        prefix_length: int = 0,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``fuzzy`` query analog: expand_fuzzy, then score the
        expanded terms as a BM25 disjunction with per-term idf (ES
        ``rewrite: scoring_boolean`` semantics, deterministic — the
        default top_terms_blended_freqs rewrite blends dfs across
        expansions, trading determinism for score smoothing)."""
        dfs = self.expand_fuzzy(term, fuzziness, max_expansions, prefix_length)
        return self._search_expanded(dfs, k, round_to)

    def expand_wildcard(
        self, pattern: str, max_expansions: int = 50
    ) -> dict[str, int]:
        """ES ``wildcard``-query term expansion: dictionary terms
        matching the pattern (``*`` = any run, ``?`` = one char),
        translated to a SQL LIKE and pushed into the dictionary scan.
        A leading ``*`` forces a full dictionary pass (same caveat ES
        documents); anything else narrows via the parquet term-column
        statistics."""
        pattern = pattern.strip().lower()
        if not pattern:
            return {}
        return self._expand_terms(
            F.col("term").like(wildcard_to_like(pattern)), max_expansions
        )

    def search_wildcard(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``wildcard`` query analog: expand_wildcard, then BM25
        disjunction over the expansions (``rewrite: scoring_boolean``,
        as search_prefix/search_fuzzy)."""
        dfs = self.expand_wildcard(pattern, max_expansions)
        return self._search_expanded(dfs, k, round_to)

    def expand_regexp(
        self, pattern: str, max_expansions: int = 50
    ) -> dict[str, int]:
        """ES ``regexp``-query term expansion: dictionary terms the
        pattern matches IN FULL (Lucene regexp queries are anchored —
        the pattern must consume the whole term, never a substring), so
        the pattern is wrapped ``^(?:...)$`` and evaluated JVM-side with
        RLIKE over the dictionary scan. Accepts Java regex syntax
        (Lucene's handful of extra operators — ``~`` complement,
        ``<n-m>`` intervals — are not implemented; ES turns most of
        them off by default via regexp flags anyway). Like ES, a
        pattern with no literal prefix forces a full dictionary pass —
        still term-level metadata, orders of magnitude smaller than
        postings."""
        pattern = pattern.strip().lower()
        if not pattern:
            return {}
        return self._expand_terms(
            F.col("term").rlike(f"^(?:{pattern})$"), max_expansions
        )

    def search_regexp(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``regexp`` query analog: expand_regexp, then BM25
        disjunction over the expansions (``rewrite: scoring_boolean``,
        deterministic, as the other multi-term queries)."""
        dfs = self.expand_regexp(pattern, max_expansions)
        return self._search_expanded(dfs, k, round_to)

    def _search_expanded(
        self, dfs: dict[str, int], k: int, round_to: int | None
    ) -> DataFrame:
        """Score an expansion result as a multi-term disjunction through
        the single-query gate every top-k family uses; postings of
        non-matching terms are never read."""
        return self._rows_df(
            self._merge_topk(self._topk_candidates(dfs, k, True), k, round_to)
        )

    def search_prefix(
        self,
        prefix: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``prefix`` query analog: expand the prefix against the
        dictionary (expand_prefix), then score the expanded terms as a
        disjunction with standard per-term BM25 idf — the same pruned
        scan + per-shard scorer every multi-term query uses, so postings
        of non-matching terms are never read."""
        dfs = self.expand_prefix(prefix, max_expansions)
        return self._search_expanded(dfs, k, round_to)

    def expand_stem(self, token: str, max_expansions: int = 50) -> dict[str, int]:
        """Stemming as QUERY-TIME dictionary expansion: every dictionary
        term whose S-stem equals the query token's S-stem -> df, capped
        in term order. Stemming at query time over the (tiny) dictionary
        is the scale-correct design for an existing index — semantics of
        a stemmed field with zero reindex of the corpus; a greenfield
        100 TB deployment could still bake stems in at build time."""
        from esbulk_spark.functions.analyzer import stem_s, stem_s_col

        target = stem_s(token.strip().lower())
        if not target:
            return {}
        return self._expand_terms(
            stem_s_col(F.col("term")) == F.lit(target), max_expansions
        )

    def search_stemmed(
        self, query: str, k: int = 10, round_to: int | None = None,
        max_expansions: int = 50,
    ) -> DataFrame:
        """ES stemmed-match analog (analyzer with an S-stemmer filter):
        each analyzed query token expands to its stem-equivalence class
        via expand_stem, and the union scores as a BM25 disjunction with
        per-term idfs (scoring_boolean rewrite) over the same pruned
        postings scan every multi-term query uses."""
        dfs: dict[str, int] = {}
        for t in analyze_query(query):
            dfs.update(self.expand_stem(t, max_expansions))
        return self._search_expanded(dfs, k, round_to)

    def search_synonyms(
        self,
        query: str,
        synonyms: dict[str, list[str]],
        k: int = 10,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES query-time synonym expansion (`synonym` token filter in
        the search analyzer): each analyzed query token expands to
        itself + its mapped synonyms (themselves analyzed; duplicates
        dropped), then the expanded set scores as the plain BM25
        disjunction with each term's own idf — ES's scoring_boolean
        rewrite of synonym expansion. The synonym map is a driver-side
        dict (ES: index-settings resource); expansion adds zero jobs."""
        expanded: list[str] = []
        for t in analyze_query(query):
            for cand in (t, *(x for s in synonyms.get(t, ())
                              for x in tokenize_text(s))):
                if cand not in expanded:
                    expanded.append(cand)
        if not expanded:
            return self._rows_df([])
        return self.search(" ".join(expanded), k=k, round_to=round_to)

    # ---- positional families: one positions scan, one slot core ----

    def _positions(self, terms: list[str], family: str) -> DataFrame:
        """The bucket+term-pruned positions scan of ``terms`` — every
        positional family reads positions through here, and only here
        checks that the index has them."""
        if not self.has_positions():
            raise ValueError(
                f"{family} needs a positions table: this index was built "
                "without store_positions (rebuild with "
                "IndexConfig(store_positions=True) / `cli index "
                "--store-positions`)"
            )
        uniq = sorted(set(terms))
        return self._table("positions").filter(
            F.col("bucket").isin(self._buckets(uniq)) & F.col("term").isin(uniq)
        )

    def _all_dfs(self, terms: list[str]) -> dict[str, int] | None:
        """term -> df for every distinct slot term, or None when one is
        absent from the corpus (an absent slot term matches nothing)."""
        dfs = self._dfs_cached(sorted(set(terms)))
        return dfs if len(dfs) == len(set(terms)) else None

    def _idf_sum(self, terms: list[str], dfs: dict[str, int]) -> float:
        return float(sum(idf_fn(dfs[t], self.n_docs) for t in terms))

    def _no_match(self, freq_col: str) -> DataFrame:
        return self._local_df([], f"doc_id long, {freq_col} int, score double")

    @staticmethod
    def _join_slots(
        pruned: DataFrame, terms: list[str], dfs: dict[str, int],
        last: DataFrame | None = None,
    ) -> DataFrame:
        """(doc_id, p0..): slot i's position list as column p{i}, slots
        inner-joined on doc_id RAREST TERM FIRST (phrase_join_order), so
        the chain's intermediate cardinality is bounded by the rarest
        term's posting set and docs missing any slot drop out. ``last``
        is an extra, already-shaped slot joined at the end. Join order
        is invisible to the slot math, which addresses slots by index."""
        base = None
        for i in phrase_join_order(terms, dfs):
            p_i = pruned.filter(F.col("term") == terms[i]).select(
                "doc_id", F.col("positions").alias(f"p{i}")
            )
            base = p_i if base is None else base.join(p_i, "doc_id")
        if last is not None:
            base = last if base is None else base.join(last, "doc_id")
        return base

    @staticmethod
    def _phrase_freq(n_slots: int):
        """Exact-phrase frequency of slots p0..p{n-1}, pure Catalyst:
        S_1 = p0, S_{i+1} = intersect(S_i + 1, p_i); |S_n| is the number
        of phrase occurrences."""
        s = F.col("p0")
        for i in range(1, n_slots):
            s = F.array_intersect(F.transform(s, lambda x: x + 1), F.col(f"p{i}"))
        return F.size(s)

    def _score_phrase_cand(
        self, cand: DataFrame, sum_idf: float, freq_col: str = "phrase_freq"
    ) -> DataFrame:
        """BM25 over a (doc_id, freq) candidate set with tf = freq and
        idf = ``sum_idf`` (the slots' summed idfs) — the shared scoring
        tail of every positional family (Lucene PhraseQuery scoring,
        public). Rows with freq 0 are not matches."""
        st = self.stats
        k1, b, avgdl = st["k1"], st["b"], st["avgdl"]
        tf = F.col(freq_col).cast("double")
        tfn = (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
        )
        # _live: soft-deleted docs never surface as phrase matches
        return self._live(cand.filter(F.col(freq_col) > 0)).join(
            self.norms().select("doc_id", "dl"), "doc_id"
        ).select("doc_id", freq_col, (F.lit(sum_idf) * tfn).alias("score"))

    def search_phrase(
        self, query: str, k: int = 10, round_to: int | None = None
    ) -> DataFrame:
        """Phrase (match_phrase) top-k over the opt-in positions table
        (cfg.store_positions): docs whose ANALYZED token stream contains
        the query's analyzed tokens consecutively.
        -> (doc_id, phrase_freq, score).

        One Spark plan: the bucket+term-pruned positions scan, the slot
        tables joined on doc_id rarest term first (at 10^12 docs the
        join keys are the rarest term's posting set, not the corpus),
        and the shifted array_intersect chain whose size IS the phrase
        frequency. Scoring follows Lucene's PhraseQuery (public): BM25
        with tf = phrase_freq and idf = sum of per-slot idfs. Pruning
        candidates by a postings-only bound before reading positions was
        measured slower at every tested scale, because position blobs
        are per (term, bucket) chunk and a doc-id filter skips no I/O
        (BENCH.md 'Phrase candidate pruning')."""
        return topk_deterministic(self._phrase_scores(query), k, round_to)

    def search_phrase_sloppy(
        self, query: str, slop: int, k: int = 10, round_to: int | None = None
    ) -> DataFrame:
        """match_phrase with ``slop``: docs where the query's analyzed
        tokens appear in order with total positional displacement
        <= slop (sum over consecutive slot pairs of |gap - 1|; slop=0
        is the exact phrase, a transposed pair costs 2 — the public
        Lucene edit-distance framing of sloppy matching).

        ``sloppy_freq`` counts DISTINCT starting positions that admit at
        least one valid chain. Documented divergences from Lucene's
        SloppyPhraseScorer (both consistent with the oracle): freq is a
        plain count, not Lucene's 1/(1+matchLength) weighting, and
        repeated query terms may align to the same occurrence.

        Plan: each slot's pruned positions explode to (doc_id, pos)
        rows, then a dynamic program runs down the phrase — join slot
        i on doc_id, accumulate cost, filter > slop, and collapse to
        min-cost per (doc_id, start, pos_i). After the first hash
        exchange on doc_id every join and groupBy is co-located
        (grouping keys ⊇ doc_id), so the chain adds no further
        shuffles; per-step state is bounded by |positions(slot_0)| x
        |positions(slot_i)| per doc. Scoring = BM25 with
        tf = sloppy_freq, idf = sum of slot idfs (as search_phrase)."""
        terms = tokenize_text(query)
        if terms and (len(terms) == 1 or slop <= 0):
            out = self.search_phrase(query, k=k, round_to=round_to)
            return out.withColumnRenamed("phrase_freq", "sloppy_freq")
        return topk_deterministic(self._sloppy_scores(query, slop), k, round_to)

    def _sloppy_scores(self, query: str, slop: int) -> DataFrame:
        """search_phrase_sloppy's core: unrounded, un-limited
        (doc_id, sloppy_freq, score) for every sloppy-phrase match."""
        terms = tokenize_text(query)
        dfs = self._all_dfs(terms) if terms else None
        if dfs is None:
            return self._no_match("sloppy_freq")
        pruned = self._positions(terms, "sloppy phrase search")

        def slot(i: int, name: str) -> DataFrame:
            return pruned.filter(F.col("term") == terms[i]).select(
                "doc_id", F.explode("positions").alias(name)
            )

        base = slot(0, "q0").select(
            "doc_id", "q0", F.col("q0").alias("prev"), F.lit(0).alias("cost")
        )
        base = base.repartition("doc_id")
        for i in range(1, len(terms)):
            base = (
                base.join(slot(i, f"q{i}"), "doc_id")
                .withColumn(
                    "cost",
                    F.col("cost") + F.abs(F.col(f"q{i}") - F.col("prev") - 1),
                )
                .filter(F.col("cost") <= slop)
                .groupBy("doc_id", "q0", f"q{i}")
                .agg(F.min("cost").alias("cost"))
                .withColumn("prev", F.col(f"q{i}"))
            )
        cand = base.groupBy("doc_id").agg(
            F.count_distinct("q0").cast("int").alias("sloppy_freq")
        )
        return self._score_phrase_cand(
            cand, self._idf_sum(terms, dfs), "sloppy_freq"
        )

    def search_span_near(
        self,
        terms: list[str] | tuple,
        slop: int = 0,
        in_order: bool = False,
        k: int = 10,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``span_near`` analog over the positions table: docs where
        one occurrence of EVERY clause term fits in a window of width
        <= len(terms) + slop (Lucene's matchWidth - clauses <= slop for
        single-term spans); ``in_order`` additionally requires a
        strictly ascending chain. Returns (doc_id, span_freq, score).

        span_freq counts DISTINCT window minima: unordered, a minimum m
        (drawn from the union of clause positions) is valid iff every
        clause has an occurrence in [m, m + len(terms) + slop - 1]
        (choosing those occurrences realizes an assignment with
        min == m); in-order, m ranges over the first clause's positions
        and the chain must ascend within the same window. Documented
        divergence from Lucene's SpanScorer, mirrored exactly in the
        DuckDB oracle: freq is a plain match count, not the
        1/(1 + matchLength) weighting, and repeated clause terms may
        align to the same occurrence.

        Plan: the shared slot core — per-clause positions joined on
        doc_id rarest-first (only docs containing ALL clauses survive,
        the same candidate shape as search_phrase); the window test
        runs JVM-side as nested array HOFs — no Python, no explode.
        Scoring = BM25 with tf = span_freq, idf = sum of clause idfs
        (the shared phrase tail)."""
        terms = [t for q in terms for t in analyze_query(q)]
        if len(terms) < 2:
            raise ValueError("span_near needs >= 2 clause terms")
        dfs = self._all_dfs(terms)
        if dfs is None:
            return self._no_match("span_freq")
        base = self._join_slots(self._positions(terms, "span_near"), terms, dfs)
        n = len(terms)
        w = n + slop  # max window width (max - min + 1)
        arrs = [F.col(f"p{i}") for i in range(n)]
        if in_order:
            def chain(j, prev, m):
                if j == n:
                    return F.lit(True)
                return F.exists(
                    arrs[j],
                    # single-param lambda: Spark derives HOF arity from the
                    # signature; j binds per recursion frame, no loop capture
                    lambda x: (x > prev) & (x <= m + w - 1) & chain(j + 1, x, m),
                )

            freq = F.size(F.filter(arrs[0], lambda m: chain(1, m, m)))
        else:
            union = arrs[0]
            for a in arrs[1:]:
                union = F.array_union(union, a)

            def covers(m):
                cond = F.lit(True)
                for j in range(n):
                    cond = cond & F.exists(
                        arrs[j], lambda x: (x >= m) & (x <= m + w - 1)
                    )
                return cond

            freq = F.size(F.filter(union, covers))
        cand = base.select("doc_id", freq.alias("span_freq"))
        out = self._score_phrase_cand(cand, self._idf_sum(terms, dfs), "span_freq")
        return topk_deterministic(out, k, round_to)

    def search_span_first(
        self, term: str, end: int, k: int = 10, round_to: int | None = None
    ) -> DataFrame:
        """ES ``span_first`` analog: occurrences of ``term`` whose span
        ends at or before position ``end`` in the analyzed stream (a
        0-based occurrence p is a single-term span with end p + 1, so
        p + 1 <= end matches — Lucene SpanFirstQuery). span_freq counts
        the matching occurrences; score = BM25 with tf = span_freq."""
        toks = analyze_query(term)
        if len(toks) != 1:
            raise ValueError(f"span_first takes one clause term, got {toks!r}")
        dfs = self._all_dfs(toks)
        if dfs is None:
            return self._no_match("span_freq")
        cand = self._positions(toks, "span_first").select(
            "doc_id",
            F.size(
                F.filter(F.col("positions"), lambda p: p + 1 <= F.lit(end))
            ).alias("span_freq"),
        )
        out = self._score_phrase_cand(cand, self._idf_sum(toks, dfs), "span_freq")
        return topk_deterministic(out, k, round_to)

    def _phrase_scores(self, query: str, doc_ids: list[int] | None = None) -> DataFrame:
        """search_phrase's core: unrounded, un-limited (doc_id,
        phrase_freq, score) for every phrase match — optionally
        restricted to ``doc_ids`` (a small candidate set, e.g. a rescore
        window: the id IN-list pushes into every slot's positions scan,
        so only the candidates' position lists are ever joined)."""
        terms = tokenize_text(query)  # ORDERED, duplicates kept
        # a term absent from the corpus kills the phrase
        dfs = self._all_dfs(terms) if terms else None
        if dfs is None:
            return self._no_match("phrase_freq")
        pruned = self._positions(terms, "phrase search")
        if doc_ids is not None:
            ids = [int(i) for i in doc_ids]
            if not ids:
                return self._no_match("phrase_freq")
            pruned = pruned.filter(F.col("doc_id").isin(ids))
        cand = self._join_slots(pruned, terms, dfs).select(
            "doc_id", self._phrase_freq(len(terms)).alias("phrase_freq")
        )
        return self._score_phrase_cand(cand, self._idf_sum(terms, dfs))

    def rescore_phrase(
        self,
        query: str,
        rescore_query: str,
        k: int = 10,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``rescore`` (score_mode=total): take the top
        ``window_size`` match-query hits, run the more expensive phrase
        scorer ONLY over that window, and re-rank by query_weight *
        original + rescore_weight * phrase score (window docs without
        the phrase keep their weighted original — ES semantics). The
        window ids inline as an IN-list literal into the positions
        scan, so the second pass touches window_size documents' position
        lists, never the corpus — exactly the two-phase cost model ES
        rescoring exists for. With ``k > window_size``, hits past the
        window keep their ORIGINAL unweighted score (ES backfill
        semantics). Both passes publish rounded scores when ``round_to``
        is set, so the window cut and the final order are cross-engine
        stable. The first pass runs ONCE: its driver-side top rows
        become a local DataFrame instead of re-executing the scoring
        plan."""
        rows = self.search_rows(query, k=max(k, window_size), round_to=round_to)
        if not rows:
            return self._rows_df([])
        win_rows = rows[:window_size]
        win = self._rows_df(win_rows)
        ph = self._phrase_scores(
            rescore_query, doc_ids=[d for d, _ in win_rows]
        ).select("doc_id", F.col("score").alias("__ph"))
        if round_to is not None:
            ph = ph.withColumn("__ph", F.round("__ph", round_to))
        combined = (
            win.join(ph, "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.col("score") * float(query_weight)
                    + F.coalesce(F.col("__ph"), F.lit(0.0))
                    * float(rescore_weight)
                ).alias("score"),
            )
        )
        tail = rows[window_size:]
        if tail:  # beyond-window hits: original scores, unmodified (ES)
            combined = combined.unionByName(self._rows_df(tail))
        return topk_deterministic(combined, k, round_to)

    def function_score(
        self,
        query: str,
        field: str,
        k: int = 10,
        modifier: str = "log1p",
        factor: float = 1.0,
        missing: float = 1.0,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``function_score`` with a ``field_value_factor``: multiply
        each hit's BM25 score by modifier(factor * doc[field]) — the
        standard recency/popularity boost. Modifiers: ``none``,
        ``log1p``, ``sqrt`` (the public ES set's most-used members);
        NULL field values take ``missing``. Rows whose modifier output
        is NaN/NULL (negative inputs to sqrt/log1p — ES throws at query
        time) are DROPPED rather than silently ranked (Spark sorts NaN
        above every number in a descending sort). One column-pruned
        docs join against the match set, no corpus scan."""
        mods = {
            "none": lambda c: c,
            "log1p": lambda c: F.log1p(c),
            "sqrt": lambda c: F.sqrt(c),
        }
        if modifier not in mods:
            raise ValueError(f"modifier must be one of {sorted(mods)}: {modifier}")
        scored = self.score_all(query)
        val = F.coalesce(
            F.col(field).cast("double"), F.lit(float(missing))
        ) * float(factor)
        boost = mods[modifier](val)
        out = (
            scored.join(self.docs().select("doc_id", field), "doc_id")
            .select("doc_id", (F.col("score") * boost).alias("score"))
            .filter(F.col("score").isNotNull() & ~F.isnan("score"))
        )
        return topk_deterministic(out, k, round_to)

    def search_constant_score(
        self, query: str, boost: float = 1.0, k: int = 10
    ) -> DataFrame:
        """ES ``constant_score``: filter-context matching — every doc
        containing ANY query term scores exactly ``boost`` (no BM25, no
        tf/idf work beyond the pruned postings scan); ties order by
        doc_id, the ES `_doc` tie-break."""
        scored = self.score_all(query)
        return (
            scored.select(
                "doc_id", F.lit(float(boost)).alias("score")
            )
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_random_score(
        self,
        query: str,
        seed: str | int = 0,
        k: int = 10,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``function_score`` with ``random_score`` (seed + the doc-id
        field, boost_mode multiply): each hit's BM25 multiplies a
        DETERMINISTIC uniform in [0,1) keyed on hash(seed:doc_id) — the
        reproducible-shuffle ES uses for result diversification /
        sampling. Same permanent-random-number construction as the
        mixture sampler (operators/mixing.py), so reruns and different
        partitionings rank identically."""
        from esbulk_spark.operators.dedup import md5_int

        scored = self.score_all(query)
        u = (
            F.pmod(
                md5_int(
                    F.concat(
                        F.lit(f"{seed}:"), F.col("doc_id").cast("string")
                    )
                ),
                F.lit(1_000_000),
            )
            / 1_000_000.0
        )
        out = scored.select("doc_id", (F.col("score") * u).alias("score"))
        return topk_deterministic(out, k, round_to)

    def _seed_doc_ids(self, dfs: dict[str, int]):
        """Sorted np.int64 doc ids of the rarest term in ``dfs`` (the
        match core's must terms), read and decoded on the driver, or None
        when the seed cannot pay off: the rarest term's postings exceed
        driver_score_max, the reader's one bound on what the driver reads
        for a query, or it keeps more than half the corpus and so prunes
        almost nothing downstream (BENCH.md 'Conjunctive/bool seed-prune')."""
        import numpy as np
        from esbulk_spark.functions.codec import ChunkRows, decode_rows

        if not dfs:
            return None
        rarest = min(sorted(dfs), key=lambda t: dfs[t])
        if dfs[rarest] > self.driver_score_max or 2 * dfs[rarest] > self.n_docs:
            return None
        t = self.read_postings([rarest], ["n", "blob_ids", "blob_tfs", "blob_dls"])
        return np.unique(decode_rows(ChunkRows.from_arrow(t))[0])

    def search_phrase_prefix(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 50,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``match_phrase_prefix`` (search-as-you-type): the query's
        analyzed tokens must appear consecutively with the LAST token
        matched as a PREFIX. The last slot's position list is the union
        of the expanded terms' positions (positions are disjoint across
        terms within a doc, so the union is a sorted merge); body slots
        run through the same rarest-first slot core as search_phrase.
        Scoring: BM25 with tf = phrase_freq and idf = sum of body-slot
        idfs + idf of the expansion set (its summed dfs, clamped to
        n_docs — a deterministic dictionary-metadata bound both the
        engine and the DuckDB oracle compute identically).
        -> (doc_id, phrase_freq, score)."""
        terms = tokenize_text(query)
        if not terms:
            return self._no_match("phrase_freq")
        *body, last = terms
        exp = self.expand_prefix(last, max_expansions)
        dfs = self._all_dfs(body)
        if not exp or dfs is None:
            return self._no_match("phrase_freq")
        pruned = self._positions(body + sorted(exp), "phrase-prefix search")
        n_slots = len(body) + 1
        # last slot: per-doc union of the expansions' position lists
        p_last = (
            pruned.filter(F.col("term").isin(sorted(exp)))
            .groupBy("doc_id")
            .agg(
                F.sort_array(F.flatten(F.collect_list("positions"))).alias(
                    f"p{n_slots - 1}"
                )
            )
        )
        cand = self._join_slots(pruned, body, dfs, last=p_last).select(
            "doc_id", self._phrase_freq(n_slots).alias("phrase_freq")
        )
        df_last = min(sum(exp.values()), self.n_docs)
        # body idfs first, then the expansion's: the oracle's summation order
        sum_idf = self._idf_sum(body, dfs) + float(idf_fn(df_last, self.n_docs))
        return topk_deterministic(self._score_phrase_cand(cand, sum_idf), k, round_to)

    def _match(
        self, must=(), should=(), must_not=(), minimum_should_match: int = 0
    ) -> DataFrame | None:
        """The match core: (doc_id, score) for EVERY live doc holding all
        ``must`` terms, at least ``minimum_should_match`` distinct
        ``should`` terms and no ``must_not`` term (analyzed term lists),
        score = the BM25 sum over its must and should terms; no top-k
        cut. None when nothing can match: no scored term is in the
        corpus, a must term is absent, or more should matches are
        required than should terms exist.

        One pruned decode of the scored terms, seeded by the rarest must
        term's doc ids when at least two terms decode (docs lacking it
        can never match, so hot terms drop their other postings before
        any row reaches the aggregate); one hash aggregate, with a
        per-doc term count only for must or minimum_should_match; and
        a left-anti join against the must_not terms' own match set."""
        must, should = sorted(set(must)), sorted(set(should))
        msm = int(minimum_should_match)
        dfs = self._dfs_cached(sorted(set(must) | set(should)))
        if not dfs or any(t not in dfs for t in must) or msm > len(should):
            return None
        seed = (
            self._seed_doc_ids({t: dfs[t] for t in must}) if len(dfs) >= 2 else None
        )
        # (terms, how many of them a doc needs): only must and msm count
        counts = [(ts, n) for ts, n in ((must, len(must)), (should, msm)) if n > 0]
        rows = self._decode_to_rows(sorted(dfs), doc_filter=seed)
        out = rows.groupBy("doc_id").agg(
            F.sum("contrib").alias("score"),
            *[F.count(F.when(F.col("term").isin(ts), 1)).alias(f"n{i}")
              for i, (ts, _) in enumerate(counts)],
        )
        for i, (_, need) in enumerate(counts):
            out = out.filter(F.col(f"n{i}") >= need)
        out = out.select("doc_id", "score")
        excluded = self._match(should=must_not) if must_not else None
        if excluded is not None:
            out = out.join(excluded, "doc_id", "left_anti")
        return out

    def search_and(self, query: str, k: int = 10) -> DataFrame:
        """Conjunctive (AND) search (SURVEY.md B10): only docs containing
        ALL query terms, BM25-ranked — the match core with every term a
        must term, so the rarest term's doc set seeds the decode."""
        out = self._match(must=analyze_query(query))
        return self._rows_df([]) if out is None else topk_deterministic(out, k, None)

    def search_bool(
        self,
        must: tuple | list = (),
        should: tuple | list = (),
        must_not: tuple | list = (),
        k: int = 10,
        round_to: int | None = None,
        minimum_should_match: int = 0,
        filter: "str | None" = None,
    ) -> DataFrame:
        """ES bool-query analog: top-k docs containing ALL analyzed
        ``must`` terms and NONE of ``must_not``, BM25-scored over the
        must+should contributions (``should`` is purely additive, as in
        ES). ``filter`` is ES's non-scoring filter context: a SQL
        predicate over the STORED doc fields (e.g. ``"lang = 'en'"``)
        applied as a semi-join of the scored candidates against the
        filtered docs table — the predicate pushes into the parquet
        scan (column-pruned to doc_id + referenced fields) and never
        contributes to the score, exactly ES filter-clause semantics.
        ``minimum_should_match`` > 0 additionally requires that
        many DISTINCT should terms per doc (ES semantics: the count
        gates matching, scores still sum over every matched term).
        The match set is the match core's (``_match``)."""
        out = self._match(
            [t for q in must for t in analyze_query(q)],
            [t for q in should for t in analyze_query(q)],
            [t for q in must_not for t in analyze_query(q)],
            minimum_should_match,
        )
        if out is None:
            return self._rows_df([])
        if filter is not None:
            allowed = self.docs().filter(filter).select("doc_id")
            out = out.join(allowed, "doc_id", "left_semi")
        return topk_deterministic(out, k, round_to)

    def search_query_string(
        self,
        q: str,
        k: int = 10,
        round_to: int | None = None,
        default_operator: str = "OR",
    ) -> DataFrame:
        """ES query_string query: Lucene mini-language (AND/OR/NOT,
        +/-, "phrase"~slop, prefix*/wild?card, parentheses,
        field:term) parsed and compiled onto the pruned-postings
        search machinery — see plans/querystring.py."""
        from esbulk_spark.plans.querystring import search_query_string

        return search_query_string(
            self, q, k=k, round_to=round_to, default_operator=default_operator
        )

    def search_range(
        self,
        fld: str,
        gte=None,
        gt=None,
        lte=None,
        lt=None,
        k: int = 10,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES range query over a STORED doc column (GET /_search
        {"query": {"range": {fld: {gte/gt/lte/lt}}}}): constant-score
        1.0 per matching doc under the canonical deterministic order.
        Executes as a docs-table predicate pushed into the parquet scan
        (column-pruned to doc_id + ``fld``) — the column-store analog
        of ES's BKD-tree range visit; at cluster scale the same
        predicate prunes file/partition min-max stats."""
        from esbulk_spark.plans.querystring import Range, _filter_pred

        if gte is not None and gt is not None:
            raise ValueError("pass at most one of gte/gt")
        if lte is not None and lt is not None:
            raise ValueError("pass at most one of lte/lt")
        node = Range(
            fld,
            gte if gte is not None else gt,
            lte if lte is not None else lt,
            incl_lo=gt is None,
            incl_hi=lt is None,
        )
        out = (
            self.docs()
            .filter(_filter_pred(self, node))
            .select("doc_id", F.lit(1.0).alias("score"))
        )
        return topk_deterministic(out, k, round_to)

    def _decode_to_rows(self, terms: list[str], doc_filter=None) -> DataFrame:
        """Decode pruned postings chunks -> (term, doc_id, tf, dl,
        contrib) rows: the index-backed full-scan path, a ``mapInArrow``
        that decodes each batch with ``codec.decode_rows``.

        ``doc_filter`` (sorted np.int64 array, from _seed_doc_ids): when
        set, a batch keeps only postings whose doc_id is in the array
        BEFORE any row is built, so hot terms never ship their full
        posting set through Arrow or into the aggregation. It and the
        tombstones ride Spark broadcasts (one copy per executor)."""
        import numpy as np
        import pyarrow as pa
        from esbulk_spark.functions.codec import ChunkRows, decode_rows, tfnorm
        from esbulk_spark.plans.wand import not_in_sorted

        dfs = self._dfs_cached(terms)
        idfs = {t: float(idf_fn(d, self.n_docs)) for t, d in dfs.items()}
        k1, b, avgdl = self.stats["k1"], self.stats["b"], self.stats["avgdl"]
        bflt = (
            self.spark.sparkContext.broadcast(doc_filter)
            if doc_filter is not None
            else None
        )
        bexcl = self._deleted_bc()  # soft-delete tombstones (or None)

        def decode(batches):
            for rb in batches:
                chunks = ChunkRows.from_arrow(rb)
                ids, tfs, dls = decode_rows(chunks)
                row = np.repeat(np.arange(rb.num_rows), chunks["n"].astype(np.int64))
                keep = np.ones(ids.size, dtype=bool)
                if bflt is not None:
                    keep &= ~not_in_sorted(ids, bflt.value)
                if bexcl is not None:
                    keep &= not_in_sorted(ids, bexcl.value)
                ids, tfs, dls, row = ids[keep], tfs[keep], dls[keep], row[keep]
                term = rb.column("term")
                row_idf = np.array([idfs[t] for t in term.to_pylist()], dtype=np.float64)
                yield pa.RecordBatch.from_arrays(
                    [
                        term.take(pa.array(row)),
                        pa.array(ids),
                        pa.array(tfs.astype(np.int32)),
                        pa.array(dls.astype(np.int32)),
                        pa.array(row_idf[row] * tfnorm(tfs, dls, k1, b, avgdl)),
                    ],
                    ["term", "doc_id", "tf", "dl", "contrib"],
                )

        return (
            self._pruned_postings(list(idfs))
            .select("term", "n", "blob_ids", "blob_tfs", "blob_dls")
            .mapInArrow(
                decode, "term string, doc_id long, tf int, dl int, contrib double"
            )
        )

    def explain(self, query: str, doc_id: int) -> dict:
        """ES ``_explain`` analog: the per-term BM25 breakdown for ONE
        document — tf, dl, df, idf, and each term's contribution, plus
        the summed score and whether the doc matches at all. Reads only
        the pruned postings of the query's terms (the same decode path
        the intersection search uses)."""
        terms = analyze_query(query)
        dfs = self._dfs_cached(terms)
        details = []
        total = 0.0
        if dfs:
            rows = (
                self._decode_to_rows(sorted(dfs))
                .filter(F.col("doc_id") == doc_id)
                .collect()
            )
            for r in sorted(rows, key=lambda x: x.term):
                t_idf = float(idf_fn(dfs[r.term], self.n_docs))
                details.append(
                    {
                        "term": r.term,
                        "value": float(r.contrib),
                        "description": (
                            f"bm25(tf={int(r.tf)}, dl={int(r.dl)}, "
                            f"df={dfs[r.term]}, idf={round(t_idf, 6)}, "
                            f"k1={self.stats['k1']}, b={self.stats['b']}, "
                            f"avgdl={round(self.stats['avgdl'], 4)})"
                        ),
                    }
                )
                total += float(r.contrib)
        return {
            "_id": int(doc_id),
            "matched": bool(details),
            "explanation": {
                "value": total,
                "description": "sum of:",
                "details": details,
            },
        }

    def score_all(self, query: str, round_to: int | None = None) -> DataFrame:
        """BM25 scores for EVERY doc matching >= 1 analyzed query term
        (no top-k cut) -> (doc_id, score). The exhaustive companion to
        search(): pagination and aggregations need the full match set,
        not the k winners. It is the match core with every term a should
        term: one pruned decode of the query terms' postings + a hash
        agg — the same volume any deep ES scroll/aggregation pays."""
        out = self._match(should=analyze_query(query))
        if out is None:
            return self._rows_df([])
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        return out

    def search_similarity(
        self,
        query: str,
        sim: str = "classic",
        k: int = 10,
        mu: float = 2000.0,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES similarity-module analog (index setting ``similarity``;
        Lucene ClassicSimilarity / LMDirichletSimilarity /
        BooleanSimilarity): rank the query under a pluggable per-term
        formula instead of BM25. The reference delegates this knob to
        ES index settings; here it is a query-time choice because the
        index stores raw (tf, dl) — no re-index needed to switch.

        Exact, not WAND-pruned: the index's block-max metadata is BM25's
        tf-norm upper bound, which is not an admissible bound for other
        formulas — so this path decodes the (bucket+term-pruned)
        postings of the query terms and hash-aggregates, the same
        volume ``score_all`` pays. Per-term contribution:

          classic      sqrt(tf) * idf_c^2 / sqrt(dl),
                       idf_c = 1 + ln(n_docs / (df + 1))
          lmdirichlet  max(0, ln(1 + tf / (mu * cf / total_tokens))
                            + ln(mu / (dl + mu)))     (Lucene's >=0 clamp)
          boolean      1 per matched term (rank = how many terms hit)
        """
        if sim not in ("classic", "lmdirichlet", "boolean"):
            raise ValueError(
                f"unknown similarity {sim!r}: "
                "expected classic | lmdirichlet | boolean"
            )
        import math

        terms = analyze_query(query)
        stats = self.lookup_term_stats(sorted(set(terms)))
        if not stats:
            return self._rows_df([])
        rows = self._decode_to_rows(sorted(stats))
        n = float(self.n_docs)
        if sim == "classic":
            idfmap = F.create_map(
                *[
                    F.lit(x)
                    for t, (df, _) in sorted(stats.items())
                    for x in (t, (1.0 + math.log(n / (df + 1.0))) ** 2)
                ]
            )
            contrib = (
                F.sqrt(F.col("tf").cast("double"))
                * F.element_at(idfmap, F.col("term"))
                / F.sqrt(F.col("dl").cast("double"))
            )
        elif sim == "lmdirichlet":
            total = float(self.stats["total_tokens"])
            # mu * P(t|C) inlined per term: the collection LM denominator
            denom_map = F.create_map(
                *[
                    F.lit(x)
                    for t, (_, cf) in sorted(stats.items())
                    for x in (t, mu * cf / total)
                ]
            )
            raw = F.log(
                F.lit(1.0)
                + F.col("tf").cast("double") / F.element_at(denom_map, F.col("term"))
            ) + F.log(F.lit(mu) / (F.col("dl").cast("double") + F.lit(mu)))
            contrib = F.greatest(raw, F.lit(0.0))
        else:
            contrib = F.lit(1.0)
        out = (
            rows.withColumn("__c", contrib)
            .groupBy("doc_id")
            .agg(F.sum("__c").alias("score"))
        )
        return topk_deterministic(out, k, round_to)

    def search_page(
        self,
        query: str,
        k: int = 10,
        search_after: tuple[float, int] | None = None,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``search_after`` keyset pagination: the next ``k`` hits
        strictly after the (score, doc_id) cursor in the canonical
        (score DESC, doc_id ASC) sort — the scale-correct deep-paging
        path ES recommends over from+size (no offset scan, the
        predicate prunes before the top-k heap). The cursor compares the
        PUBLISHED sort key — (rounded score, doc_id) when ``round_to``
        is set, matching topk_deterministic's ordering — so pass the
        previous page's last row's values verbatim and pages tile the
        full ranking exactly."""
        scored = self.score_all(query, round_to=round_to)
        if search_after is not None:
            s, d = float(search_after[0]), int(search_after[1])
            scored = scored.filter(
                (F.col("score") < s)
                | ((F.col("score") == s) & (F.col("doc_id") > d))
            )
        return topk_deterministic(scored, k, None)

    def search_collapse(
        self,
        query: str,
        field: str,
        k: int = 10,
        inner_hits: int = 1,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES field collapsing: the ranking keeps only the best hit per
        distinct ``field`` value (plus up to ``inner_hits`` - 1 runners-up
        per group with their hit_rank), then the global top ``k`` groups
        by their best hit's (score DESC, doc_id ASC).

        Plan: pruned decode of the query terms -> full match scores ->
        join ONLY the scored doc ids against the docs table for the
        collapse field (never a corpus scan) -> per-field window
        row_number -> global top-k. The window shuffles just the match
        set keyed by the collapse field; per-group state inside the
        window exec is one counter — the same bounded-heap shape ES's
        collapse uses per shard."""
        scored = self.score_all(query, round_to=round_to)
        docs = self.docs().select("doc_id", field)
        joined = scored.join(docs, "doc_id")
        w = Window.partitionBy(field).orderBy(F.desc("score"), F.asc("doc_id"))
        ranked = joined.withColumn("hit_rank", F.row_number().over(w)).filter(
            F.col("hit_rank") <= inner_hits
        )
        gw = Window.partitionBy(field)
        best = ranked.withColumn("best_score", F.max("score").over(gw)).withColumn(
            "best_doc", F.min(F.when(F.col("hit_rank") == 1, F.col("doc_id"))).over(gw)
        )
        top_groups = (
            best.filter(F.col("hit_rank") == 1)
            .orderBy(F.desc("best_score"), F.asc("best_doc"))
            .limit(k)
            .select(field)
        )
        return (
            ranked.join(F.broadcast(top_groups), field)
            .select(field, "hit_rank", "doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("hit_rank"))
        )

    def search_sorted(
        self,
        query: str,
        sort: list[tuple[str, str]],
        k: int = 10,
        track_scores: bool = False,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES sort-by-field search: the query selects the match set
        (docs containing >= 1 analyzed term), the ranking is the stored
        fields in ``sort`` = [(field, "asc"|"desc"), ...] with doc_id as
        the final tiebreak — not BM25. ``track_scores`` keeps the score
        column alongside (ES track_scores: true).

        The sort fields join in AFTER the match set is known (pruned
        postings decode), so the plan moves |matches| rows into a
        TakeOrdered — never a global sort of the corpus."""
        scored = self.score_all(query, round_to=round_to)
        fields = [f for f, _ in sort]
        docs = self.docs().select("doc_id", *fields)
        out = scored.join(docs, "doc_id")
        order = [
            F.desc(f) if d.lower().startswith("d") else F.asc(f) for f, d in sort
        ] + [F.asc("doc_id")]
        cols = ["doc_id", *fields] + (["score"] if track_scores else [])
        return out.orderBy(*order).limit(k).select(*cols)

    def search_aggs_terms(
        self, query: str, field: str, agg_size: int = 10
    ) -> DataFrame:
        """ES terms aggregation under a match query: bucket counts of a
        stored doc field over the FULL match set (every doc containing
        >= 1 query term) -> (key, doc_count), doc_count DESC / key ASC
        (ES bucket order), top ``agg_size`` buckets. The match set joins
        the docs table on doc_id (hash join; column-pruned scan reads
        only doc_id + the field), then one hash agg — no corpus scan,
        no collect."""
        matched = self._match(should=analyze_query(query))
        if matched is None:
            return self._local_df([], "key string, doc_count long")
        return (
            matched.select("doc_id")
            .join(self.docs().select("doc_id", field), "doc_id")
            .groupBy(F.col(field).cast("string").alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(agg_size)
        )

    def suggest_completion(
        self, prefix: str, size: int = 5, fuzzy: bool = False
    ) -> DataFrame:
        """ES completion-suggester analog: prefix-ranked suggestions from
        the dictionary, weighted by document frequency (ES uses the
        indexed ``weight``; df is this index's native popularity signal)
        -> (suggestion, weight) by weight DESC, suggestion ASC.

        ES serves this from an in-memory FST; the analog here is a
        dictionary-table range scan — the anchored prefix predicate
        compiles to a pushed StringStartsWith on the parquet scan (plus
        bucket pruning none: terms are bucket-hashed, so the prefix scan
        reads dictionary metadata only — KBs per term-shard, not the
        postings). ``fuzzy=True`` additionally admits terms at edit
        distance 1 from the prefix (ES fuzzy completion), rank unchanged.
        """
        p = (analyze_query(prefix) or [""])[0]
        d = self.dictionary()
        cond = F.col("term").startswith(p)
        if fuzzy and len(p) >= 3:
            cond = cond | (
                F.levenshtein(F.substring(F.col("term"), 1, len(p)), F.lit(p)) <= 1
            )
        return (
            d.filter(cond)
            .select(F.col("term").alias("suggestion"), F.col("df").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("suggestion"))
            .limit(size)
        )

    def suggest_terms(
        self,
        text: str,
        size: int = 5,
        max_edits: int = 2,
        prefix_length: int = 1,
        suggest_mode: str = "missing",
    ) -> dict[str, list[dict]]:
        """ES term-suggester analog ("did you mean"): per analyzed input
        token, correction candidates from the dictionary within
        ``max_edits`` Levenshtein edits sharing the first
        ``prefix_length`` chars, ranked the way Lucene's
        DirectSpellChecker ranks (distance ASC, doc freq DESC, term ASC)
        and capped at ``size``. ``suggest_mode="missing"`` (ES default)
        suggests only for tokens ABSENT from the corpus;
        ``"always"`` suggests for every token (the exact term itself is
        never offered). The candidate scan is the same JVM-side
        length-band + prefix + levenshtein dictionary filter as
        search_fuzzy; the final rank runs driver-side over the collected
        candidates — dictionary metadata, not data."""
        if suggest_mode not in ("missing", "always"):
            raise ValueError(f"suggest_mode must be missing|always: {suggest_mode}")
        out: dict[str, list[dict]] = {}
        for tok in analyze_query(text):
            if tok in out:
                continue
            known = self._dfs_cached([tok])
            if suggest_mode == "missing" and tok in known:
                out[tok] = []
                continue
            cond = self._fuzzy_cond(tok, max_edits, prefix_length)
            cand = [
                (r["term"], int(r["df"]))
                for r in self.dictionary().filter(cond).select("term", "df").collect()
                if r["term"] != tok
            ]
            ranked = sorted(
                cand, key=lambda td: (_levenshtein(td[0], tok), -td[1], td[0])
            )
            out[tok] = [
                {"text": t, "freq": df, "distance": _levenshtein(t, tok)}
                for t, df in ranked[:size]
            ]
        return out

    def search_pinned(
        self, ids: list[int], query: str, k: int = 10,
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES `pinned` query: the given doc ids rank first IN LIST ORDER
        (ES assigns them descending sort-killer scores above any organic
        hit), organic BM25 results follow, pinned ids deduplicated out
        of the organic tail. Ordered by the ROUNDED score (repo topk
        convention) so near-tie floats select identically cross-engine;
        the pinned sentinel scores (2^30 - i) are integral and
        unaffected by rounding."""
        organic = self.search(query, k=k + len(ids)).filter(
            ~F.col("doc_id").isin(ids)
        )
        top = float(1 << 30)
        pinned = self._rows_df(
            [(int(d), top - i) for i, d in enumerate(ids)]
        ).join(self.docs().select("doc_id"), ["doc_id"], "semi")
        return topk_deterministic(
            pinned.unionByName(organic.select("doc_id", "score")),
            k, round_to,
        )

    def search_distance_feature(
        self,
        query: str,
        field: str,
        origin: float,
        pivot: float,
        boost: float = 1.0,
        k: int = 10,
        round_to: int | None = 4,
    ) -> DataFrame:
        """ES `distance_feature` query over a numeric/date field:
        relevance = BM25 + boost * pivot / (pivot + |field - origin|)
        (the ES formula) — recency/proximity boosting that decays
        hyperbolically, joined from the docs table onto the organic
        candidates (candidate-sized join, not a corpus scan). Rescore-
        window semantics: the boost re-ranks the top max(4k, 50)
        organic candidates (the ES rescore pattern) — a doc outside
        that window cannot be promoted by proximity alone."""
        organic = self.search(query, k=max(4 * k, 50)).select(
            "doc_id", F.col("score").alias("__bm25")
        )
        feat = self.docs().select(
            "doc_id", F.col(field).cast("double").alias("__v")
        )
        dist = F.abs(F.col("__v") - F.lit(float(origin)))
        bonus = F.lit(float(boost)) * F.lit(float(pivot)) / (
            F.lit(float(pivot)) + dist
        )
        scored = organic.join(feat, ["doc_id"], "left").select(
            "doc_id",
            (F.col("__bm25") + F.coalesce(bonus, F.lit(0.0))).alias("score"),
        )
        # rounded-score ordering (repo topk convention): near-tie float
        # differences vs another engine cannot flip top-k membership
        return topk_deterministic(scored, k, round_to)

    def search_intervals(
        self,
        terms: list[str],
        mode: str = "all_of",
        max_gaps: int = -1,
        ordered: bool = False,
        k: int = 10,
    ) -> DataFrame:
        """ES ``intervals`` query, the single-level term shape (terms
        are ANALYZED tokens, the span-API convention — pass
        analyze_query(...) output, not raw text): `all_of`
        requires every clause with the combined span's internal gap
        bounded by ``max_gaps`` (Lucene: width - clauses <= max_gaps;
        ``max_gaps=-1`` waives proximity entirely, i.e. document-level
        conjunction — routed to the pruned AND path, no positions
        needed); `any_of` matches any clause, scored per ES's
        best-clause behavior (the dis_max shape: max clause score).
        Proximity-bounded all_of rides the span_near machinery
        (identical window semantics)."""
        if mode not in ("all_of", "any_of"):
            raise ValueError("mode must be all_of|any_of")
        if mode == "all_of":
            if max_gaps < 0:
                return self.search_and(" ".join(terms), k=k)
            return self.search_span_near(
                terms, slop=max_gaps, in_order=ordered, k=k
            )
        # any_of: best single-clause score per doc (dis_max, tie 0)
        per = [
            self.search(t, k=max(k * 4, 50)).select(
                "doc_id", F.col("score").alias("s")
            )
            for t in terms
        ]
        from functools import reduce as _reduce

        u = _reduce(lambda a, b: a.unionByName(b), per)
        return topk_deterministic(
            u.groupBy("doc_id").agg(F.max("s").alias("score")), k, None
        )

    def rank_eval(
        self,
        queries: dict[str, str],
        judgments: DataFrame,
        k: int = 10,
    ) -> DataFrame:
        """ES _rank_eval over THIS index: run the rated queries through
        the engine's batch search path (search_many: one distributed
        scoring plan, winners merged on the driver) and score the
        rankings against `judgments` (qid, doc_id, grade)
        with plans/rankeval.py — per-qid precision@k, recall@k, MRR,
        DCG@k, NDCG@k."""
        from esbulk_spark.plans.rankeval import rank_eval as _re

        results = self.search_many(queries, k=k)
        return _re(results.select("qid", "doc_id", "score"), judgments, k=k)

    def suggest_phrase(
        self,
        text: str,
        max_edits: int = 2,
        prefix_length: int = 1,
        per_slot: int = 5,
        size: int = 3,
    ) -> list[dict]:
        """ES phrase-suggester analog over THIS index's stored content:
        per-token fuzzy candidates re-ranked as whole phrases under the
        corpus bigram LM with a per-edit noisy-channel penalty
        (operators/spell.py; ES builds the LM from a shingle field —
        here it derives from the stored docs, so the index must carry
        content). Uses the LM's whitespace tokenization, not the code
        analyzer: phrase suggestions operate on surface forms.

        If ``admin.build_suggest_lm`` materialized ``<index>/lm``, the
        prebuilt count tables serve the query (score-identical, zero
        corpus passes); otherwise two corpus aggs run inline."""
        import os

        from esbulk_spark.operators.spell import (
            PrebuiltLM,
            phrase_suggest,
            phrase_suggest_lm,
        )

        lm_dir = os.path.join(self.index_dir, "lm")
        if os.path.exists(os.path.join(lm_dir, "lm_meta.json")):
            out = phrase_suggest_lm(
                PrebuiltLM(self.spark, lm_dir),
                text,
                max_edits=max_edits,
                prefix_length=prefix_length,
                per_slot=per_slot,
                k=size,
            )
        else:
            out = phrase_suggest(
                self.docs(),
                self._text_col(),
                text,
                max_edits=max_edits,
                prefix_length=prefix_length,
                per_slot=per_slot,
                k=size,
            )
        return [
            {
                "text": r["suggestion"],
                "n_edits": int(r["n_edits"]),
                "score": float(r["score"]),
            }
            for r in out.collect()
        ]

    # ES field type for a Spark docs-table dtype (_field_caps/_mapping)
    _ES_TYPES = {
        "string": "text",
        "bigint": "long",
        "int": "integer",
        "double": "double",
        "float": "float",
        "boolean": "boolean",
        "timestamp": "date",
        "binary": "binary",
    }

    def field_caps(self) -> dict[str, dict]:
        """ES _field_caps analog: per stored field, the mapped ES type
        and searchable/aggregatable flags (the indexed text column is
        the searchable one; numeric/date/keyword fields aggregate).
        Metadata only — reads the docs schema, no Spark job."""
        tc = self._text_col()
        caps: dict[str, dict] = {}
        for name, dtype in self._table("docs").dtypes:
            if name in self._DOC_META_COLS:
                continue
            es = self._ES_TYPES.get(dtype, "keyword")
            caps[name] = {
                "type": es,
                "searchable": name == tc,
                "aggregatable": es != "text",
            }
        return caps

    def mapping(self) -> dict:
        """ES GET _mapping analog: the index's properties plus the
        build settings ES would report (analyzer, shards, similarity
        knobs) from stats.json."""
        props = {
            name: {"type": caps["type"]}
            for name, caps in self.field_caps().items()
        }
        s = self.stats
        return {
            "mappings": {"properties": props},
            "settings": {
                "number_of_shards": s.get("n_shards"),
                "analysis": {"analyzer": "code"},
                "similarity": {"k1": s.get("k1"), "b": s.get("b")},
            },
        }

    # build-derived docs columns that are NOT part of the user document
    # and must not leak into ES _source envelopes
    _DOC_META_COLS = ("doc_id", "content_sha", "dl", "n_terms")

    def _source_fields(self, row_dict: dict) -> dict:
        """Strip build-derived columns from a docs row: ES ``_source``
        carries only the original document fields."""
        return {
            k: v for k, v in row_dict.items() if k not in self._DOC_META_COLS
        }

    def _text_col(self) -> str:
        """The indexed text column's name in the docs table. New indexes
        record it in stats.json; for pre-r4 indexes fall back to the
        first non-derived docs column (docs keeps source columns in
        input order, text first by convention)."""
        tc = self.stats.get("text_col")
        cols = self.docs().columns
        if tc and tc in cols:
            return tc
        cands = [c for c in cols if c not in self._DOC_META_COLS]
        if "content" in cands:
            return "content"
        if not cands:
            raise ValueError("no stored text column in this index "
                             "(built with store_content=False?)")
        return cands[0]

    def search_aggs_significant_terms(
        self,
        query: str,
        agg_size: int = 10,
        min_doc_count: int = 3,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES significant_terms aggregation: terms anomalously frequent
        in the docs matching ``query`` (foreground) vs the whole index
        (background), scored with ES's default JLH heuristic (public ES
        docs): (fg% - bg%) * (fg% / bg%), buckets by score DESC / key
        ASC. Query terms themselves are excluded (they are trivially
        significant — ES filters them via the background-is-superset
        guard; explicit here for determinism).

        Plan: the match set (pruned decode of the QUERY terms only)
        joins the docs table, ONLY the matched docs are re-tokenized
        (codegen analyzer), one explode + hash agg gives foreground doc
        counts, and the background counts come from the dictionary —
        never a corpus-wide tokenize. Foreground size bounds the
        expensive work, exactly like ES's shard-local sampling."""
        from esbulk_spark.functions.analyzer import tokens_col

        terms = analyze_query(query)
        empty = self._local_df(
            [], "key string, doc_count long, bg_count long, score double"
        )
        matched = self._match(should=terms)
        n_fg = 0 if matched is None else matched.count()
        if n_fg == 0:
            return empty
        matched = matched.select("doc_id")
        text_col = self._text_col()
        fg = (
            matched.join(self.docs().select("doc_id", text_col), "doc_id")
            .select(
                F.explode(
                    F.array_distinct(tokens_col(F.col(text_col)))
                ).alias("key")
            )
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .filter(F.col("doc_count") >= min_doc_count)
            .filter(~F.col("key").isin(sorted(self._dfs_cached(terms))))
        )
        n_bg = self.n_docs
        joined = fg.join(
            self.dictionary().select(
                F.col("term").alias("key"), F.col("df").alias("bg_count")
            ),
            "key",
        )
        fg_pct = F.col("doc_count") / F.lit(float(n_fg))
        bg_pct = F.col("bg_count") / F.lit(float(n_bg))
        score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
        out = joined.withColumn("score", score)
        if round_to is not None:
            # round BEFORE the positivity filter and the ordering so
            # cross-engine selection is stable at both boundaries (same
            # contract as topk_deterministic)
            out = out.withColumn("score", F.round("score", round_to))
        out = out.filter(F.col("score") > 0)
        return out.orderBy(F.desc("score"), F.asc("key")).limit(agg_size)

    def more_like_this(
        self,
        doc_id: int,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 1,
        min_doc_freq: int = 5,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES ``more_like_this`` for one indexed document: select the
        doc's most characteristic terms — tf(term in doc) * MLT idf,
        idf = ln(n_docs / (df + 1)) + 1 (Lucene MoreLikeThis's classic
        formula, public) — keep terms passing ``min_term_freq`` /
        ``min_doc_freq``, cap at ``max_query_terms`` (score DESC, term
        ASC; the selection score is rounded to 6 places so both engines
        cut the same boundary), then run the standard BM25 disjunction
        over the selected terms with the seed document excluded (ES
        excludes ``like`` input docs from the hits).

        Term selection is driver-side arithmetic over ONE document's
        token counts plus a dictionary metadata lookup; the search is
        the same pruned-postings plan every multi-term query uses."""
        import math

        empty = self._rows_df([])
        doc = self.get_doc(doc_id)
        if not doc.get("found"):
            return empty
        text = doc["_source"].get(self._text_col())
        if not isinstance(text, str):
            raise ValueError(
                "more_like_this needs stored content (store_content index)"
            )
        tfs: dict[str, int] = {}
        for t in tokenize_text(text):
            tfs[t] = tfs.get(t, 0) + 1
        dfs = self._dfs_cached(sorted(tfs))
        cand = [
            (
                round(
                    tfs[t] * (math.log(self.n_docs / (dfs[t] + 1.0)) + 1.0), 6
                ),
                t,
            )
            for t in dfs
            if tfs[t] >= min_term_freq and dfs[t] >= min_doc_freq
        ]
        selected = sorted(cand, key=lambda st: (-st[0], st[1]))[:max_query_terms]
        if not selected:
            return empty
        # k + 1 per shard: dropping the seed still leaves every shard's
        # top k of the other docs
        cand = self._topk_candidates(
            {t: dfs[t] for _, t in selected}, k + 1, prune=True
        )
        return self._rows_df(self._merge_topk(
            [c for c in cand if c[1] != int(doc_id)], k, round_to
        ))

    def analyze(self, text: str) -> list[dict]:
        """ES ``_analyze`` API analog: the token stream the index-time
        analyzer produces for ``text``, with positions — the contract
        debugging tool (ES returns [{token, position}, ...]). Pure
        driver-side; zero Spark jobs."""
        return [
            {"token": t, "position": i}
            for i, t in enumerate(tokenize_text(text))
        ]

    def term_vectors(self, doc_id: int, term_statistics: bool = False) -> dict:
        """ES ``_termvectors`` analog for one stored document: per-term
        term_freq + token positions, optionally joined with dictionary
        statistics (doc_freq) like ES ``term_statistics=true``. One
        docs-table point lookup + (optionally) one bucket-pruned
        dictionary lookup — metadata, not data."""
        doc = self.get_doc(doc_id)
        if not doc.get("found"):
            return {"_id": int(doc_id), "found": False}
        text = doc["_source"].get(self._text_col())
        if not isinstance(text, str):
            raise ValueError(
                "term_vectors needs stored content (store_content index)"
            )
        terms: dict[str, dict] = {}
        for i, t in enumerate(tokenize_text(text)):
            e = terms.setdefault(t, {"term_freq": 0, "positions": []})
            e["term_freq"] += 1
            e["positions"].append(i)
        if term_statistics:
            dfs = self._dfs_cached(sorted(terms))
            for t, e in terms.items():
                e["doc_freq"] = dfs.get(t, 0)
        return {"_id": int(doc_id), "found": True, "terms": terms}

    def count(self, query: str) -> int:
        """ES ``_count`` API analog: the number of docs matching >= 1
        analyzed query term: the size of score_all's match set
        (``track_total_hits`` reports it)."""
        matched = self._match(should=analyze_query(query))
        return 0 if matched is None else matched.count()

    def get_docs(self, doc_ids: list[int]) -> list[dict]:
        """ES ``_mget`` analog: the stored fields of many ids in ONE
        docs-table scan (id IN-list pushes into parquet row-group
        pruning), results in request order with per-id found flags."""
        ids = [int(i) for i in doc_ids]
        index_name = os.path.basename(os.path.normpath(self.index_dir))
        found = {
            int(r["doc_id"]): self._source_fields(r.asDict())
            for r in self.docs().filter(F.col("doc_id").isin(ids)).collect()
        }
        out = []
        for i in ids:
            if i in found:
                out.append({"_index": index_name, "_type": "_doc",
                            "_id": i, "found": True, "_source": found[i]})
            else:
                out.append({"_index": index_name, "_type": "_doc",
                            "_id": i, "found": False})
        return out

    def get_doc(self, doc_id: int) -> dict:
        """ES GET-by-id analog: one doc's stored fields. A doc_id
        equality filter over the docs table (parquet min/max row-group
        pruning on the id column); returns the ES document envelope
        with ``found`` False when absent."""
        index_name = os.path.basename(os.path.normpath(self.index_dir))
        row = self.docs().filter(F.col("doc_id") == int(doc_id)).first()
        if row is None:
            return {"_index": index_name, "_type": "_doc",
                    "_id": int(doc_id), "found": False}
        return {
            "_index": index_name,
            "_type": "_doc",
            "_id": int(doc_id),
            "found": True,
            "_source": self._source_fields(row.asDict()),
        }


def multi_match(
    readers: dict[str, "IndexReader"],
    query: str,
    match_type: str = "best_fields",
    k: int = 10,
    round_to: int | None = None,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES ``multi_match`` across per-field indexes: score the query
    against each field's index independently, then combine per doc —
    ``best_fields`` is ES dis_max: best field + ``tie_breaker`` times
    every other matching field (tie_breaker=0 -> pure max, 1 -> sum);
    ``most_fields`` sums all fields. Each field is its own index with
    its own statistics (df, avgdl), exactly Lucene's per-field scoring;
    the combine is a union + hash agg over the per-field match sets
    (never a corpus scan). -> (doc_id, score)."""
    if match_type not in ("best_fields", "most_fields"):
        raise ValueError(f"match_type must be best_fields|most_fields: {match_type}")
    if not readers:
        raise ValueError("multi_match needs at least one reader")
    if not (0.0 <= tie_breaker <= 1.0):
        raise ValueError(f"tie_breaker must be in [0, 1]: {tie_breaker}")
    parts = [r.score_all(query) for r in readers.values()]
    combined = parts[0]
    for p in parts[1:]:
        combined = combined.unionByName(p)
    if match_type == "most_fields":
        agg = F.sum("score").alias("score")
    elif tie_breaker == 0.0:
        agg = F.max("score").alias("score")
    else:  # dis_max: max + tie_breaker * (sum of the other fields)
        agg = (
            F.max("score")
            + F.lit(float(tie_breaker)) * (F.sum("score") - F.max("score"))
        ).alias("score")
    out = combined.groupBy("doc_id").agg(agg)
    return topk_deterministic(out, k, round_to)


def boosting_query(
    reader: "IndexReader",
    positive: str,
    negative: str,
    negative_boost: float = 0.5,
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """ES ``boosting`` query: hits come from the ``positive`` match
    query; any hit ALSO matching ``negative`` keeps its rank presence
    but its score is multiplied by ``negative_boost`` (demotion without
    exclusion — the compound ES offers between bool.must_not and
    nothing). The negative side only needs a doc-id set: the negative
    terms' match set from the match core + a membership flag, never a
    corpus scan."""
    if not (0.0 <= negative_boost <= 1.0):
        raise ValueError(f"negative_boost must be in [0, 1]: {negative_boost}")
    pos = reader.score_all(positive)
    neg = reader._match(should=analyze_query(negative))
    if neg is not None:
        neg = neg.select("doc_id", F.lit(True).alias("__neg"))
        pos = pos.join(neg, "doc_id", "left").withColumn(
            "score",
            F.when(
                F.col("__neg").isNotNull(),
                F.col("score") * float(negative_boost),
            ).otherwise(F.col("score")),
        ).drop("__neg")
    return topk_deterministic(pos, k, round_to)


def _levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance for the suggester's driver-side ranking
    (candidate sets are <= a few hundred dictionary rows — metadata)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def search_indices(
    readers: dict[str, IndexReader],
    query: str,
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """ES multi-index search (``GET /idx1,idx2/_search``, the alias
    fan-out): run the match query against every index and merge the
    hits globally by score — each index scores with its OWN statistics
    (df, avgdl), exactly ES's default query_then_fetch across indices.
    -> (_index, doc_id, score), top-k over the union (``_index`` as
    in the ES hit envelope — and because bare ``index`` collides with
    Row.index on collect). The per-index
    inputs are the tiny per-shard winner sets, so the merge moves
    n_indices * k rows, not data."""
    parts = []
    for name, r in readers.items():
        s = r.search(query, k=k)
        parts.append(s.select(F.lit(name).alias("_index"), "doc_id", "score"))
    if not parts:
        raise ValueError("search_indices needs at least one reader")
    combined = parts[0]
    for p in parts[1:]:
        combined = combined.unionByName(p)
    if round_to is not None:
        combined = combined.withColumn("score", F.round("score", round_to))
    return combined.orderBy(
        F.desc("score"), F.asc("_index"), F.asc("doc_id")
    ).limit(k)
