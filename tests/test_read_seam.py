"""The driver-side read seam (IndexReader.read_terms over
TableIO.read_terms): dictionary lookups, small-query postings and
tombstones come straight from the bucket files through pyarrow, with no
Spark job, and carry exactly the rows the Spark scans carry."""

import pytest
from pyspark.sql import functions as F

from esbulk_spark.config import IndexConfig
from esbulk_spark.corpus import synth_corpus
from esbulk_spark.functions.analyzer import analyze_query
from esbulk_spark.plans.build import build_index
from esbulk_spark.plans.reader import IndexReader
from esbulk_spark.plans.score import bm25_fullscan

QUERIES = ("flushBuffer retry", "getUserName", "return error value")


def _sample_terms(r, n=40):
    return sorted(x.term for x in r.dictionary().select("term").limit(n).collect())


def test_single_index_serving_runs_no_spark_job(spark, index_dir, count_jobs):
    r = IndexReader(spark, index_dir)
    terms = analyze_query(QUERIES[0]) + ["zzznotaterm"]
    with count_jobs() as c:
        dfs = r.lookup_terms(terms)
        stats = r.lookup_term_stats(terms)
        fresh = {q: r.search_rows(q) for q in QUERIES}   # df cache misses
        cached = {q: r.search_rows(q) for q in QUERIES}  # df cache hits
        assert r.lookup_terms(terms) == dfs
    assert c["jobs"] == 0
    assert dfs and "zzznotaterm" not in dfs
    assert {t: df for t, (df, _cf) in stats.items()} == dfs
    assert fresh == cached and all(fresh.values())
    # the distributed scorer (a Spark plan) serves identical rows
    r.driver_score_max = 0
    assert {q: r.search_rows(q) for q in QUERIES} == fresh


def test_read_postings_matches_spark_scan(spark, index_dir, chunk_rows):
    r = IndexReader(spark, index_dir)
    terms = _sample_terms(r) + ["zzznotaterm"]
    got = r.read_postings(terms).to_pandas()
    want = r._pruned_postings(terms).toPandas()
    cols = list(got.columns)
    assert set(cols) == set(want.columns) - {"bucket"}
    assert len(got) and chunk_rows(got, cols) == chunk_rows(want, cols)
    d = r.read_terms("dictionary", terms).to_pandas()
    sd = r.dictionary().filter(F.col("term").isin(terms)).toPandas()
    assert dict(zip(d.term, zip(d.df, d.cf))) == dict(zip(sd.term, zip(sd.df, sd.cf)))


def test_refresh_drops_stale_file_lists(spark, tmp_path):
    """Rebuilding in place replaces every part file; after refresh() the
    reader lists the new files and serves what a new reader serves."""
    d = str(tmp_path / "idx")

    def build(seed):
        cfg = IndexConfig(index_dir=d, n_buckets=4, n_shards=2, chunk_cap=256)
        build_index(spark, synth_corpus(spark, 60, seed=seed), cfg,
                    input_sig=f"refresh{seed}")

    build(1)
    r = IndexReader(spark, d)
    before = {q: r.search_rows(q) for q in QUERIES}
    build(2)
    r.refresh()
    fresh = IndexReader(spark, d)
    after = {q: r.search_rows(q) for q in QUERIES}
    assert after == {q: fresh.search_rows(q) for q in QUERIES}
    assert after != before
    terms = analyze_query(" ".join(QUERIES))
    assert r.read_postings(terms).equals(fresh.read_postings(terms))


def test_decode_paths_reuse_the_df_cache(spark, index_dir, monkeypatch):
    """Full-match-set families resolve df through the reader's cache: once
    a query's terms are known, count / search_and / explain / score_all
    read no dictionary rows."""
    r = IndexReader(spark, index_dir)
    reads = []
    plain = r.lookup_term_stats
    monkeypatch.setattr(
        r, "lookup_term_stats", lambda terms: reads.append(terms) or plain(terms)
    )
    q = QUERIES[0]
    n = r.count(q)
    assert n > 0 and reads
    reads.clear()
    assert r.count(q) == n
    r.search_and(q).collect()
    r.score_all(q).collect()
    r.explain(q, 0)
    assert reads == []


# ---- the batch path: search_many merges its per-shard winners on the
# driver with search_rows' own merge ----

BATCH = {
    "a": "flushBuffer retry",
    "b": "getUserName",
    "c": "return error value",
    "d": "parse_token_5 mergeList",
    "e": "return",
    "f": "getuserbuffer44 scan_value_87",
}


def _by_qid(rows):
    out = {}
    for x in rows:
        out.setdefault(x.qid, []).append((x.doc_id, x.score))
    return out


def _assert_batch_is_per_query(r, queries, round_to):
    """search_many == per-query search_rows, bit for bit, and the batch's
    rows come back ordered by (qid, score desc, doc_id asc)."""
    rows = r.search_many(queries, k=10, round_to=round_to).collect()
    want = {q: r.search_rows(text, k=10, round_to=round_to)
            for q, text in queries.items()}
    assert _by_qid(rows) == {q: v for q, v in want.items() if v}
    keys = [(x.qid, -x.score, x.doc_id) for x in rows]
    assert keys == sorted(keys)
    return want


@pytest.mark.parametrize("round_to", [None, 4])
@pytest.mark.parametrize("gate", [2_000_000, 0])
def test_search_many_equals_search_rows_and_oracle(spark, index_dir, gate, round_to):
    r = IndexReader(spark, index_dir)
    r.driver_score_max = gate
    want = _assert_batch_is_per_query(r, BATCH, round_to)
    for q, text in BATCH.items():
        oracle = bm25_fullscan(r.docs(), text, k=10, round_to=round_to).collect()
        assert [(d, round(s, 6)) for d, s in want[q]] == [
            (x.doc_id, round(x.score, 6)) for x in oracle
        ], text


def test_search_many_with_tombstones(spark, index_dir, tmp_path):
    from esbulk_spark.plans import admin

    top = _by_qid(IndexReader(spark, index_dir).search_many(BATCH).collect())
    victims = sorted({rows[0][0] for rows in top.values()})
    d = str(tmp_path / "tomb")
    admin.snapshot_index(index_dir, str(tmp_path / "snap"))
    admin.restore_index(str(tmp_path / "snap"), d)
    admin.delete_by_ids(spark, d, victims)
    r = IndexReader(spark, d)
    for gate in (2_000_000, 0):
        r.driver_score_max = gate
        want = _assert_batch_is_per_query(r, BATCH, 4)
        assert not set(victims) & {x for v in want.values() for x, _ in v}


def test_search_many_edge_cases(spark, index_dir):
    r = IndexReader(spark, index_dir)
    queries = {
        "dup1": "flushBuffer retry",
        "dup2": "flushBuffer retry",   # same text under a second qid
        "gone": "zzznotaterm qqqnotaterm",
        "stop": "the of and",
        "hit": "getUserName",
    }
    got = _by_qid(r.search_many(queries, k=5).collect())
    assert set(got) == {"dup1", "dup2", "hit"}   # no rows for absent terms
    assert got["dup1"] == got["dup2"] == r.search_rows("flushBuffer retry", k=5)
    none = r.search_many({"x": "zzznotaterm", "y": "the of"})
    full = r.search_many({"x": "getUserName"})
    assert none.schema == full.schema
    assert none.columns == ["qid", "doc_id", "score"] and none.collect() == []
    assert r.search_many({}).collect() == []


def test_search_many_ties_order_by_doc_id(spark, tmp_path):
    """Equal scores across shards: the k lowest doc_ids win, ascending."""
    from esbulk_spark.plans.score import bm25_fullscan as oracle_scan

    rows = [(i, "alpha beta" if i % 3 else "alpha gamma delta") for i in range(24)]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "ties")
    build_index(spark, docs, IndexConfig(index_dir=d, id_col="uid", n_buckets=4,
                                         n_shards=3), input_sig="ties24")
    r = IndexReader(spark, d)
    for gate in (2_000_000, 0):
        r.driver_score_max = gate
        got = _by_qid(r.search_many({"t": "beta", "u": "gamma"}, k=5).collect())
        assert [x for x, _ in got["t"]] == [1, 2, 4, 5, 7]
        assert len({s for _, s in got["t"]}) == 1
        assert got["u"] == r.search_rows("gamma", k=5)
        assert [x for x, _ in got["u"]] == [0, 3, 6, 9, 12]
        want = oracle_scan(r.docs(), "beta", k=5).collect()
        assert [x for x, _ in got["t"]] == [x.doc_id for x in want]


def test_batch_and_result_frames_run_no_extra_job(spark, index_dir, count_jobs):
    """A search_many batch runs its Spark work when called and collecting
    its result runs none; search() and empty-result families are local
    relations too."""
    r = IndexReader(spark, index_dir)
    r.search_many(BATCH)  # warm the df cache and the Python workers
    words = sorted(x.term for x in r.dictionary().select("term").collect())
    batch = {f"q{i:02d}": f"{words[i]} {words[-1 - i]}" for i in range(20)}
    with count_jobs() as scored:
        res = r.search_many(batch, k=10)
    with count_jobs() as collected:
        rows = res.collect()
    assert rows and scored["jobs"] == 3 and collected["jobs"] == 0
    for build in (
        lambda: r.search("flushBuffer retry"),
        lambda: r.search_and("zzznotaterm"),
        lambda: r.score_all("zzznotaterm"),
        lambda: r.search_aggs_terms("zzznotaterm", "lang"),
        lambda: r.search_many({"x": "zzznotaterm"}),
    ):
        df = build()
        with count_jobs() as c:
            df.collect()
        assert c["jobs"] == 0


# ---- ParquetDirIO.read_terms: row groups chosen from cached footers ----


def _many_group_table(spark, io, name, n_terms=1200, n_buckets=3):
    """A term-sorted, bucket-partitioned table shaped like the postings
    (list and binary cells), written with row groups small enough that
    every bucket file holds several."""
    rows = [
        (f"t{i:05d}", i % n_buckets, i, [i, i + 1], bytes([i % 251]) * (1 + i % 7))
        for i in range(n_terms)
    ]
    df = spark.createDataFrame(
        rows, "term string, bucket int, n long, block_last array<long>, blob binary"
    ).repartition(n_buckets, "bucket").sortWithinPartitions("bucket", "term")
    io.write(df, name, partition_by=["bucket"], options={
        "parquet.block.size": "2048",
        "parquet.page.size.row.check.min": "10",
        "parquet.page.size.row.check.max": "10",
    })


def _group_ranges(io, name):
    """Every (file, [(min, max) per row group]) of ``name``."""
    return [(f, io._footer(f)[1]) for f in io._list(name, None)]


def test_read_terms_selects_row_groups_like_read_table(spark, tmp_path):
    import pyarrow.parquet as pq

    from esbulk_spark.plans.tableio import ParquetDirIO

    io = ParquetDirIO(str(tmp_path))
    _many_group_table(spark, io, "t")
    groups = _group_ranges(io, "t")
    assert groups and all(len(r) > 2 and None not in r for _f, r in groups)
    edges = sorted({x for _f, r in groups for rng in r for x in rng})
    # strings just past a group's max: below the next group's min
    between = [hi + "0" for _f, r in groups for _lo, hi in r[:-1]]
    absent = ["a", "t", "t00000a", "zzz"]
    cases = [edges[:5], edges[-5:], edges, between, absent, between + edges[:3],
             ["t00007"], None]

    def want(buckets, terms, columns):
        files = [f for b in buckets for f in io._list("t", b)]
        t = pq.read_table(
            files, columns=columns, partitioning=None,
            filters=None if terms is None else [("term", "in", terms)],
        )
        return t.drop_columns(["bucket"]) if "bucket" in t.column_names else t

    for terms in cases:
        for buckets in ([0, 1, 2], [1], [2, 0]):
            for columns in (None, ["n", "blob"], ["blob", "term", "block_last"]):
                got = io.read_terms("t", buckets, terms, columns)
                exp = want(buckets, None if terms is None else sorted(set(terms)), columns)
                assert got.column_names == exp.column_names
                assert got.to_pylist() == exp.to_pylist(), (terms, buckets, columns)
    # a term read touches only the groups that bracket it
    f, ranges = groups[0]
    lo, hi = ranges[1]
    assert io.read_terms("t", None, [lo, hi], ["term"])["term"].to_pylist() == [lo, hi]


def test_read_terms_footer_cache_follows_rewrites(spark, tmp_path):
    """Footers are parsed once per part file; an in-place rewrite by
    another writer plus refresh() reads the new files, and a write
    through the same backend drops its own cache."""
    from esbulk_spark.plans.tableio import ParquetDirIO

    io = ParquetDirIO(str(tmp_path))
    _many_group_table(spark, io, "t", n_terms=300)
    before = io.read_terms("t", [0, 1, 2], ["t00003", "t00004"])
    assert before["n"].to_pylist() == [3, 4]
    cached = dict(io._footers)
    assert cached and len(cached) == len(io._list("t", None))
    io.read_terms("t", None, ["t00003"])
    assert io._footers == cached  # parsed once, not per read

    other = ParquetDirIO(str(tmp_path))
    df = spark.createDataFrame(
        [("t00003", 0, 30, [1], b"x"), ("t00004", 1, 40, [2], b"y")],
        "term string, bucket int, n long, block_last array<long>, blob binary",
    )
    other.write(df, "t", partition_by=["bucket"])
    io.refresh(spark, "t")
    assert not io._footers
    after = io.read_terms("t", [0, 1], ["t00003", "t00004"])
    assert sorted(after["n"].to_pylist()) == [30, 40]
    io.write(df.limit(1), "t", partition_by=["bucket"])
    assert not io._footers and not io._files
    assert io.read_terms("t", None, None, ["n"]).num_rows == 1


def test_score_group_input_serves_the_traced_wrapper(spark, index_dir, monkeypatch):
    """perfbench's traced score_group wrapper (perfbench/spans.py) reads
    ``len(x)`` and ``int(x["n"].sum())`` off its first argument; the
    driver path looks score_group up at call time, so the wrapper sees
    every (query, shard) group, and its counts add up to the query's
    chunk rows and postings."""
    from esbulk_spark.plans import wand

    r = IndexReader(spark, index_dir)
    plain = wand.score_group
    seen = []

    def traced(chunks, *args, **kwargs):
        seen.append((int(len(chunks)),
                     int(chunks["n"].sum()) if len(chunks) else 0))
        return plain(chunks, *args, **kwargs)

    for q in QUERIES:
        want = r.search_rows(q)
        terms = sorted(r._dfs_cached(analyze_query(q)))
        posts = r.read_postings(terms, ["n"])
        seen.clear()
        monkeypatch.setattr(wand, "score_group", traced)
        assert r.search_rows(q) == want
        monkeypatch.setattr(wand, "score_group", plain)
        assert len(seen) > 0
        assert sum(c for c, _ in seen) == posts.num_rows
        assert sum(p for _, p in seen) == sum(posts["n"].to_pylist())


def test_bm25_fullscan_leaves_no_cache(spark, index_dir):
    """The full-scan oracle leaves nothing cached: its returned plan is
    collected with the session's persisted RDDs as they were before."""
    r = IndexReader(spark, index_dir)
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    for q in (QUERIES[0], "zzznotaterm", "the of"):
        rows = bm25_fullscan(r.docs(), q, k=10).collect()
        assert jsc.getPersistentRDDs().size() == base
    assert rows == [] and bm25_fullscan(r.docs(), QUERIES[0]).collect()
