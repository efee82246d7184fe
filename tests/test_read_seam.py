"""The driver-side read seam (IndexReader.read_terms over
TableIO.read_terms): dictionary lookups, small-query postings and
tombstones come straight from the bucket files through pyarrow, with no
Spark job, and carry exactly the rows the Spark scans carry."""

from pyspark.sql import functions as F

from esbulk_spark.config import IndexConfig
from esbulk_spark.corpus import synth_corpus
from esbulk_spark.functions.analyzer import analyze_query
from esbulk_spark.plans.build import build_index
from esbulk_spark.plans.reader import IndexReader

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
