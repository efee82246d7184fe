"""End-to-end index build + query (SURVEY.md §5 test plan items 2-3).

Mirrors the reference's golden verification — ingest then independently
query and assert (/root/reference/run_test.go:270-320) — strengthened to
per-row sha256 invariants and rank-identical scores as the north rule
requires."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from esbulk_spark.plans.reader import IndexReader
from esbulk_spark.plans.score import bm25_fullscan

QUERIES = [
    "getUserName",                      # single camelCase (matches snake docs too)
    "get_user_name",                    # snake form of the same -> same tokens
    "parse_token_5 mergeList",          # mixed
    "flushBuffer retry score",          # multi-term
    "return",                           # hot term (keyword in every doc)
    "getuserbuffer44 scan_value_87",    # rare + rare
    "return getValue0",                 # hot + specific
    "zzznotaterm",                      # no hits
    "the of and",                       # stopword-only -> empty
    "def func class",                   # hot keywords conjunction
]


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


def test_doc_count_matches_source(reader, corpus):
    # run_test.go:318-320 analog
    assert reader.doc_count() == corpus.count()


def test_content_sha_invariant(reader, corpus):
    # BASELINE.json input_hint: per-row sha256(content) equality vs source
    src = corpus.select(F.sha2("content", 256).alias("sha"))
    idx = reader.docs().select("content_sha")
    assert src.exceptAll(idx.withColumnRenamed("content_sha", "sha")).count() == 0
    assert idx.exceptAll(
        src.withColumnRenamed("sha", "content_sha")
    ).count() == 0


def test_norms_and_stats(reader, corpus):
    from esbulk_spark.functions.analyzer import tokens_col

    expected = corpus.select(F.size(tokens_col("content")).alias("dl"))
    exp_total = expected.agg(F.sum("dl")).collect()[0][0]
    got_total = reader.norms().agg(F.sum("dl")).collect()[0][0]
    assert exp_total == got_total
    assert reader.stats["n_docs"] == corpus.count()
    assert abs(reader.stats["avgdl"] - exp_total / corpus.count()) < 1e-9


def test_dictionary_df_spot_check(reader):
    from esbulk_spark.functions.analyzer import tokens_col

    docs = reader.docs()
    # df of a term == number of docs whose token set contains it
    for term in ["return", "getuserbuffer44"]:
        expected = docs.filter(
            F.array_contains(tokens_col("content"), term)
        ).count()
        row = reader.dictionary().filter(F.col("term") == term).collect()
        got = row[0]["df"] if row else 0
        assert got == expected, term


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identity_three_ways(reader, query):
    """WAND top-10 == index full-scan == raw-corpus oracle (ids AND scores)."""
    oracle = [
        (r.doc_id, round(r.score, 6))
        for r in bm25_fullscan(reader.docs(), query, text_col="content", k=10).collect()
    ]
    full = [
        (r.doc_id, round(r.score, 6))
        for r in reader.search(query, k=10, prune=False).collect()
    ]
    wand = [
        (r.doc_id, round(r.score, 6))
        for r in reader.search(query, k=10, prune=True).collect()
    ]
    assert oracle == full == wand


def test_search_many_matches_single(reader):
    batch = reader.search_many({f"q{i}": q for i, q in enumerate(QUERIES[:5])}, k=10)
    rows = batch.collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r.qid, []).append((r.doc_id, round(r.score, 6)))
    for i, q in enumerate(QUERIES[:5]):
        single = [
            (r.doc_id, round(r.score, 6)) for r in reader.search(q, k=10).collect()
        ]
        assert by_qid.get(f"q{i}", []) == single, q


def test_conjunctive_and(reader):
    """AND semantics: every result doc contains ALL query terms (B10)."""
    from esbulk_spark.functions.analyzer import tokens_col

    q = "def func class"
    res = reader.search_and(q, k=10).collect()
    assert res
    docs = reader.docs().withColumn("toks", tokens_col("content"))
    for r in res:
        row = docs.filter(F.col("doc_id") == r.doc_id).select("toks").collect()[0]
        toks = set(row.toks)
        assert {"def", "func", "class"} <= toks


def test_search_response_es_shape(reader):
    """ES-parity response fields the reference's tests consume
    (run_test.go:416-465): took, hits.total.value, max_score, per-hit
    _id/_score/_source."""
    resp = reader.search_response("getUserName", k=5, track_total_hits=True)
    assert isinstance(resp["took"], int)
    assert resp["timed_out"] is False
    sh = resp["_shards"]
    assert sh["total"] == reader.stats["n_shards"]
    assert sh["failed"] == 0
    assert sh["successful"] + sh["skipped"] == sh["total"]
    assert sh["successful"] >= 1
    h = resp["hits"]
    assert h["hits"], "expected hits"
    # per-hit _index/_type (SearchResponse6/7 field parity)
    import os as _os

    assert all(
        x["_index"] == _os.path.basename(reader.index_dir.rstrip("/"))
        for x in h["hits"]
    )
    assert all(x["_type"] == "_doc" for x in h["hits"])
    # driver-side coordinator merge == the Spark global-merge search()
    want = [
        (r.doc_id, round(r.score, 9))
        for r in reader.search("getUserName", k=5).collect()
    ]
    got = [(x["_id"], round(x["_score"], 9)) for x in h["hits"]]
    assert got == want
    assert h["max_score"] == h["hits"][0]["_score"]
    scores = [x["_score"] for x in h["hits"]]
    assert scores == sorted(scores, reverse=True)
    assert all("content" in x["_source"] for x in h["hits"])
    # tracked total == number of docs containing >= 1 query term
    from esbulk_spark.functions.analyzer import analyze_query, tokens_col

    terms = analyze_query("getUserName")
    expected_total = (
        reader.docs()
        .filter(F.size(F.array_intersect(tokens_col("content"), F.array(*[F.lit(t) for t in terms]))) > 0)
        .count()
    )
    assert h["total"]["value"] == expected_total
    assert h["total"]["relation"] == "eq"


def test_cancellation_and_restart(spark, tmp_path):
    """A17: a build cancelled mid-flight (the analog of esbulk's
    SIGINT handling, run.go:96-108) restarts cleanly and converges to
    the same index bytes as an uninterrupted build."""
    import threading
    import time

    from esbulk_spark.config import IndexConfig
    from esbulk_spark.corpus import synth_corpus
    from esbulk_spark.plans.build import build_index

    d = str(tmp_path / "idx_cancel")
    clean = str(tmp_path / "idx_clean")

    def mk(path):
        return IndexConfig(index_dir=path, n_buckets=8, n_shards=4, chunk_cap=512)

    cancelled = []

    def run():
        try:
            build_index(spark, synth_corpus(spark, 4000, seed=9), mk(d), input_sig="c4k")
        except Exception as e:  # cancellation surfaces as a job failure
            cancelled.append(type(e).__name__)

    th = threading.Thread(target=run)
    th.start()
    deadline = time.time() + 60
    while time.time() < deadline and not os.path.exists(os.path.join(d, "docs")):
        time.sleep(0.02)
    spark.sparkContext.cancelAllJobs()  # SIGINT analog
    th.join(timeout=180)
    assert not th.is_alive()

    # restart resumes from the manifest and completes
    build_index(spark, synth_corpus(spark, 4000, seed=9), mk(d), input_sig="c4k")
    build_index(spark, synth_corpus(spark, 4000, seed=9), mk(clean), input_sig="c4k")
    a = {
        (r.term, r.shard, r.chunk): bytes(r.blob_ids)
        for r in spark.read.parquet(os.path.join(d, "postings")).collect()
    }
    b = {
        (r.term, r.shard, r.chunk): bytes(r.blob_ids)
        for r in spark.read.parquet(os.path.join(clean, "postings")).collect()
    }
    assert a == b


def test_store_content_false_sha_only_mode(spark, corpus, index_dir, reader, tmp_path):
    """store_content=False (the 10^12-file mode): docs table keeps only
    ids + sha + norms; postings/dictionary are IDENTICAL to the
    content-storing build; the sha invariant still holds vs source."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    d = str(tmp_path / "idx_noc")
    cfg = IndexConfig(
        index_dir=d, n_buckets=8, n_shards=4, chunk_cap=256, store_content=False
    )
    build_index(spark, corpus, cfg, input_sig="test150")
    r2 = IndexReader(spark, d)
    assert "content" not in r2.docs().columns
    assert "content_sha" in r2.docs().columns
    # sha invariant vs SOURCE table (content never entered the index)
    src = corpus.select(F.sha2("content", 256).alias("content_sha"))
    assert src.exceptAll(r2.docs().select("content_sha")).count() == 0
    # postings byte-identical to the content-storing build
    a = {
        (r.term, r.shard, r.chunk): (bytes(r.blob_ids), bytes(r.blob_tfs))
        for r in reader.postings().collect()
    }
    b = {
        (r.term, r.shard, r.chunk): (bytes(r.blob_ids), bytes(r.blob_tfs))
        for r in r2.postings().collect()
    }
    assert a == b
    shutil.rmtree(d, ignore_errors=True)


def test_resume_skips_done_stages(spark, corpus, index_dir):
    """Re-running build with same fingerprint recomputes nothing."""
    import time

    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    cfg = IndexConfig(index_dir=index_dir, n_buckets=8, n_shards=4, chunk_cap=256)
    t0 = time.time()
    build_index(spark, corpus, cfg, input_sig="test150")
    assert time.time() - t0 < 5.0
    man = [json.loads(x) for x in open(os.path.join(index_dir, "manifest.jsonl"))]
    assert sum(1 for m in man if m["stage"] == "postings") == 1


def test_resume_rebuilds_lost_stage(spark, corpus, index_dir, reader):
    """Crash recovery: losing one stage output rebuilds exactly that stage,
    and the rebuilt index is identical (byte-level postings equality)."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    before = {
        (r.term, r.shard, r.chunk): bytes(r.blob_ids)
        for r in reader.postings().collect()
    }
    shutil.rmtree(os.path.join(index_dir, "postings"))
    cfg = IndexConfig(index_dir=index_dir, n_buckets=8, n_shards=4, chunk_cap=256)
    build_index(spark, corpus, cfg, input_sig="test150")
    reader.refresh()  # postings dir was rebuilt in place
    after = {
        (r.term, r.shard, r.chunk): bytes(r.blob_ids)
        for r in reader.postings().collect()
    }
    assert before == after


def test_negative_user_ids_build_and_search(spark, tmp_path):
    """A user id_col with NEGATIVE longs must not corrupt the packed
    Arrow tier (rel-id packing needs doc_id >= 0; the build falls back
    to the struct tiers) — rank identity vs the full-scan oracle."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index
    from esbulk_spark.plans.score import bm25_fullscan

    rows = [
        (-100, "alpha beta gamma delta"),
        (-50, "alpha beta epsilon"),
        (0, "gamma delta zeta"),
        (77, "alpha zeta eta theta"),
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_neg")
    cfg = IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2, chunk_cap=64)
    stats = build_index(spark, docs, cfg, input_sig="neg")
    assert stats["min_doc_id"] == -100
    r = IndexReader(spark, d)
    for q in ("alpha beta", "gamma", "zeta"):
        oracle = [
            (x.doc_id, round(x.score, 6))
            for x in bm25_fullscan(
                docs.withColumn("doc_id", F.col("uid")), q, text_col="content"
            ).collect()
        ]
        got = [(x.doc_id, round(x.score, 6)) for x in r.search(q).collect()]
        assert got == oracle, q


def test_phrase_search_semantics(spark, tmp_path):
    """match_phrase over the opt-in positions table: adjacency in the
    analyzed stream, phrase_freq counts every occurrence, ordering by
    Lucene-style phrase BM25; phrases with an absent term are empty."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "merge sort join filter"),
        (1, "sort merge join"),
        (2, "big merge sort merge sort small"),
        (3, "merge only here"),
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_phrase")
    cfg = IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2,
                      store_positions=True)
    build_index(spark, docs, cfg, input_sig="ph")
    r = IndexReader(spark, d)
    got = [(x.doc_id, x.phrase_freq) for x in r.search_phrase("merge sort").collect()]
    assert got == [(2, 2), (0, 1)]  # doc 2 has the phrase twice
    assert [x.doc_id for x in r.search_phrase("sort merge join").collect()] == [1]
    assert r.search_phrase("join merge").collect() == []
    assert r.search_phrase("zzz merge").collect() == []  # absent term
    # three-term phrase requires full adjacency
    assert [x.doc_id for x in r.search_phrase("merge sort join").collect()] == [0]


def test_phrase_survives_fast_merge(spark, corpus, tmp_path):
    """Positions tables union through merge_segments_fast (disjoint doc
    ids): phrase results on the merged index == on a single-pass build
    of the union."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.operators.merge import merge_segments_fast
    from esbulk_spark.plans.build import build_index

    base = str(tmp_path)
    full_cfg = IndexConfig(index_dir=f"{base}/full", n_buckets=8, n_shards=4,
                           chunk_cap=256, store_positions=True)
    build_index(spark, corpus, full_cfg, input_sig="p150")
    full_docs = spark.read.parquet(f"{base}/full/docs")
    cut = full_docs.count() // 2
    for name, pred in [("f1", F.col("doc_id") < cut), ("f2", F.col("doc_id") >= cut)]:
        cfg = IndexConfig(index_dir=f"{base}/{name}", id_col="doc_id",
                          n_buckets=8, n_shards=4, chunk_cap=256,
                          store_positions=True)
        build_index(spark, full_docs.filter(pred).drop("content_sha"), cfg,
                    input_sig=name)
    mcfg = IndexConfig(index_dir=f"{base}/fm", id_col="doc_id", n_buckets=8,
                       n_shards=4, chunk_cap=256, store_positions=True)
    merge_segments_fast(spark, [f"{base}/f1", f"{base}/f2"], mcfg)
    rf = IndexReader(spark, f"{base}/full")
    rm = IndexReader(spark, f"{base}/fm")
    for q in ("return value", "get user"):
        a = [(x.doc_id, x.phrase_freq, round(x.score, 6))
             for x in rf.search_phrase(q).collect()]
        b = [(x.doc_id, x.phrase_freq, round(x.score, 6))
             for x in rm.search_phrase(q).collect()]
        assert a == b, q


def test_explain_matches_search_score(reader):
    """ES _explain analog: the per-term breakdown for a top hit must sum
    to exactly the score search() reports for that doc."""
    top = reader.search("flushBuffer retry score", k=3).collect()
    assert top
    for hit in top:
        exp = reader.explain("flushBuffer retry score", hit.doc_id)
        assert exp["matched"] is True
        assert abs(exp["explanation"]["value"] - hit.score) < 1e-9
        assert exp["explanation"]["details"]
        assert abs(
            sum(d["value"] for d in exp["explanation"]["details"])
            - exp["explanation"]["value"]
        ) < 1e-12
    # a non-matching doc
    none = reader.explain("zzznotaterm", top[0].doc_id)
    assert none["matched"] is False and none["explanation"]["value"] == 0.0


def test_search_response_highlight(reader):
    """ES highlighter analog: per-hit snippet with query terms wrapped
    in <em>..</em>, clipped around the first match."""
    resp = reader.search_response(
        "flushBuffer retry", k=3, highlight="content", highlight_window=40
    )
    hits = resp["hits"]["hits"]
    assert hits
    marked = [h for h in hits if "highlight" in h]
    assert marked, "top hits should highlight"
    for h in marked:
        frag = h["highlight"]["content"][0]
        assert "<em>" in frag and "</em>" in frag
        inner = frag.split("<em>")[1].split("</em>")[0].lower()
        assert any(t in inner or inner in t for t in ("flushbuffer", "flush", "buffer", "retry"))


def test_empty_corpus_builds_and_searches(spark, tmp_path):
    """A zero-doc build must produce a consistent (empty) index and
    empty search results, not crash — the resilience floor."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    docs = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    d = str(tmp_path / "idx_empty")
    stats = build_index(
        spark, docs, IndexConfig(index_dir=d, n_buckets=4, n_shards=2), input_sig="e0"
    )
    assert stats["n_docs"] == 0 and stats["total_postings"] == 0
    r = IndexReader(spark, d)
    assert r.search("anything", k=5).collect() == []
    assert r.search_rows("anything") == []
    resp = r.search_response("anything", k=5)
    assert resp["hits"]["hits"] == [] and resp["hits"]["max_score"] is None


def test_unicode_content_consistent(spark, tmp_path):
    """Non-ASCII content must flow through build+search without error
    and stay rank-identical to the full-scan oracle (the analyzer's
    treatment of unicode is whatever the spec says — the invariant is
    CONSISTENCY across the index and oracle renderings)."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "über straße naïve café getUserName"),
        (1, "getUserName plain ascii here"),
        (2, "日本語テキスト getUserName 混在"),
        (3, "emoji 🚀 rocket launch getUserName"),
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_uni")
    build_index(
        spark, docs,
        IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2),
        input_sig="uni",
    )
    r = IndexReader(spark, d)
    for q in ("getUserName", "rocket", "café"):
        oracle = [
            (x.doc_id, round(x.score, 6))
            for x in bm25_fullscan(
                docs.withColumn("doc_id", F.col("uid")), q, text_col="content"
            ).collect()
        ]
        got = [(x.doc_id, round(x.score, 6)) for x in r.search(q).collect()]
        assert got == oracle, q


def test_search_bool_semantics(spark, tmp_path):
    """ES bool query: must filters, should adds score, must_not excludes."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "merge sort join"),        # must + both shoulds
        (1, "merge only"),             # must, no should
        (2, "sort join nothing"),      # no must -> out
        (3, "merge sort window"),      # must_not 'window' -> out
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_bool")
    build_index(
        spark, docs,
        IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2),
        input_sig="bool",
    )
    r = IndexReader(spark, d)
    got = [
        x.doc_id
        for x in r.search_bool(
            must=["merge"], should=["sort join"], must_not=["window"]
        ).collect()
    ]
    assert set(got) == {0, 1}
    assert got[0] == 0  # should-matches outscore the must-only doc
    # absent must term -> empty; empty must -> pure OR minus exclusions
    assert r.search_bool(must=["zzz"], should=["merge"]).collect() == []
    or_only = {x.doc_id for x in r.search_bool(should=["merge sort"]).collect()}
    assert or_only == {0, 1, 2, 3}
    or_not = {x.doc_id for x in r.search_bool(should=["merge sort"], must_not=["window"]).collect()}
    assert or_not == {0, 1, 2}


def test_phrase_join_order_rarest_first():
    """VERDICT r3 item 2: the phrase slot-join chain must be driven by
    the min-df term, not the query's first token."""
    from esbulk_spark.plans.reader import phrase_join_order

    dfs = {"data": 10_000, "structure": 40, "the": 90_000}
    assert phrase_join_order(["data", "structure"], dfs) == [1, 0]
    assert phrase_join_order(["the", "data", "structure"], dfs) == [2, 1, 0]
    # duplicate terms: ties break by slot position (stable adjacency)
    assert phrase_join_order(["data", "data"], dfs) == [0, 1]


def test_phrase_without_positions_clear_error(spark, index_dir):
    """ADVICE r3: an index built without store_positions must raise a
    clear error from search_phrase, not a raw parquet-path failure."""
    import pytest

    r = IndexReader(spark, index_dir)
    assert r.has_positions() is False
    assert r.stats.get("store_positions") is False
    # terms present -> every positional family reaches the one guard
    for run in (
        lambda: r.search_phrase("def func"),
        lambda: r.search_phrase_sloppy("def func", slop=2),
        lambda: r.search_span_near(["def", "func"], slop=1),
        lambda: r.search_span_first("def", 3),
        lambda: r.search_phrase_prefix("def fun"),
    ):
        with pytest.raises(ValueError, match="store_positions"):
            run()
    # an absent term still returns empty (never reaches the positions scan)
    assert r.search_phrase("zzzznotaterm def").collect() == []


def test_seeded_and_bool_match_unseeded(reader):
    """The rarest-must-term seed prune must be invisible to results.
    Under the default gate a selective must term engages it; seeded rows
    equal the unseeded plan's (driver_score_max=0 turns the seed off)
    for search_and and for search_bool with must_not, msm and filter."""
    # selective terms (the guard skips seeding when the rarest term
    # keeps more than half the corpus) picked from the live dictionary:
    # the must term and a must_not term
    rare, excl = (
        r["term"] for r in reader.dictionary()
        .filter((F.col("df") >= 3) & (F.col("df") <= 60))
        .orderBy(F.desc("df"), "term")
        .limit(2)
        .collect()
    )
    assert reader._seed_doc_ids(reader.lookup_terms([rare])) is not None
    q = f"{rare} def func"
    runs = [
        lambda: reader.search_and(q),
        lambda: reader.search_bool(must=[rare], should=["def func"],
                                   must_not=[excl]),
        lambda: reader.search_bool(must=[rare], should=["def func return"],
                                   minimum_should_match=2),
        lambda: reader.search_bool(must=[rare], should=["def func"],
                                   filter="lang is not null"),
    ]

    def rows(run):
        return [(r.doc_id, round(r.score, 6)) for r in run().collect()]

    seeded = [rows(run) for run in runs]
    try:
        reader.driver_score_max = 0  # the unseeded full decode
        assert reader._seed_doc_ids(reader.lookup_terms([rare])) is None
        unseeded = [rows(run) for run in runs]
    finally:
        del reader.driver_score_max
    assert seeded == unseeded
    assert seeded[0] and seeded[1]  # AND and bool hits are non-empty


def test_search_many_empty_schema_matches_nonempty(reader):
    """ADVICE r3: the no-terms early return must carry the same public
    (qid, doc_id, score) schema as the normal path."""
    empty = reader.search_many({"q0": "zzzznotaterm"})
    full = reader.search_many({"q0": "getUserName"})
    assert empty.columns == full.columns == ["qid", "doc_id", "score"]
    assert [f.dataType for f in empty.schema.fields] == [
        f.dataType for f in full.schema.fields
    ]
    assert empty.collect() == []
    # unions across empty/non-empty results must work (the breakage mode)
    assert empty.unionByName(full).count() == full.count()


def test_segmented_build_empty_corpus(spark, tmp_path):
    """ADVICE r3: segmented=N on a zero-doc corpus must degrade to one
    empty-safe build, not TypeError on the wave bounds."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    docs = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    d = str(tmp_path / "idx_seg_empty")
    stats = build_index(
        spark, docs,
        IndexConfig(index_dir=d, n_buckets=4, n_shards=2, segmented=2),
        input_sig="se0",
    )
    assert stats["n_docs"] == 0 and stats["segmented"] == 2
    r = IndexReader(spark, d)
    assert r.search("anything", k=5).collect() == []
    # fingerprint stamp makes the re-run a no-op
    stats2 = build_index(
        spark, docs,
        IndexConfig(index_dir=d, n_buckets=4, n_shards=2, segmented=2),
        input_sig="se0",
    )
    assert stats2["fingerprint"] == stats["fingerprint"]


def test_fused_positions_single_tokenize(spark, tmp_path):
    """VERDICT r3 item 6: with store_positions the build derives postings
    AND positions from ONE tokenize pass — the combined token plan holds
    exactly one regexp_extract_all, and the manifest records the
    positions stage as fused."""
    import json as _json
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.functions.analyzer import tokens_col
    from esbulk_spark.plans.build import build_index

    # plan shape: one tokenizer evaluation feeding size + posexplode
    # (InferFiltersFromGenerate is excluded session-wide, session.py)
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, content string")
    src = docs.select("doc_id", tokens_col("content").alias("__toks"))
    tokens = src.select(
        "doc_id", F.size("__toks").alias("dl"),
        F.posexplode("__toks").alias("pos", "term"),
    )
    plan = tokens._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == 1

    rows = [(0, "merge sort join window"), (1, "sort merge join extra pad")]
    corpus = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_fused")
    build_index(
        spark, corpus,
        IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2,
                    store_positions=True),
        input_sig="fused",
    )
    recs = [
        _json.loads(x)
        for x in open(f"{d}/manifest.jsonl")
        if x.strip()
    ]
    pos_recs = [r for r in recs if r.get("stage") == "positions"]
    assert pos_recs and pos_recs[-1].get("fused") is True
    r = IndexReader(spark, d)
    assert r.stats["store_positions"] is True and r.has_positions()
    assert [x.doc_id for x in r.search_phrase("merge sort").collect()] == [0]
    assert [x.doc_id for x in r.search_phrase("sort merge join").collect()] == [1]


def test_positional_build_plan_has_one_postings_exchange(spark, tmp_path, monkeypatch):
    """A positional build takes the same postings shape as a plain one:
    the dumped plan (ESBULK_BUILD_EXPLAIN_DIR) holds exactly one
    (term, shard) exchange, no posexplode, and no aggregate keyed on
    doc_id — tf and positions come from the per-document run-length
    pass, not from token-occurrence rows grouped after a shuffle."""
    import re

    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    exp = tmp_path / "explain"
    monkeypatch.setenv("ESBULK_BUILD_EXPLAIN_DIR", str(exp))
    rows = [(0, "merge sort join window"), (1, "sort merge join extra pad")]
    corpus = spark.createDataFrame(rows, "uid long, content string")
    build_index(
        spark, corpus,
        IndexConfig(index_dir=str(tmp_path / "idx"), id_col="uid", n_buckets=4,
                    n_shards=2, store_positions=True),
        input_sig="plan-shape",
    )
    plan = (exp / "postings.txt").read_text()
    assert len(re.findall(r"hashpartitioning\(term#\d+, shard#\d+", plan)) == 1
    assert "posexplode" not in plan
    assert not re.search(r"Keys \[\d+\]: \[[^\]]*doc_id", plan)


def test_positions_resume_sha_only_reruns_one_stage_without_leak(spark, corpus, tmp_path):
    """Sha-only positional index (store_content=False, assigned ids):
    deleting <index>/positions and rebuilding reruns only that stage,
    reproduces the same rows, and leaves no persisted RDD behind — the
    doc-id re-derivation's cache is unpersisted."""
    import json as _json

    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    jsc = spark.sparkContext._jsc
    corpus.count()  # materialize the fixture's own cache first
    n_persisted = jsc.getPersistentRDDs().size()
    d = str(tmp_path / "idx_pos_sha")
    cfg = IndexConfig(index_dir=d, n_buckets=4, n_shards=2,
                      store_content=False, store_positions=True)
    build_index(spark, corpus, cfg, input_sig="pos-sha")
    assert jsc.getPersistentRDDs().size() == n_persisted

    def positions():
        return sorted(
            (r.term, r.doc_id, list(r.positions))
            for r in spark.read.parquet(f"{d}/positions").collect()
        )

    def stages():
        with open(f"{d}/manifest.jsonl") as f:
            return [_json.loads(x)["stage"] for x in f if x.strip()]

    first, n_entries = positions(), len(stages())
    assert first
    shutil.rmtree(f"{d}/positions")
    build_index(spark, corpus, cfg, input_sig="pos-sha")
    assert stages()[n_entries:] == ["positions"]
    assert positions() == first
    assert jsc.getPersistentRDDs().size() == n_persisted


def test_search_response_es6_vs_es7_total_shape(reader):
    """VERDICT r3 item 8: the pre-ES7 response model (SearchResponse6,
    run_test.go:416-439) reads hits.total as a bare number; ES7+
    (run_test.go:441-465) as {value, relation}. Same hits either way."""
    r7 = reader.search_response("getUserName", k=5)
    r6 = reader.search_response("getUserName", k=5, es_version=6)
    assert isinstance(r7["hits"]["total"], dict)
    assert {"value", "relation"} <= set(r7["hits"]["total"])
    assert isinstance(r6["hits"]["total"], int)
    assert r6["hits"]["total"] == r7["hits"]["total"]["value"]
    assert r6["hits"]["hits"] == r7["hits"]["hits"]


def test_search_response_all_four_es_versions(reader):
    """The reference integration matrix runs ES 5.6.16 / 6.8.14 /
    7.17.7 / 8.6.0 (run_test.go:218-248). 5 is 6-shaped (flat total)
    minus _shards.skipped; 8 is 7-shaped (nested total) minus the
    per-hit _type that ES8 removed. Scores and ids identical across
    all four."""
    import pytest

    rs = {v: reader.search_response("getUserName", k=5, es_version=v)
          for v in (5, 6, 7, 8)}
    for v in (5, 6):
        assert isinstance(rs[v]["hits"]["total"], int)
    for v in (7, 8):
        assert {"value", "relation"} <= set(rs[v]["hits"]["total"])
    assert "skipped" not in rs[5]["_shards"]
    for v in (6, 7, 8):
        assert "skipped" in rs[v]["_shards"]
    for v in (5, 6, 7):
        assert all(h["_type"] == "_doc" for h in rs[v]["hits"]["hits"])
    assert all("_type" not in h for h in rs[8]["hits"]["hits"])
    ids_scores = {
        v: [(h["_id"], h["_score"]) for h in rs[v]["hits"]["hits"]]
        for v in rs
    }
    assert len({tuple(x) for x in ids_scores.values()}) == 1
    with pytest.raises(ValueError):
        reader.search_response("getUserName", es_version=9)


def test_search_prefix_expansion_and_scores(reader):
    """ES prefix query: dictionary expansion + BM25 disjunction over the
    expanded terms — identical to an explicit multi-term search over
    exactly those terms."""
    from esbulk_spark.functions.analyzer import analyze_query

    dfs = reader.expand_prefix("get")
    assert dfs and all(t.startswith("get") for t in dfs)
    # every expanded term survives the analyzer unchanged (all-lowercase
    # dictionary terms), so the explicit OR query is the same term set
    joined = " ".join(sorted(dfs))
    assert sorted(analyze_query(joined)) == sorted(dfs)
    via_prefix = [
        (r.doc_id, round(r.score, 6))
        for r in reader.search_prefix("get", k=10).collect()
    ]
    via_or = [
        (r.doc_id, round(r.score, 6)) for r in reader.search(joined, k=10).collect()
    ]
    assert via_prefix == via_or and via_prefix
    assert reader.search_prefix("zzzznotaprefix").collect() == []
    assert reader.expand_prefix("") == {}
    # max_expansions caps in term order
    one = reader.expand_prefix("get", max_expansions=1)
    assert len(one) == 1 and list(one) == [sorted(dfs)[0]]


def test_phrase_prefix_semantics(spark, tmp_path):
    """match_phrase_prefix: body tokens adjacent, LAST token a prefix —
    the union of expansions' positions fills the last slot."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "merge sort join"),          # merge s* -> sort
        (1, "merge scan filter"),        # merge s* -> scan
        (2, "merge join sort"),          # 'merge' not followed by s*
        (3, "sort merge stream again"),  # merge s* -> stream (mid-doc)
        (4, "merge merge sort"),         # adjacency at slot 2 only
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_pp")
    build_index(
        spark, docs,
        IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2,
                    store_positions=True),
        input_sig="pp",
    )
    r = IndexReader(spark, d)
    got = {x.doc_id: x.phrase_freq for x in r.search_phrase_prefix("merge s").collect()}
    assert set(got) == {0, 1, 3, 4}
    assert got[4] == 1  # only the second 'merge' is followed by s*
    # single-token prefix query degenerates to prefix-term positions
    got1 = {x.doc_id for x in r.search_phrase_prefix("s").collect()}
    assert got1 == {0, 1, 2, 3, 4}  # every doc containing an s* term
    assert r.search_phrase_prefix("zzz s").collect() == []  # absent body
    assert r.search_phrase_prefix("merge zzzz").collect() == []  # no expansion


def test_search_fuzzy_expansion_and_scores(reader):
    """ES fuzzy query: Levenshtein dictionary expansion + BM25
    disjunction == explicit multi-term search over the expansions."""
    import itertools

    def lev(a, b):
        # textbook DP, test-side oracle
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    vocab = {r["term"]: int(r["df"]) for r in reader.dictionary().collect()}
    probe = sorted(vocab)[0]
    # fuzziness=1 must at minimum find the probe itself, and exactly
    # the vocab terms within 1 edit
    dfs = reader.expand_fuzzy(probe, fuzziness=1)
    want = {t for t in vocab if lev(t, probe) <= 1}
    assert set(dfs) == (want if len(want) <= 50 else set(itertools.islice(sorted(want), 50)))
    assert probe in dfs and dfs[probe] == vocab[probe]
    # disjunction identity against an explicit OR query
    joined = " ".join(sorted(dfs))
    via_fuzzy = [
        (r.doc_id, round(r.score, 6))
        for r in reader.search_fuzzy(probe, k=10, fuzziness=1).collect()
    ]
    via_or = [
        (r.doc_id, round(r.score, 6)) for r in reader.search(joined, k=10).collect()
    ]
    assert via_fuzzy == via_or and via_fuzzy
    # AUTO ladder (public ES spec): 0 edits <=2 chars, 1 for 3-5, 2 above
    from esbulk_spark.plans.reader import fuzziness_edits

    assert [fuzziness_edits("ab" * n, "AUTO") for n in (1, 2, 3)] == [0, 1, 2]
    # prefix_length pins the head: expansions must share it
    pl = reader.expand_fuzzy(probe, fuzziness=2, prefix_length=len(probe))
    assert all(t.startswith(probe) for t in pl)
    assert reader.search_fuzzy("zzzznotaterm", fuzziness=1).collect() == []


def test_search_wildcard(reader):
    """ES wildcard query: *-/?-pattern dictionary expansion + BM25
    disjunction."""
    from esbulk_spark.plans.reader import wildcard_to_like

    assert wildcard_to_like("s?a*") == "s_a%"
    assert wildcard_to_like("a%b_c\\d*") == "a\\%b\\_c\\\\d%"
    vocab = sorted(r["term"] for r in reader.dictionary().collect())
    probe = next(t for t in vocab if t.isalpha() and len(t) >= 3)
    pat = probe[0] + "*" + probe[-1]
    want = {t for t in vocab if t.startswith(probe[0]) and t.endswith(probe[-1]) and len(t) >= 2}
    dfs = reader.expand_wildcard(pat)
    assert set(dfs) == set(sorted(want)[:50]) and probe in dfs
    joined = " ".join(sorted(dfs))
    via_wc = [
        (r.doc_id, round(r.score, 6))
        for r in reader.search_wildcard(pat, k=10).collect()
    ]
    via_or = [
        (r.doc_id, round(r.score, 6)) for r in reader.search(joined, k=10).collect()
    ]
    assert via_wc == via_or and via_wc
    assert reader.search_wildcard("zzz*zzz").collect() == []


def test_search_regexp(reader):
    """ES regexp query: ANCHORED full-term match over the dictionary
    (Lucene consumes the whole term), scored as a BM25 disjunction
    identical to the equivalent explicit multi-term query."""
    import re

    vocab = sorted(r["term"] for r in reader.dictionary().collect())
    probe = next(t for t in vocab if t.isalpha() and len(t) >= 4)
    # alternation + char class, still anchored
    pat = f"{probe[:2]}[a-z]*"
    want = {t for t in vocab if re.fullmatch(pat, t)}
    dfs = reader.expand_regexp(pat)
    assert set(dfs) == set(sorted(want)[:50]) and probe in dfs
    # anchoring: a bare substring of probe must NOT match longer terms
    sub = probe[:3]
    if any(t != sub and sub in t for t in vocab):
        assert all(t == sub for t in reader.expand_regexp(re.escape(sub)))
    via_re = [
        (r.doc_id, round(r.score, 6))
        for r in reader.search_regexp(pat, k=10).collect()
    ]
    via_or = [
        (r.doc_id, round(r.score, 6))
        for r in reader.search(" ".join(sorted(dfs)), k=10).collect()
    ]
    assert via_re == via_or and via_re
    assert reader.search_regexp("zzz+never").collect() == []


def test_bool_minimum_should_match(spark, tmp_path):
    """minimum_should_match gates on the DISTINCT should-term count;
    scores still sum over every matched term."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "alpha beta gamma"),   # 3 should terms
        (1, "alpha beta delta"),   # 2
        (2, "alpha delta delta"),  # 1
        (3, "delta delta delta"),  # 0
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_msm")
    build_index(
        spark, docs,
        IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2),
        input_sig="msm",
    )
    r = IndexReader(spark, d)
    should = ["alpha", "beta", "gamma"]
    ids = lambda res: sorted(x.doc_id for x in res.collect())  # noqa: E731
    assert ids(r.search_bool(should=should, minimum_should_match=2)) == [0, 1]
    assert ids(r.search_bool(should=should, minimum_should_match=3)) == [0]
    assert ids(r.search_bool(should=should, minimum_should_match=1)) == [0, 1, 2]
    # msm exceeding the clause count matches nothing
    assert ids(r.search_bool(should=should, minimum_should_match=4)) == []
    # composes with must and must_not
    assert ids(
        r.search_bool(must=["alpha"], should=should, minimum_should_match=2)
    ) == [0, 1]
    assert ids(
        r.search_bool(
            should=should, must_not=["gamma"], minimum_should_match=2
        )
    ) == [1]
    # msm=0 (default) keeps the old behavior: any scored term matches
    assert ids(r.search_bool(should=should)) == [0, 1, 2]


def test_search_page_tiles_ranking(reader):
    """search_after keyset pagination: consecutive pages tile the full
    (score DESC, doc_id ASC) ranking exactly, with and without score
    rounding."""
    q = "flushBuffer retry score"
    for rt in (None, 4):
        full = [
            (r.doc_id, r.score) for r in reader.search_page(q, k=15, round_to=rt).collect()
        ]
        p1 = [(r.doc_id, r.score) for r in reader.search_page(q, k=5, round_to=rt).collect()]
        after = (p1[-1][1], p1[-1][0])
        p2 = [
            (r.doc_id, r.score)
            for r in reader.search_page(q, k=5, search_after=after, round_to=rt).collect()
        ]
        after2 = (p2[-1][1], p2[-1][0])
        p3 = [
            (r.doc_id, r.score)
            for r in reader.search_page(q, k=5, search_after=after2, round_to=rt).collect()
        ]
        assert p1 + p2 + p3 == full
    # page 1 == search() head: same docs in the same canonical order
    # (cross-path consistency between the WAND scorer and score_all)
    s = [r.doc_id for r in reader.search(q, k=5).collect()]
    p = [r.doc_id for r in reader.search_page(q, k=5).collect()]
    assert p == s and p
    assert reader.search_page("zzznotaterm").collect() == []


def test_search_response_aggregations(reader):
    """ES terms aggregation in the response: buckets over the FULL
    match set in (doc_count DESC, key ASC) order; totals equal the
    track_total_hits count when bucketing a never-null field."""
    from pyspark.sql import functions as F

    # bucket by dl parity — derived field is not stored, so use n_terms
    # which IS stored in the docs table
    resp = reader.search_response(
        "getUserName",
        k=3,
        aggs={"by_terms": {"terms": {"field": "n_terms", "size": 5}}},
        track_total_hits=True,
    )
    buckets = resp["aggregations"]["by_terms"]["buckets"]
    assert buckets and all({"key", "doc_count"} <= set(b) for b in buckets)
    counts = [b["doc_count"] for b in buckets]
    assert counts == sorted(counts, reverse=True)
    assert len(buckets) <= 5
    # bucket totals never exceed the true match total
    assert sum(counts) <= resp["hits"]["total"]["value"]
    # unsupported agg kinds fail loudly
    import pytest

    with pytest.raises(ValueError, match="unsupported aggregation"):
        reader.search_response("getUserName", aggs={"x": {"avg": {"field": "dl"}}})


def test_multi_match_best_and_most_fields(spark, tmp_path):
    """multi_match across two per-field indexes: best_fields takes the
    per-doc max, most_fields the sum; per-field stats stay independent."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index
    from esbulk_spark.plans.reader import multi_match

    rows = [
        (0, "alpha beta", "news"),
        (1, "alpha alpha beta", "blog"),
        (2, "gamma delta", "news"),
        (3, "beta gamma", "alpha"),  # query term in the OTHER field
    ]
    docs = spark.createDataFrame(rows, "uid long, body string, kind string")
    readers = {}
    for field in ("body", "kind"):
        d = str(tmp_path / f"idx_{field}")
        build_index(
            spark,
            docs.select("uid", field),
            IndexConfig(index_dir=d, id_col="uid", text_col=field,
                        n_buckets=4, n_shards=2),
            input_sig=f"mm_{field}",
        )
        readers[field] = IndexReader(spark, d)
    best = {r.doc_id: r.score for r in multi_match(readers, "alpha", "best_fields").collect()}
    most = {r.doc_id: r.score for r in multi_match(readers, "alpha", "most_fields").collect()}
    assert set(best) == {0, 1, 3}  # doc 3 matches via the kind field
    # single-field matches: combine modes agree; per-field scoring intact
    b0 = readers["body"].score_all("alpha").filter("doc_id = 0").first().score
    assert abs(best[0] - b0) < 1e-9 and abs(most[0] - b0) < 1e-9
    k3 = readers["kind"].score_all("alpha").filter("doc_id = 3").first().score
    assert abs(best[3] - k3) < 1e-9
    import pytest

    with pytest.raises(ValueError, match="match_type"):
        multi_match(readers, "alpha", "cross_fields")


def test_suggest_terms_and_get_doc(reader):
    """Term suggester ranks (distance ASC, freq DESC, term ASC) and only
    fires for corpus-absent tokens in missing mode; get_doc returns the
    ES GET envelope."""
    vocab = {r["term"]: int(r["df"]) for r in reader.dictionary().collect()}
    present = max(vocab, key=lambda t: (len(t), vocab[t]))
    typo = present[:-1] + ("x" if present[-1] != "x" else "y")
    sug = reader.suggest_terms(f"{present} {typo}", size=5)
    assert sug[present] == []  # in-vocab token: no suggestion (missing mode)
    opts = sug[typo]
    assert opts and opts[0]["text"] == present and opts[0]["distance"] == 1
    assert opts[0]["freq"] == vocab[present]
    keys = [(o["distance"], -o["freq"], o["text"]) for o in opts]
    assert keys == sorted(keys)
    assert all(o["text"] != typo for o in opts)
    # always mode suggests even for present tokens (never the exact term)
    always = reader.suggest_terms(present, suggest_mode="always")
    assert all(o["text"] != present for o in always[present])
    import pytest

    with pytest.raises(ValueError, match="suggest_mode"):
        reader.suggest_terms("x", suggest_mode="popular")
    # get_doc envelope
    some_id = reader.docs().select("doc_id").orderBy("doc_id").first().doc_id
    got = reader.get_doc(some_id)
    assert got["found"] and got["_id"] == some_id and "content" in got["_source"]
    missing = reader.get_doc(-999_999)
    assert missing == {
        "_index": got["_index"], "_type": "_doc", "_id": -999_999,
        "found": False,
    }


def test_significant_terms_jlh(spark, tmp_path):
    """significant_terms: a term co-occurring only with the query term
    outranks globally-common terms; query terms and sub-threshold
    counts are excluded; JLH score matches a hand computation."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = []
    for i in range(5):  # foreground cluster: special + cluster together
        rows.append((i, "special cluster common filler"))
    for i in range(5, 20):  # background: common everywhere, cluster absent
        rows.append((i, "common filler other words"))
    docs = spark.createDataFrame(rows, "uid long, body string")
    d = str(tmp_path / "idx_sig")
    build_index(
        spark, docs,
        IndexConfig(index_dir=d, id_col="uid", text_col="body",
                    n_buckets=4, n_shards=2),
        input_sig="sig",
    )
    r = IndexReader(spark, d)
    assert r.stats["text_col"] == "body"  # recorded at build time
    got = {x.key: x for x in r.search_aggs_significant_terms("special").collect()}
    # 'cluster' is fg-exclusive: fg_pct=1, bg_pct=5/20 -> (1-.25)*(1/.25)=3.0
    assert "cluster" in got
    assert abs(got["cluster"].score - 3.0) < 1e-9
    assert got["cluster"].doc_count == 5 and got["cluster"].bg_count == 5
    # the query term itself is excluded; corpus-wide terms score <= 0
    assert "special" not in got
    assert "common" not in got and "filler" not in got  # fg% == bg% -> 0
    # min_doc_count prunes the tail
    none = r.search_aggs_significant_terms("special", min_doc_count=6).collect()
    assert none == []
    assert r.search_aggs_significant_terms("zzznotaterm").collect() == []


def test_search_indices_cross_index_merge(spark, tmp_path):
    """Multi-index search: global top-k over per-index hits, each index
    scored with its own statistics; the per-index top-k is a superset
    of each index's contribution to the merged page."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index
    from esbulk_spark.plans.reader import search_indices

    corpora = {
        "idx_a": [(0, "needle alpha beta"), (1, "alpha beta gamma")],
        "idx_b": [(0, "needle needle beta"), (1, "gamma delta")],
    }
    readers = {}
    for name, rows in corpora.items():
        docs = spark.createDataFrame(rows, "uid long, content string")
        d = str(tmp_path / name)
        build_index(
            spark, docs,
            IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2),
            input_sig=name,
        )
        readers[name] = IndexReader(spark, d)
    got = search_indices(readers, "needle", k=10).collect()
    assert {(r["_index"], r.doc_id) for r in got} == {("idx_a", 0), ("idx_b", 0)}
    # per-index scores match the single-index search exactly
    for r in got:
        solo = readers[r["_index"]].search("needle", k=1).first()
        assert solo.doc_id == r.doc_id and abs(solo.score - r.score) < 1e-12
    # global order: scores descending
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)
    # k truncates the merged page
    assert len(search_indices(readers, "beta", k=1).collect()) == 1
    import pytest

    with pytest.raises(ValueError, match="at least one reader"):
        search_indices({}, "x")


def test_bool_filter_context(spark, tmp_path):
    """ES filter context: non-scoring stored-field predicate — hits are
    the unfiltered hits restricted to passing docs, scores unchanged."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "alpha beta", "en"),
        (1, "alpha gamma", "de"),
        (2, "alpha alpha", "en"),
    ]
    docs = spark.createDataFrame(rows, "uid long, content string, lang string")
    d = str(tmp_path / "idx_flt")
    build_index(
        spark, docs,
        IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2),
        input_sig="flt",
    )
    r = IndexReader(spark, d)
    unfiltered = {x.doc_id: x.score for x in r.search_bool(must=["alpha"]).collect()}
    filtered = {x.doc_id: x.score for x in r.search_bool(must=["alpha"], filter="lang = 'en'").collect()}
    assert set(unfiltered) == {0, 1, 2} and set(filtered) == {0, 2}
    for i in filtered:  # filter never changes scores
        assert abs(filtered[i] - unfiltered[i]) < 1e-12
    assert r.search_bool(must=["alpha"], filter="lang = 'xx'").collect() == []


def test_more_like_this(spark, tmp_path):
    """MLT: seed excluded, most-similar doc ranks first, term selection
    honors min_doc_freq and the max_query_terms cap."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "alpha beta gamma delta"),        # seed
        (1, "alpha beta gamma delta extra"),  # near-copy -> top hit
        (2, "alpha beta other words"),        # partial overlap
        (3, "unrelated stuff entirely"),
        (4, "alpha solo"),
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_mlt")
    build_index(
        spark, docs,
        IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2),
        input_sig="mlt",
    )
    r = IndexReader(spark, d)
    got = [x.doc_id for x in r.more_like_this(0, min_doc_freq=1).collect()]
    assert got and got[0] == 1      # the near-copy wins
    assert 0 not in got             # seed excluded
    assert 3 not in got             # no shared selected terms
    # min_doc_freq prunes rare terms from the selection: with
    # min_doc_freq=2, 'delta' (df=2) stays but doc-4-only overlap
    # ('alpha', df=4) still matches doc 4
    got2 = [x.doc_id for x in r.more_like_this(0, min_doc_freq=2).collect()]
    assert got2[0] == 1
    # max_query_terms=1 keeps only the rarest-weighted term
    got3 = r.more_like_this(0, max_query_terms=1, min_doc_freq=1).collect()
    assert got3  # still returns similar docs via the single term
    # absent seed -> empty
    assert r.more_like_this(999).collect() == []


MLT_SEED = 0

# the top-k families that pass through the single-query driver gate
GATED = {
    "search": lambda r, **kw: r.search("flushBuffer retry score", **kw),
    "prefix": lambda r, **kw: r.search_prefix("get", **kw),
    "fuzzy": lambda r, **kw: r.search_fuzzy("retri", **kw),
    "wildcard": lambda r, **kw: r.search_wildcard("f*sh", **kw),
    "regexp": lambda r, **kw: r.search_regexp("re.*", **kw),
    "stemmed": lambda r, **kw: r.search_stemmed("values", **kw),
    "more_like_this": lambda r, **kw: r.more_like_this(MLT_SEED, **kw),
}


def test_gated_families_score_on_the_driver(spark, index_dir, monkeypatch):
    """search, the expansion families and more_like_this share one
    single-query gate: under the default driver_score_max none of them
    runs the distributed per-shard plan."""
    def no_plan(self, *args, **kwargs):
        raise AssertionError("distributed plan below the driver gate")

    monkeypatch.setattr(IndexReader, "_per_shard_scores", no_plan)
    r = IndexReader(spark, index_dir)
    for name, run in GATED.items():
        assert run(r, k=5).collect(), name


def test_gated_families_rank_identical_across_the_gate(spark, index_dir, tmp_path):
    """Every gated family returns the same rows on the driver path and
    on the distributed plan (driver_score_max=0), also with tombstones;
    more_like_this never returns its seed."""
    from esbulk_spark.plans import admin

    def ranks(d, gate):
        r = IndexReader(spark, d)
        r.driver_score_max = gate
        return {
            name: [(x.doc_id, x.score) for x in run(r, k=8, round_to=4).collect()]
            for name, run in GATED.items()
        }

    drv, dist = ranks(index_dir, 2_000_000), ranks(index_dir, 0)
    assert drv == dist and all(drv.values())
    # tombstone every family's top hit (the seed stays live)
    victims = sorted({rows[0][0] for rows in drv.values()} - {MLT_SEED})
    d = str(tmp_path / "tomb")
    admin.snapshot_index(index_dir, str(tmp_path / "snap"))
    admin.restore_index(str(tmp_path / "snap"), d)
    admin.delete_by_ids(spark, d, victims)
    t_drv, t_dist = ranks(d, 2_000_000), ranks(d, 0)
    assert t_drv == t_dist and all(t_drv.values())
    assert not set(victims) & {x for rows in t_drv.values() for x, _ in rows}
    for got in (drv, dist, t_drv, t_dist):
        assert MLT_SEED not in {x for x, _ in got["more_like_this"]}


def test_analyze_api_and_term_vectors(reader):
    """_analyze returns the index-time token stream with positions;
    _termvectors agrees with it and with dictionary statistics."""
    toks = reader.analyze("getUserName flushBuffer")
    assert [t["position"] for t in toks] == list(range(len(toks)))
    from esbulk_spark.functions.analyzer import tokenize_text

    assert [t["token"] for t in toks] == tokenize_text("getUserName flushBuffer")
    some_id = int(reader.docs().select("doc_id").orderBy("doc_id").first().doc_id)
    tv = reader.term_vectors(some_id, term_statistics=True)
    assert tv["found"]
    content = reader.get_doc(some_id)["_source"]["content"]
    stream = tokenize_text(content)
    for t, e in tv["terms"].items():
        assert e["term_freq"] == len(e["positions"]) == stream.count(t)
        assert [stream[p] for p in e["positions"]] == [t] * e["term_freq"]
        assert e["doc_freq"] >= 1  # the doc itself carries the term
    assert sum(e["term_freq"] for e in tv["terms"].values()) == len(stream)
    assert reader.term_vectors(-5)["found"] is False


def test_boosting_query_and_tie_breaker(spark, tmp_path):
    """boosting: negative matches demoted (never dropped); dis_max
    tie_breaker interpolates between max and sum of field scores."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index
    from esbulk_spark.plans.reader import boosting_query, multi_match

    rows = [
        (0, "alpha beta", "news"),
        (1, "alpha old deprecated", "blog"),
        (2, "alpha fresh", "alpha"),
    ]
    docs = spark.createDataFrame(rows, "uid long, body string, kind string")
    d = str(tmp_path / "idx_boost")
    build_index(
        spark, docs.select("uid", F.col("body").alias("content")),
        IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2),
        input_sig="boost",
    )
    r = IndexReader(spark, d)
    base = {x.doc_id: x.score for x in r.score_all("alpha").collect()}
    got = {x.doc_id: x.score for x in boosting_query(r, "alpha", "deprecated", 0.5).collect()}
    assert set(got) == set(base)  # demotion never excludes
    assert abs(got[1] - base[1] * 0.5) < 1e-12
    for i in (0, 2):
        assert abs(got[i] - base[i]) < 1e-12
    # negative term absent from corpus: scores unchanged
    same = {x.doc_id: x.score for x in boosting_query(r, "alpha", "zzz", 0.5).collect()}
    assert all(abs(same[i] - base[i]) < 1e-12 for i in base)
    import pytest

    with pytest.raises(ValueError, match="negative_boost"):
        boosting_query(r, "alpha", "old", 1.5)
    # dis_max tie_breaker: build per-field indexes and check
    # max + tb * (sum - max) exactly
    readers = {}
    for field in ("body", "kind"):
        df2 = str(tmp_path / f"idx_tb_{field}")
        build_index(
            spark, docs.select("uid", field),
            IndexConfig(index_dir=df2, id_col="uid", text_col=field,
                        n_buckets=4, n_shards=2),
            input_sig=f"tb_{field}",
        )
        readers[field] = IndexReader(spark, df2)
    best = {x.doc_id: x.score for x in multi_match(readers, "alpha", "best_fields").collect()}
    most = {x.doc_id: x.score for x in multi_match(readers, "alpha", "most_fields").collect()}
    tb = {x.doc_id: x.score for x in multi_match(readers, "alpha", "best_fields", tie_breaker=0.3).collect()}
    for i in tb:
        want = best[i] + 0.3 * (most[i] - best[i])
        assert abs(tb[i] - want) < 1e-9, i
    with pytest.raises(ValueError, match="tie_breaker"):
        multi_match(readers, "alpha", "best_fields", tie_breaker=2.0)


def test_count_and_mget(reader):
    """_count == the track_total_hits total; _mget preserves request
    order and per-id found flags in one scan."""
    q = "getUserName"
    resp = reader.search_response(q, k=1, track_total_hits=True)
    assert reader.count(q) == resp["hits"]["total"]["value"]
    assert reader.count("zzznotaterm") == 0
    ids = [int(r.doc_id) for r in reader.docs().select("doc_id").orderBy("doc_id").limit(2).collect()]
    got = reader.get_docs([ids[1], -7, ids[0]])
    assert [g["_id"] for g in got] == [ids[1], -7, ids[0]]
    assert [g["found"] for g in got] == [True, False, True]
    assert got[0]["_source"] == reader.get_doc(ids[1])["_source"]


def test_rescore_and_function_score(spark, tmp_path):
    """rescore: phrase matches inside the window get boosted, window
    docs without the phrase keep their weighted original; function_score
    multiplies BM25 by modifier(factor * field)."""
    import math

    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "alpha beta gamma", 100),
        (1, "alpha gamma beta", 100),   # same terms, no "beta gamma" phrase
        (2, "alpha only here", 10000),  # phrase absent; big boost field
    ]
    docs = spark.createDataFrame(rows, "uid long, content string, views long")
    d = str(tmp_path / "idx_rsc")
    build_index(
        spark, docs,
        IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2,
                    store_positions=True),
        input_sig="rsc",
    )
    r = IndexReader(spark, d)
    base = {x.doc_id: x.score for x in r.score_all("alpha").collect()}
    got = {
        x.doc_id: x.score
        for x in r.rescore_phrase(
            "alpha", "beta gamma", window_size=10,
            query_weight=1.0, rescore_weight=2.0,
        ).collect()
    }
    assert set(got) == {0, 1, 2}  # window preserved, nothing dropped
    ph0 = {x.doc_id: x.score for x in r.search_phrase("beta gamma", k=10).collect()}
    assert set(ph0) == {0}
    assert abs(got[0] - (base[0] + 2.0 * ph0[0])) < 1e-9
    for i in (1, 2):  # no phrase -> weighted original only
        assert abs(got[i] - base[i]) < 1e-9
    # function_score: log1p(0.01 * views) multiplier, exact
    fs = {
        x.doc_id: x.score
        for x in r.function_score("alpha", "views", factor=0.01).collect()
    }
    for i, v in ((0, 100), (1, 100), (2, 10000)):
        assert abs(fs[i] - base[i] * math.log1p(0.01 * v)) < 1e-9
    # the big-views doc outranks despite equal-or-lower BM25
    top = max(fs, key=lambda i: fs[i])
    assert top == 2
    import pytest

    with pytest.raises(ValueError, match="modifier"):
        r.function_score("alpha", "views", modifier="square")


def test_sloppy_phrase_semantics(spark, tmp_path):
    """match_phrase with slop: in-order chains whose cumulative
    |gap-1| displacement <= slop. slop=0 == exact phrase; a transposed
    pair needs slop 2; sloppy_freq counts distinct chain starts."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "merge sort join"),            # exact
        (1, "merge big sort join"),        # one gap   -> cost 1
        (2, "sort merge join here"),       # transposed pair
        (3, "merge big big sort join"),    # two gaps  -> cost 2
        (4, "join sort merge"),            # fully reversed
        (5, "merge sort small merge sort"),  # two chain starts
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_slop")
    cfg = IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2,
                      store_positions=True)
    build_index(spark, docs, cfg, input_sig="slop")
    r = IndexReader(spark, d)

    def ids(q, slop, col="sloppy_freq"):
        return {x.doc_id: x[col] for x in r.search_phrase_sloppy(q, slop=slop).collect()}

    # slop=0 routes to the exact path (renamed freq column)
    exact = ids("merge sort join", 0)
    assert set(exact) == {0}
    # slop=1 admits one inserted token
    assert set(ids("merge sort join", 1)) == {0, 1}
    # slop=2 admits two gaps; the transposed leading pair displaces the
    # following slot too under the consecutive-gap metric (cost 2+1=3)
    assert set(ids("merge sort join", 2)) == {0, 1, 3}
    assert set(ids("merge sort join", 3)) == {0, 1, 2, 3}
    # transposition costs exactly 2: "sort merge" as query, doc 0 has
    # "merge sort" -> needs slop 2
    assert 0 not in ids("sort merge", 1)
    assert 0 in ids("sort merge", 2)
    # distinct chain starts counted once each
    assert ids("merge sort", 0)[5] == 2
    # exact phrase_freq agrees with search_phrase for slop=0
    ref = {x.doc_id: x.phrase_freq for x in r.search_phrase("merge sort").collect()}
    assert ids("merge sort", 0) == ref


def test_stemmed_and_synonym_search(spark, tmp_path):
    """search_stemmed unifies a stem-equivalence class at query time;
    search_synonyms scores the expanded disjunction."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "merge tables fast"),
        (1, "merge table slow"),
        (2, "merge tabless"),      # stems to 'tabless' -> ss is terminal
        (3, "other words here"),
        (4, "queries query"),
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_stem")
    cfg = IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2)
    build_index(spark, docs, cfg, input_sig="stem")
    r = IndexReader(spark, d)
    # 'table' and 'tables' share the stem; 'tabless' does not
    assert r.expand_stem("table") == {"table": 1, "tables": 1}
    got = {x.doc_id for x in r.search_stemmed("tables").collect()}
    assert got == {0, 1}
    # stem classes are symmetric: singular query finds plural docs
    assert {x.doc_id for x in r.search_stemmed("query").collect()} == {4}
    # synonyms: 'fast' expands to 'slow' -> both docs match, and the
    # result equals querying the expanded set directly
    syn = {"fast": ["slow"]}
    a = [(x.doc_id, round(x.score, 6)) for x in r.search_synonyms("fast", syn).collect()]
    b = [(x.doc_id, round(x.score, 6)) for x in r.search("fast slow").collect()]
    assert a == b and {d_ for d_, _ in a} == {0, 1}
    # unmapped tokens pass through unchanged
    c = [(x.doc_id, round(x.score, 6)) for x in r.search_synonyms("merge", syn).collect()]
    assert c == [(x.doc_id, round(x.score, 6)) for x in r.search("merge").collect()]


def test_search_collapse_best_per_field(reader):
    q = "flushBuffer retry score"
    scored = {r.doc_id: r.score for r in reader.score_all(q, round_to=4).collect()}
    langs = {
        r.doc_id: r.lang
        for r in reader.docs().select("doc_id", "lang").collect()
        if r.doc_id in scored
    }
    # expected: best (score desc, doc_id asc) per lang, top 3 groups
    best = {}
    for d in sorted(scored, key=lambda d: (-scored[d], d)):
        best.setdefault(langs[d], d)
    expect = sorted(best.values(), key=lambda d: (-scored[d], d))[:3]

    out = reader.search_collapse(q, "lang", k=3, round_to=4).collect()
    assert [r.doc_id for r in out] == expect
    assert all(r.hit_rank == 1 for r in out)
    assert len({r.lang for r in out}) == len(out)

    # inner_hits=2 returns at most 2 per collapsed group, same groups
    out2 = reader.search_collapse(q, "lang", k=3, inner_hits=2, round_to=4).collect()
    assert {r.lang for r in out2} == {r.lang for r in out}
    per = {}
    for r in out2:
        per.setdefault(r.lang, []).append(r.hit_rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 2 for v in per.values())


def test_search_sorted_by_stored_field(reader):
    q = "flushBuffer retry score"
    match = {r.doc_id for r in reader.score_all(q).collect()}
    sizes = {
        r.doc_id: r.n_terms
        for r in reader.docs().select("doc_id", "n_terms").collect()
        if r.doc_id in match
    }
    expect = sorted(sizes, key=lambda d: (-sizes[d], d))[:5]
    out = reader.search_sorted(q, [("n_terms", "desc")], k=5).collect()
    assert [r.doc_id for r in out] == expect
    assert list(out[0].asDict()) == ["doc_id", "n_terms"]
    # track_scores keeps the BM25 score column
    out2 = reader.search_sorted(q, [("n_terms", "desc")], k=5, track_scores=True)
    assert out2.columns == ["doc_id", "n_terms", "score"]


def test_suggest_completion_prefix_rank(reader):
    out = reader.suggest_completion("ret", size=5).collect()
    assert out, "corpus has return/retry tokens"
    assert all(r.suggestion.startswith("ret") for r in out)
    weights = [r.weight for r in out]
    assert weights == sorted(weights, reverse=True) or all(
        (weights[i], out[i].suggestion) >= (weights[i + 1], out[i + 1].suggestion)
        for i in range(len(out) - 1)
    )
    # rank matches the dictionary's (df desc, term asc)
    d = {r.term: r.df for r in reader.dictionary().collect() if r.term.startswith("ret")}
    expect = sorted(d, key=lambda t: (-d[t], t))[:5]
    assert [r.suggestion for r in out] == expect


def test_suggest_completion_pushes_prefix_filter(reader):
    plan = reader.suggest_completion("ret")._jdf.queryExecution().executedPlan().toString()
    assert "StartsWith" in plan, plan


def test_search_similarity_formulas(spark, reader, corpus):
    """search_similarity (ES similarity modules) matches a pure-Python
    recomputation of each formula from the raw tokenized corpus —
    classic TF-IDF, LM Dirichlet (mu=2000), and boolean."""
    import math

    from esbulk_spark.functions.analyzer import analyze_query, tokens_col

    q = "merge scan buffer"
    terms = analyze_query(q)
    toks = {
        r.doc_id: r.t
        for r in reader.docs()
        .select("doc_id", tokens_col("content").alias("t"))
        .collect()
    }
    n = len(toks)
    total_tokens = sum(len(t) for t in toks.values())
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    cf = {t: sum(ts.count(t) for ts in toks.values()) for t in terms}
    mu = 2000.0

    def expected(sim):
        scores = {}
        for d, ts in toks.items():
            s = 0.0
            hit = False
            for t in terms:
                tf = ts.count(t)
                if not tf:
                    continue
                hit = True
                if sim == "classic":
                    s += (
                        math.sqrt(tf)
                        * (1 + math.log(n / (df[t] + 1))) ** 2
                        / math.sqrt(len(ts))
                    )
                elif sim == "lmdirichlet":
                    s += max(
                        0.0,
                        math.log(1 + tf / (mu * cf[t] / total_tokens))
                        + math.log(mu / (len(ts) + mu)),
                    )
                else:
                    s += 1.0
            if hit:
                scores[d] = s
        top = sorted(scores.items(), key=lambda kv: (-round(kv[1], 4), kv[0]))[:10]
        return [(d, round(s, 4)) for d, s in top]

    for sim in ("classic", "lmdirichlet", "boolean"):
        got = [
            (r.doc_id, r.score)
            for r in reader.search_similarity(q, sim=sim, k=10, round_to=4).collect()
        ]
        assert got == expected(sim), sim

    # contract edges: unknown similarity is a typed error; no-term query empty
    with pytest.raises(ValueError, match="similarity"):
        reader.search_similarity(q, sim="dfr")
    assert reader.search_similarity("zzznotaterm", sim="classic").count() == 0


def test_span_near_and_span_first(spark, tmp_path):
    """ES span queries over the positions table: span_near (ordered and
    unordered window matching) and span_first (occurrence before a
    position bound), with span_freq verified against hand-computed
    windows and scores monotone in span_freq."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha xx beta yy gamma"),
        (2, "gamma beta alpha"),
        (3, "alpha zz zz zz beta"),
        (4, "beta only here"),
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_span")
    cfg = IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2,
                      store_positions=True)
    build_index(spark, docs, cfg, input_sig="span5")
    r = IndexReader(spark, d)

    def got(terms, slop, in_order):
        return sorted(
            (x.doc_id, x.span_freq)
            for x in r.search_span_near(terms, slop=slop, in_order=in_order).collect()
        )

    # ordered: alpha before beta within width 2 (slop 0) / 3 (slop 1)
    assert got(["alpha", "beta"], 0, True) == [(0, 1)]
    assert got(["alpha", "beta"], 1, True) == [(0, 1), (1, 1)]
    # unordered: doc 2 has beta..alpha adjacent in reverse order
    assert got(["alpha", "beta"], 0, False) == [(0, 1), (2, 1)]
    assert got(["alpha", "beta", "gamma"], 1, False) == [(0, 1), (2, 1)]
    # ordered three-term chain: doc 1 fits only at width 5 (slop 2)
    assert got(["alpha", "beta", "gamma"], 1, True) == [(0, 1)]
    assert got(["alpha", "beta", "gamma"], 2, True) == [(0, 1), (1, 1)]
    # absent clause term -> empty; single clause -> typed error
    assert r.search_span_near(["alpha", "zzznope"], slop=3).collect() == []
    with pytest.raises(ValueError, match="span_near"):
        r.search_span_near(["alpha"])

    # span_first: occurrences with p + 1 <= end
    sf = lambda t, e: sorted(
        (x.doc_id, x.span_freq) for x in r.search_span_first(t, e).collect()
    )
    assert sf("alpha", 1) == [(0, 1), (1, 1), (3, 1)]
    assert sf("beta", 2) == [(0, 1), (2, 1), (4, 1)]
    assert sf("beta", 5) == [(0, 1), (1, 1), (2, 1), (3, 1), (4, 1)]
    with pytest.raises(ValueError, match="span_first"):
        r.search_span_first("two words", 3)


def test_field_caps_and_mapping(reader):
    caps = reader.field_caps()
    tc = reader._text_col()
    assert caps[tc] == {"type": "text", "searchable": True,
                        "aggregatable": False}
    assert all(not c["searchable"] for n, c in caps.items() if n != tc)
    assert "doc_id" not in caps and "content_sha" not in caps
    m = reader.mapping()
    assert set(m["mappings"]["properties"]) == set(caps)
    assert m["settings"]["number_of_shards"] == reader.stats["n_shards"]


def test_suggest_phrase_on_index(reader):
    """Typo'd pair of real corpus terms corrects to the real phrase."""
    import re

    text = " ".join(
        r[0] for r in reader.docs().select(reader._text_col()).head(5)
    ).lower()
    words = [w for w in re.split(r"\s+", text) if len(w) >= 4]
    pairs = list(zip(words, words[1:]))
    assert pairs, "fixture corpus has adjacent words"
    a, b = pairs[0]
    typo = a[:-1] + ("x" if a[-1] != "x" else "y")
    got = reader.suggest_phrase(f"{typo} {b}", size=3)
    assert any(s["text"] == f"{a} {b}" for s in got)
    top = got[0]
    assert set(top) == {"text", "n_edits", "score"}


def test_intervals_query_maps_to_primitives(spark, tmp_path):
    """ES intervals: all_of(max_gaps) == span_near window semantics,
    all_of(max_gaps=-1) == pruned conjunction, any_of == best clause."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha xx beta yy gamma"),
        (2, "gamma beta alpha"),
        (3, "alpha zz zz zz beta"),
        (4, "beta only here"),
    ]
    docs = spark.createDataFrame(rows, "uid long, content string")
    d = str(tmp_path / "idx_iv")
    cfg = IndexConfig(index_dir=d, id_col="uid", n_buckets=4, n_shards=2,
                      store_positions=True)
    build_index(spark, docs, cfg, input_sig="iv5")
    r = IndexReader(spark, d)

    near = sorted(
        (x.doc_id, round(x.score, 6))
        for x in r.search_span_near(["alpha", "beta"], slop=1).collect()
    )
    iv = sorted(
        (x.doc_id, round(x.score, 6))
        for x in r.search_intervals(["alpha", "beta"], max_gaps=1).collect()
    )
    assert iv == near and iv

    conj = sorted(
        (x.doc_id, round(x.score, 6))
        for x in r.search_and("alpha beta").collect()
    )
    iv_all = sorted(
        (x.doc_id, round(x.score, 6))
        for x in r.search_intervals(["alpha", "beta"]).collect()
    )
    assert iv_all == conj and len(iv_all) == 4

    any_of = {x.doc_id: x.score
              for x in r.search_intervals(["alpha", "only"], mode="any_of").collect()}
    a = {x.doc_id: x.score for x in r.search("alpha").collect()}
    o = {x.doc_id: x.score for x in r.search("only").collect()}
    for doc, s in any_of.items():
        assert s == pytest.approx(max(a.get(doc, 0.0), o.get(doc, 0.0)))
    assert set(any_of) == set(a) | set(o)

    with pytest.raises(ValueError):
        r.search_intervals(["alpha"], mode="one_of")


def test_rank_eval_on_index(reader):
    """Self-judged sanity: judgments = the engine's own top-k -> every
    metric is exactly 1; disjoint judgments -> all zeros."""
    queries = {"q1": "getUserName", "q2": "flushBuffer"}
    own = reader.search_many(queries, k=5).select(
        "qid", "doc_id", F.lit(1).alias("grade")
    )
    out = {r["qid"]: r for r in
           reader.rank_eval(queries, own, k=5).collect()}
    for q in queries:
        r = out[q]
        assert r["precision_at_k"] == pytest.approx(1.0)
        assert r["recall_at_k"] == pytest.approx(1.0)
        assert r["mrr"] == pytest.approx(1.0)
        assert r["ndcg_at_k"] == pytest.approx(1.0)

    spark = reader.spark
    none = spark.createDataFrame(
        [("q1", -1, 1), ("q2", -2, 1)], "qid string, doc_id long, grade int"
    )
    out0 = {r["qid"]: r for r in reader.rank_eval(queries, none, k=5).collect()}
    assert all(out0[q]["precision_at_k"] == 0.0 and out0[q]["mrr"] == 0.0
               for q in queries)


def test_pinned_and_distance_feature(reader):
    organic = [r["doc_id"] for r in reader.search("getUserName", k=5).collect()]
    assert organic
    pin = [organic[-1], 999999999, organic[0]]  # unknown id drops out
    got = reader.search_pinned(pin, "getUserName", k=5).collect()
    ids = [r["doc_id"] for r in got]
    # pinned ids first, in list order, missing id skipped, no dup after
    assert ids[:2] == [organic[-1], organic[0]]
    assert len(ids) == len(set(ids))
    assert got[0]["score"] > got[2]["score"]

    # distance_feature: boosting proximity to a doc's own dl value must
    # reorder ties deterministically and never lose the strong matches
    base = {r["doc_id"]: r["score"]
            for r in reader.search("getUserName", k=10).collect()}
    out = reader.search_distance_feature(
        "getUserName", "dl", origin=0.0, pivot=5.0, boost=2.0, k=10
    ).collect()
    for r in out:
        if r["doc_id"] in base:
            assert r["score"] >= base[r["doc_id"]]
            assert r["score"] <= base[r["doc_id"]] + 2.0 + 1e-9


def test_random_score_deterministic_and_seeded(reader):
    a = [(r["doc_id"], r["score"]) for r in
         reader.search_random_score("getUserName", seed=1, k=10).collect()]
    b = [(r["doc_id"], r["score"]) for r in
         reader.search_random_score("getUserName", seed=1, k=10).collect()]
    c = [(r["doc_id"], r["score"]) for r in
         reader.search_random_score("getUserName", seed=2, k=10).collect()]
    assert a == b            # same seed -> identical ranking
    assert a != c            # different seed reshuffles
    base = {r["doc_id"]: r["score"]
            for r in reader.search("getUserName", k=1000).collect()}
    for doc, s in a:
        assert 0.0 <= s <= base[doc] + 1e-9  # u in [0,1) scales down


def test_constant_score_filter_context(reader):
    hits = reader.search_constant_score("getUserName", boost=2.5, k=50).collect()
    organic = {r["doc_id"] for r in reader.search("getUserName", k=1000).collect()}
    assert {r["doc_id"] for r in hits} <= organic
    assert all(r["score"] == 2.5 for r in hits)
    ids = [r["doc_id"] for r in hits]
    assert ids == sorted(ids)  # _doc order


def test_fullscan_no_match_releases_its_cache(spark):
    """The oracle persists its reduced projection; a query no document
    matches must unpersist it before returning the empty result."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, content string"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert bm25_fullscan(docs, "zzznotaterm").collect() == []
    assert jsc.getPersistentRDDs().size() == before


def test_shuffle_width_falls_back_on_non_numeric_conf():
    """A non-numeric spark.sql.shuffle.partitions (``auto``) must not fail
    the build's exchange sizing; a numeric one is used as is."""
    from types import SimpleNamespace

    from esbulk_spark.plans.build import _shuffle_width

    def stub(value):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: value),
            sparkContext=SimpleNamespace(defaultParallelism=7),
        )

    assert _shuffle_width(stub("auto")) == 7
    assert _shuffle_width(stub("24")) == 24
