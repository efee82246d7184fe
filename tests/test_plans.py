"""Physical-plan assertions: the optimizations SURVEY.md §4 claims must
be visible in `.explain` output — partition pruning on term buckets,
parquet predicate pushdown, broadcast joins for tiny dimensions."""

import pytest
from pyspark.sql import functions as F

from esbulk_spark.plans.reader import IndexReader


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_postings_scan_is_bucket_pruned(reader):
    """A query's postings scan must touch only its terms' bucket
    directories (PartitionFilters) and push the term equality into the
    parquet reader (PushedFilters)."""
    terms = ["getusername"]
    pruned = reader._pruned_postings(terms)
    plan = _plan(pruned)
    assert "PartitionFilters" in plan
    # the bucket IN (...) literal list must appear inside PartitionFilters
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "bucket" in pf
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters", 1)[1]


def test_dictionary_lookup_reads_only_needed_columns(reader):
    d = reader.dictionary().select("term", "df")
    plan = _plan(d)
    # ReadSchema must not include cf (column pruning)
    rs = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "df" in rs and "cf" not in rs


def test_query_pairs_join_is_broadcast(reader):
    from esbulk_spark.functions.analyzer import analyze_query

    # the distributed scorer's plan (search_many returns its merged rows
    # as a local relation, so the plan lives in _per_shard_scores)
    qs = {"q": "return score", "q2": "getUserName"}
    analyzed = {qid: analyze_query(q) for qid, q in qs.items()}
    # multi-query: the (qid, term, df) triples ride in via ONE broadcast
    plan = _plan(reader._per_shard_scores(analyzed, 5, True))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # single query: df values are inlined literals — NO join at all
    plan1 = _plan(reader._per_shard_scores({"q": analyzed["q"]}, 5, True))
    assert "Join" not in plan1


def test_fullscan_oracle_filter_before_aggregate(spark, corpus):
    """The term filter must sit below the aggregate in the optimized
    plan, so the groupBy only sees matching tokens. Since r6 the filter
    is an ARRAY-level membership lambda inside the one persisted
    tokenize projection (plans/score.py tokenizes once; the explode
    reads the pre-filtered `qt` array) rather than a row Filter above
    the explode — accept either shape, but it must sit below the
    aggregate."""
    from esbulk_spark.plans.score import bm25_fullscan

    docs = corpus.withColumn("doc_id", F.xxhash64("commit"))
    df = bm25_fullscan(docs, "getUserName", text_col="content", k=5)
    opt = _optimized(df)
    agg_pos = opt.find("Aggregate")
    # row Filter (pre-r6) or the term-membership array lambda (r6);
    # query "getUserName" analyzes to sorted terms [get, name, user]
    filt_pos = max(opt.rfind("Filter "), opt.rfind("IN (get,name,user)"))
    assert agg_pos != -1 and filt_pos != -1 and filt_pos > agg_pos


def test_whole_stage_codegen_on_native_tokenizer(spark, corpus):
    """The native-expression analyzer path must stay inside whole-stage
    codegen (no Python in the hot loop)."""
    from esbulk_spark.functions.analyzer import tokens_col

    df = corpus.select(F.explode(tokens_col("content")).alias("t")).groupBy("t").count()
    df.collect()  # finalize the AQE plan
    plan = _plan(df)
    # codegen stages print as "*(n)" in executedPlan.toString
    assert "WholeStageCodegen" in plan or "*(" in plan
    # the analyzer adds NO Python evaluation (corpus generation is
    # MapInPandas, which is fine — it is the synthetic source, not the path)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_terms_agg_docs_scan_is_column_pruned(reader):
    """search_aggs_terms must never read the content column: the docs
    scan's ReadSchema carries only doc_id + the bucketed field."""
    agg = reader.search_aggs_terms("getUserName", "n_terms", agg_size=5)
    plan = _plan(agg)
    # every parquet scan's ReadSchema in this plan must exclude content
    for chunk in plan.split("ReadSchema")[1:]:
        rs = chunk.splitlines()[0]
        assert "content" not in rs, rs


def test_expansion_scans_touch_only_dictionary(reader):
    """Fuzzy/wildcard expansion is a dictionary-only scan: the ACTUAL
    expansion DataFrames (the ones expand_fuzzy/expand_wildcard
    collect) must reference no postings/docs/positions relation."""
    from esbulk_spark.plans.reader import wildcard_to_like

    fuzzy_df = reader._expansion_df(reader._fuzzy_cond("getx", 2, 1), 50)
    wild_df = reader._expansion_df(
        F.col("term").like(wildcard_to_like("get*me")), 50
    )
    for d in (fuzzy_df, wild_df):
        plan = _plan(d)
        for other in ("postings", "docs", "positions"):
            assert f"/{other}" not in plan, other
    assert "levenshtein" in _plan(fuzzy_df)
    # Catalyst rewrites the anchored LIKE into pushed-down prefix/suffix
    # string filters on the parquet term column
    wplan = _plan(wild_df)
    assert "StringStartsWith(term,get)" in wplan
    assert "StringEndsWith(term,me)" in wplan


def test_search_page_keyset_filter_below_topk(reader):
    """The keyset predicate must sit below the TakeOrderedAndProject in
    the paging plan (filter before the top-k heap, not after)."""
    page = reader.search_page(
        "getUserName", k=5, search_after=(1.5, 100), round_to=4
    )
    plan = _plan(page)
    assert "TakeOrderedAndProject" in plan
    after_topk, _, below = plan.partition("TakeOrderedAndProject")
    assert "Filter" in below  # the keyset filter feeds the top-k


def test_r4_text_operators_stay_jvm_side(spark, sf_dir):
    """The LM/DSIR/sketch/suggest plans must contain no Python eval
    node anywhere — every expression is Catalyst (codegen) so nothing
    falls off the Arrow cliff at 100 TB."""
    from esbulk_spark.entry_queries import QUERIES

    for name in ("lm_perplexity", "dsir_importance_weights",
                 "cms_heavy_hitters", "agg_cardinality_hll",
                 "phrase_suggest_dym", "ccnet_ppl_buckets"):
        fn, _sql = QUERIES[name]
        plan = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_geo_distance_box_prefilter_is_pushed(spark, sf_dir):
    """geo_distance's cap bounding box must reach the parquet scan as
    pushed range predicates — the trig filter alone would force a full
    read."""
    from esbulk_spark.operators.geo import geo_distance

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("value") / 10).alias("lat"), (F.col("value") - 180).alias("lon")
    )
    # derived (non-scan) columns can't push; write a real-column frame
    import tempfile, os
    d = tempfile.mkdtemp()
    ev.limit(100).write.mode("overwrite").parquet(os.path.join(d, "pts"))
    pts = spark.read.parquet(os.path.join(d, "pts"))
    plan = _plan(geo_distance(pts, "lat", "lon", (40.0, -74.0), 500.0))
    pushed = plan.split("PushedFilters", 1)[1]
    assert "lat" in pushed and "lon" in pushed
    assert "GreaterThanOrEqual" in pushed or ">=" in pushed


def test_sketch_aggs_partial_before_exchange(spark, sf_dir):
    """HLL register build must partial-aggregate map-side (HashAggregate
    below the Exchange) — the sketch's scale contract."""
    from esbulk_spark.operators.sketch import hll_sketch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(hll_sketch(ev, "user_id", ["event_type"]))
    first_agg = plan.index("HashAggregate")
    first_ex = plan.index("Exchange")
    # reading bottom-up: the partial agg appears AFTER the exchange in
    # the printed tree (deeper = later in string), i.e. there must be a
    # HashAggregate deeper than the exchange
    assert plan.rindex("HashAggregate") > first_ex
    assert first_agg < first_ex  # and a final agg above it
