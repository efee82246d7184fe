"""Structured Streaming: incremental segments + compaction must be
rank-identical to a single-pass batch build over the same documents."""

import os

from pyspark.sql import functions as F

from esbulk_spark.config import IndexConfig
from esbulk_spark.corpus import CORPUS_SCHEMA, synth_corpus
from esbulk_spark.plans.build import build_index
from esbulk_spark.plans.reader import IndexReader
from esbulk_spark.streaming.incremental import StreamingIndexer


def test_incremental_segments_then_compact(spark, tmp_path):
    base = str(tmp_path)
    # 3 "arrival waves" as files in a streamed directory
    corpus = synth_corpus(spark, 90, seed=11).cache()
    rows = corpus.collect()
    src = f"{base}/incoming"
    os.makedirs(src)
    for w in range(3):
        part = spark.createDataFrame(rows[w * 30: (w + 1) * 30], corpus.schema)
        part.coalesce(1).write.mode("overwrite").parquet(f"{base}/wave{w}")

    indexer = StreamingIndexer(spark, f"{base}/stream_idx", n_buckets=8)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    # drop wave files into the watched dir before starting
    import shutil

    for w in range(3):
        for f in os.listdir(f"{base}/wave{w}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{base}/wave{w}/{f}", f"{src}/w{w}.parquet")
    q = indexer.start(stream, f"{base}/ckpt", available_now=True)
    q.awaitTermination(300)

    segs = indexer.segment_dirs()
    assert len(segs) >= 1
    total = sum(
        IndexReader(spark, s).stats["n_docs"] for s in segs
    )
    assert total == 90

    # live mid-stream serving: reader() over the UNMERGED segments must
    # rank-identically match the full-scan oracle over the union corpus
    # (ES refresh-then-search on an actively-written index)
    from esbulk_spark.plans.score import bm25_fullscan as _fs

    live = indexer.reader()
    assert live.n_docs == 90
    for query in ["getUserName", "flushBuffer retry score"]:
        oracle = [
            (x.doc_id, round(x.score, 6))
            for x in _fs(live.docs(), query, text_col="content", k=10).collect()
        ]
        got = [
            (x.doc_id, round(x.score, 6))
            for x in live.search(query, k=10).collect()
        ]
        assert oracle == got, query

    stats = indexer.compact(f"{base}/compacted")
    assert stats["n_docs"] == 90

    # rank identity vs a single-pass batch build over the same 90 docs
    # (same doc ids: streaming assigned 0..89 in wave order; batch build
    # must use the same id assignment for comparability, so compare via
    # the full-scan oracle on the compacted docs table instead)
    from esbulk_spark.plans.score import bm25_fullscan

    r = IndexReader(spark, f"{base}/compacted")
    docs = r.docs()
    for query in ["getUserName", "flushBuffer retry score"]:
        oracle = [
            (x.doc_id, round(x.score, 6))
            for x in bm25_fullscan(docs, query, text_col="content", k=10).collect()
        ]
        wand = [(x.doc_id, round(x.score, 6)) for x in r.search(query, k=10).collect()]
        assert oracle == wand, query


def test_streaming_batch_replay_is_idempotent(spark, tmp_path):
    base = str(tmp_path)
    corpus = synth_corpus(spark, 20, seed=3)
    indexer = StreamingIndexer(spark, f"{base}/sidx", n_buckets=8)
    indexer.process_batch(corpus, 0)
    st0 = indexer._state()
    indexer.process_batch(corpus, 0)  # checkpoint-recovery replay
    assert indexer._state() == st0
    assert indexer._state()["next_doc_id"] == 20


def test_incremental_positions_phrase_on_compacted(spark, tmp_path):
    """store_positions=True streams positional segments; compact()'s
    merge unions them (disjoint ids), and phrase search on the merged
    index matches a token-stream oracle."""
    from esbulk_spark.functions.analyzer import tokenize_text

    base = str(tmp_path)
    corpus = synth_corpus(spark, 40, seed=13).cache()
    rows = corpus.collect()
    src = f"{base}/incoming"
    os.makedirs(src)
    import shutil

    for w in range(2):
        part = spark.createDataFrame(rows[w * 20: (w + 1) * 20], corpus.schema)
        part.coalesce(1).write.mode("overwrite").parquet(f"{base}/wv{w}")
        for f in os.listdir(f"{base}/wv{w}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{base}/wv{w}/{f}", f"{src}/w{w}.parquet")

    indexer = StreamingIndexer(
        spark, f"{base}/stream_pos", n_buckets=8, store_positions=True
    )
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = indexer.start(stream, f"{base}/ckpt_pos", available_now=True)
    q.awaitTermination(300)
    for s in indexer.segment_dirs():
        assert IndexReader(spark, s).has_positions()

    indexer.compact(f"{base}/compacted_pos")
    r = IndexReader(spark, f"{base}/compacted_pos")
    assert r.has_positions() and r.stats["store_positions"] is True

    # phrase oracle: bigrams of the analyzed token stream per doc
    docs = {x["doc_id"]: x["content"] for x in r.docs().collect()}
    for phrase in [("return", "self"), ("def", "get")]:
        want = set()
        for i, c in docs.items():
            ts = tokenize_text(c)
            if any(a == phrase[0] and b == phrase[1] for a, b in zip(ts, ts[1:])):
                want.add(i)
        got = {
            x.doc_id
            for x in r.search_phrase(" ".join(phrase), k=100).collect()
        }
        assert got == want, phrase


def test_streaming_hll_matches_batch_estimate(spark, sf_dir, tmp_path):
    """HLL maintained over micro-batches == one batch sketch of the
    whole table (merge property end-to-end through foreachBatch), and
    batch replay is a no-op."""
    from esbulk_spark.operators.sketch import hll_cardinality
    from esbulk_spark.streaming.sketches import StreamingSketch

    base = str(tmp_path)
    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "user_id")
        .cache()
    )
    rows = events.collect()
    src = f"{base}/incoming"
    os.makedirs(src)
    thirds = [rows[i::3] for i in range(3)]
    for w, chunk in enumerate(thirds):
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.parquet(
            f"{base}/wave{w}"
        )
        for f in os.listdir(f"{base}/wave{w}"):
            if f.endswith(".parquet"):
                import shutil

                shutil.copy(f"{base}/wave{w}/{f}", f"{src}/w{w}.parquet")

    sk = StreamingSketch(
        spark, f"{base}/sketch", "user_id", ["event_type"], kind="hll"
    )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sk.process_batch)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        r["event_type"]: r["hll_estimate"] for r in sk.estimate().collect()
    }
    batch = {
        r["event_type"]: r["hll_estimate"]
        for r in hll_cardinality(events, "user_id", ["event_type"]).collect()
    }
    assert streamed == batch
    assert len(sk._seg_dirs()) >= 2  # genuinely incremental

    # replaying a completed batch does not change the sketch
    sk.process_batch(spark.createDataFrame(rows[:5], events.schema), 0)
    assert {
        r["event_type"]: r["hll_estimate"] for r in sk.estimate().collect()
    } == batch


def test_streaming_cms_matches_batch(spark, sf_dir, tmp_path):
    """CMS maintained per micro-batch == one batch sketch (cell-wise sum
    merge through the segment files)."""
    from esbulk_spark.operators.sketch import cms_estimate, cms_sketch
    from esbulk_spark.streaming.sketches import StreamingSketch

    base = str(tmp_path)
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type")
        .limit(3000)
        .cache()
    )
    rows = ev.collect()
    sk = StreamingSketch(spark, f"{base}/cms", "event_type", [], kind="cms",
                         d=3, w=512)
    for i in range(3):
        sk.process_batch(
            spark.createDataFrame(rows[i::3], ev.schema), i
        )
    cand = ev.distinct()
    streamed = {r["event_type"]: r["cms_count"] for r in
                sk.estimate(cand).collect()}
    direct_sk = cms_sketch(ev, "event_type", d=3, w=512)
    direct = {r["event_type"]: r["cms_count"] for r in
              cms_estimate(direct_sk, cand, "event_type", d=3, w=512).collect()}
    assert streamed == direct
    exact = {r["event_type"]: r["c"] for r in
             ev.groupBy("event_type").agg(F.count("*").alias("c")).collect()}
    for k, v in exact.items():
        assert streamed[k] >= v  # one-sided error survives the merge
