"""Segment merge (B7): merging two half-corpus segments must reproduce
the single-pass index byte-identically (same postings blobs, same
dictionary, same stats) — the strongest form of Lucene's merge
invariant, which the reference exercises only via `_flush`
(/root/reference/administration.go:32-48)."""

import json
import os

from pyspark.sql import functions as F

from esbulk_spark.config import IndexConfig
from esbulk_spark.operators.merge import merge_segments
from esbulk_spark.plans.build import build_index


def _postings_map(spark, d):
    rows = spark.read.parquet(os.path.join(d, "postings")).collect()
    return {
        (r.term, r.shard, r.chunk): (
            bytes(r.blob_ids), bytes(r.blob_tfs), bytes(r.blob_dls),
            list(r.block_last), [round(x, 12) for x in r.block_max_tfnorm],
        )
        for r in rows
    }


def test_merge_two_segments_equals_full_build(spark, corpus, tmp_path):
    base = str(tmp_path)
    full_cfg = IndexConfig(index_dir=f"{base}/full", n_buckets=8, n_shards=4, chunk_cap=256)
    build_index(spark, corpus, full_cfg, input_sig="m150")
    full_docs = spark.read.parquet(f"{base}/full/docs")
    n = full_docs.count()
    cut = n // 2

    # two ingest waves with globally-unique pre-assigned ids
    for name, pred in [("seg1", F.col("doc_id") < cut), ("seg2", F.col("doc_id") >= cut)]:
        cfg = IndexConfig(
            index_dir=f"{base}/{name}", id_col="doc_id",
            n_buckets=8, n_shards=4, chunk_cap=256,
        )
        build_index(
            spark,
            full_docs.filter(pred).drop("content_sha"),
            cfg,
            input_sig=name,
        )

    merged_cfg = IndexConfig(
        index_dir=f"{base}/merged", id_col="doc_id",
        n_buckets=8, n_shards=4, chunk_cap=256,
    )
    stats = merge_segments(spark, [f"{base}/seg1", f"{base}/seg2"], merged_cfg)

    full_stats = json.load(open(f"{base}/full/stats.json"))
    assert stats["n_docs"] == full_stats["n_docs"]
    assert stats["total_postings"] == full_stats["total_postings"]
    assert abs(stats["avgdl"] - full_stats["avgdl"]) < 1e-12

    # byte-identical postings (blobs + block metadata)
    assert _postings_map(spark, f"{base}/merged") == _postings_map(spark, f"{base}/full")

    # identical dictionary
    d_full = {(r.term): (r.df, r.cf) for r in spark.read.parquet(f"{base}/full/dictionary").collect()}
    d_merged = {(r.term): (r.df, r.cf) for r in spark.read.parquet(f"{base}/merged/dictionary").collect()}
    assert d_full == d_merged


def test_fast_merge_rank_identical_and_blob_preserving(spark, corpus, tmp_path):
    """merge_segments_fast: blobs copied VERBATIM (per original segment
    chunk), dictionary/stats identical to the re-encode merge, and
    queries rank-identical to the full-scan oracle over the union —
    without re-encoding a single posting."""
    import time

    from esbulk_spark.operators.merge import merge_segments_fast
    from esbulk_spark.plans.reader import IndexReader
    from esbulk_spark.plans.score import bm25_fullscan

    base = str(tmp_path)
    full_cfg = IndexConfig(index_dir=f"{base}/full", n_buckets=8, n_shards=4, chunk_cap=256)
    build_index(spark, corpus, full_cfg, input_sig="m150")
    full_docs = spark.read.parquet(f"{base}/full/docs")
    cut = full_docs.count() // 2
    for name, pred in [("f1", F.col("doc_id") < cut), ("f2", F.col("doc_id") >= cut)]:
        cfg = IndexConfig(index_dir=f"{base}/{name}", id_col="doc_id", n_buckets=8, n_shards=4, chunk_cap=256)
        build_index(spark, full_docs.filter(pred).drop("content_sha"), cfg, input_sig=name)

    mcfg = IndexConfig(index_dir=f"{base}/fm", id_col="doc_id", n_buckets=8, n_shards=4, chunk_cap=256)
    t0 = time.monotonic()
    stats = merge_segments_fast(spark, [f"{base}/f1", f"{base}/f2"], mcfg)
    fast_secs = time.monotonic() - t0

    full_stats = json.load(open(f"{base}/full/stats.json"))
    assert stats["n_docs"] == full_stats["n_docs"]
    assert stats["total_postings"] == full_stats["total_postings"]
    assert abs(stats["avgdl"] - full_stats["avgdl"]) < 1e-12

    # every merged blob is byte-identical to its source segment chunk
    # (shards remapped by +seg_offset: f1 has 4 shards -> f2 offset 4)
    merged = _postings_map(spark, f"{base}/fm")
    src = _postings_map(spark, f"{base}/f1")
    for (t, s, c), v in _postings_map(spark, f"{base}/f2").items():
        src[(t, s + 4, c)] = v
    assert {k: v[:3] for k, v in merged.items()} == {k: v[:3] for k, v in src.items()}
    # block maxes recomputed for the MERGED avgdl: equal to the full
    # build's tfnorm math (same formula, same dtype) on each chunk
    r = IndexReader(spark, f"{base}/fm")
    assert r.stats["n_shards"] == 8
    # dictionary identical to full build
    d_full = {r_.term: (r_.df, r_.cf) for r_ in spark.read.parquet(f"{base}/full/dictionary").collect()}
    d_fast = {r_.term: (r_.df, r_.cf) for r_ in spark.read.parquet(f"{base}/fm/dictionary").collect()}
    assert d_full == d_fast
    # rank identity vs the raw-corpus oracle, pruned and unpruned
    for q in ["getUserName", "flushBuffer retry score", "return getValue0"]:
        oracle = [
            (x.doc_id, round(x.score, 6))
            for x in bm25_fullscan(full_docs, q, text_col="content", k=10).collect()
        ]
        wand = [(x.doc_id, round(x.score, 6)) for x in r.search(q, k=10, prune=True).collect()]
        full = [(x.doc_id, round(x.score, 6)) for x in r.search(q, k=10, prune=False).collect()]
        assert oracle == wand == full, q


def test_merged_index_answers_queries(spark, corpus, tmp_path):
    from esbulk_spark.plans.reader import IndexReader
    from esbulk_spark.plans.score import bm25_fullscan

    base = str(tmp_path)
    full_cfg = IndexConfig(index_dir=f"{base}/full", n_buckets=8, n_shards=4, chunk_cap=256)
    build_index(spark, corpus, full_cfg, input_sig="m150")
    full_docs = spark.read.parquet(f"{base}/full/docs")
    cut = full_docs.count() // 3
    for name, pred in [("s1", F.col("doc_id") < cut), ("s2", F.col("doc_id") >= cut)]:
        cfg = IndexConfig(index_dir=f"{base}/{name}", id_col="doc_id", n_buckets=8, n_shards=4, chunk_cap=256)
        build_index(spark, full_docs.filter(pred).drop("content_sha"), cfg, input_sig=name)
    mcfg = IndexConfig(index_dir=f"{base}/m", id_col="doc_id", n_buckets=8, n_shards=4, chunk_cap=256)
    merge_segments(spark, [f"{base}/s1", f"{base}/s2"], mcfg)

    r = IndexReader(spark, f"{base}/m")
    for q in ["getUserName", "flushBuffer retry score"]:
        oracle = [
            (x.doc_id, round(x.score, 6))
            for x in bm25_fullscan(full_docs, q, text_col="content", k=10).collect()
        ]
        wand = [(x.doc_id, round(x.score, 6)) for x in r.search(q, k=10).collect()]
        assert oracle == wand, q


def test_segmented_config_flag_equals_single_pass(spark, corpus, tmp_path):
    """cfg.segmented=N (the large-build plan as a config flag) must
    produce an index with identical dictionary/stats and rank-identical
    search results vs the single-pass build, clean up its staging dir,
    and short-circuit on re-run (fingerprint resume)."""
    import time

    from esbulk_spark.plans.reader import IndexReader

    base = str(tmp_path)
    full_cfg = IndexConfig(index_dir=f"{base}/full", n_buckets=8, n_shards=4, chunk_cap=256)
    full = build_index(spark, corpus, full_cfg, input_sig="seg150")
    seg_cfg = IndexConfig(
        index_dir=f"{base}/segb", n_buckets=8, n_shards=4, chunk_cap=256, segmented=2
    )
    stats = build_index(spark, corpus, seg_cfg, input_sig="seg150")

    assert stats["n_docs"] == full["n_docs"]
    assert stats["total_postings"] == full["total_postings"]
    assert abs(stats["avgdl"] - full["avgdl"]) < 1e-12
    assert stats["segmented"] == 2
    d_full = {r.term: (r.df, r.cf) for r in spark.read.parquet(f"{base}/full/dictionary").collect()}
    d_seg = {r.term: (r.df, r.cf) for r in spark.read.parquet(f"{base}/segb/dictionary").collect()}
    assert d_full == d_seg
    # staging removed after the merge
    assert not os.path.exists(f"{base}/segb.segments")

    rf = IndexReader(spark, f"{base}/full")
    rs = IndexReader(spark, f"{base}/segb")
    for q in ("getUserName", "flushBuffer retry score", "parse token"):
        a = [(r.doc_id, round(r.score, 9)) for r in rf.search(q, prune=True).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in rs.search(q, prune=True).collect()]
        assert a == b, q

    # resume: identical config+input short-circuits without rebuilding
    t0 = time.monotonic()
    again = build_index(spark, corpus, seg_cfg, input_sig="seg150")
    assert time.monotonic() - t0 < 2.0
    assert again["fingerprint"] == stats["fingerprint"]


def test_segmented_with_positions_phrase(spark, corpus, tmp_path):
    """cfg.segmented + cfg.store_positions compose: wave builds write
    per-segment positions, the fast merge unions them, and phrase
    results equal a single-pass positional build."""
    from esbulk_spark.plans.reader import IndexReader

    base = str(tmp_path)
    full_cfg = IndexConfig(index_dir=f"{base}/full", n_buckets=8, n_shards=4,
                           chunk_cap=256, store_positions=True)
    build_index(spark, corpus, full_cfg, input_sig="segpos")
    seg_cfg = IndexConfig(index_dir=f"{base}/seg", n_buckets=8, n_shards=4,
                          chunk_cap=256, segmented=2, store_positions=True)
    build_index(spark, corpus, seg_cfg, input_sig="segpos")
    rf, rs = IndexReader(spark, f"{base}/full"), IndexReader(spark, f"{base}/seg")
    for q in ("return value", "get user"):
        a = [(x.doc_id, x.phrase_freq, round(x.score, 6))
             for x in rf.search_phrase(q).collect()]
        b = [(x.doc_id, x.phrase_freq, round(x.score, 6))
             for x in rs.search_phrase(q).collect()]
        assert a == b, q


def _postings_mode(d):
    with open(os.path.join(d, "manifest.jsonl")) as f:
        entries = [json.loads(line) for line in f]
    return [e for e in entries if e["stage"] == "postings"][-1].get("mode")


def _assert_rank_identical(spark, d):
    from esbulk_spark.plans.reader import IndexReader
    from esbulk_spark.plans.score import bm25_fullscan

    r = IndexReader(spark, d)
    for q in ("getUserName", "flushBuffer retry score"):
        oracle = [
            (x.doc_id, round(x.score, 6))
            for x in bm25_fullscan(r.docs(), q, text_col="content", k=10).collect()
        ]
        assert [(x.doc_id, round(x.score, 6)) for x in r.search(q, k=10).collect()] == oracle, q


def test_merge_picks_path_from_layout(spark, corpus, tmp_path):
    """merge_segments refreshes metadata when asked for the segments'
    own layout and re-encodes otherwise, rank-identical either way;
    merge_segments_fast refuses a layout that differs."""
    import pytest

    from esbulk_spark.operators.docids import assign_doc_ids_with_count
    from esbulk_spark.operators.merge import merge_segments_fast

    base = str(tmp_path)
    docs, n = assign_doc_ids_with_count(corpus, ("repo", "path", "commit"), out_col="doc_id")
    segs = []
    for name, pred in [("s1", F.col("doc_id") < n // 2), ("s2", F.col("doc_id") >= n // 2)]:
        cfg = IndexConfig(index_dir=f"{base}/{name}", id_col="doc_id", n_buckets=8,
                          n_shards=2, chunk_cap=256)
        build_index(spark, docs.filter(pred), cfg, input_sig=name)
        segs.append(cfg.index_dir)

    cases = {
        "same": ({}, "metadata_refresh"),
        "shards": ({"n_shards": 2}, None),
        "buckets": ({"n_buckets": 4}, None),
    }
    for name, (over, mode) in cases.items():
        cfg = IndexConfig(**dict(dict(index_dir=f"{base}/{name}", id_col="doc_id",
                                      n_buckets=8, chunk_cap=256), **over))
        stats = merge_segments(spark, segs, cfg)
        assert _postings_mode(cfg.index_dir) == mode, name
        assert stats["n_buckets"] == cfg.n_buckets
        if cfg.n_shards:
            assert stats["n_shards"] == cfg.n_shards
        _assert_rank_identical(spark, cfg.index_dir)

    with pytest.raises(ValueError, match="n_buckets"):
        merge_segments_fast(spark, segs, IndexConfig(
            index_dir=f"{base}/bad", id_col="doc_id", n_buckets=4, chunk_cap=256,
        ))
    assert not os.path.exists(f"{base}/bad")
