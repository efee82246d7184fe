"""SegmentSetReader: search over unmerged segments with global stats
(plans/segments.py) — ES's searcher-over-segments / refresh model.
Rank identity vs the full-scan oracle over the UNION corpus is the
whole contract; the avgdl bound-inflation math is exercised by giving
one segment deliberately short docs (its stored block-max bounds are
too tight under the global avgdl)."""

import pytest
from pyspark.sql import functions as F

from esbulk_spark.config import IndexConfig
from esbulk_spark.corpus import synth_corpus
from esbulk_spark.plans.build import build_index
from esbulk_spark.plans.reader import IndexReader
from esbulk_spark.plans.score import bm25_fullscan
from esbulk_spark.plans.segments import SegmentSetReader


@pytest.fixture(scope="module")
def seg_dirs(spark, tmp_path_factory):
    """Three segments over disjoint id ranges; the middle one has SHORT
    docs (first sentence only) so its avgdl is far below the global —
    the stale-bound danger case for WAND pruning."""
    base = tmp_path_factory.mktemp("segset")
    full = synth_corpus(spark, 240, seed=5)
    shorts = full.withColumn(
        "content", F.substring("content", 1, 80)
    )
    parts = [
        full.filter("crc32(path) % 3 = 0"),
        shorts.filter("crc32(path) % 3 = 1"),
        full.filter("crc32(path) % 3 = 2"),
    ]
    dirs = []
    bases = [0, 1_000_000, 2_000_000]
    for i, (p, off) in enumerate(zip(parts, bases)):
        d = str(base / f"seg{i}")
        from esbulk_spark.operators.docids import assign_doc_ids_with_count

        withid, _ = assign_doc_ids_with_count(
            p, ("repo", "path", "commit"), out_col="doc_id"
        )
        docs = withid.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(off)).cast("long")
        )
        cfg = IndexConfig(
            index_dir=d, id_col="doc_id", n_buckets=8, n_shards=2,
            chunk_cap=256, store_positions=True,
        )
        build_index(spark, docs, cfg, input_sig=f"segset{i}")
        dirs.append(d)
    return dirs


def test_global_stats_and_bound_scale(spark, seg_dirs):
    import json
    import os

    r = SegmentSetReader(spark, seg_dirs)
    seg = [json.load(open(os.path.join(d, "stats.json"))) for d in seg_dirs]
    assert r.n_docs == sum(s["n_docs"] for s in seg)
    toks = sum(s["total_tokens"] for s in seg)
    assert r.stats["avgdl"] == pytest.approx(toks / r.n_docs)
    # the short-doc segment drags its avgdl below the global average ->
    # its stored bounds need inflation
    assert min(s["avgdl"] for s in seg) < r.stats["avgdl"]
    assert r.bound_scale > 1.0
    # per-term df sums across segments
    seg_df = 0
    for d in seg_dirs:
        one = IndexReader(spark, d)
        seg_df += one.lookup_terms(["return"]).get("return", 0)
    assert r.lookup_terms(["return"])["return"] == seg_df > 0


def test_segment_set_rank_identity(spark, seg_dirs):
    """Every scoring path over the unmerged set == the independent
    full-scan oracle over the union corpus."""
    r = SegmentSetReader(spark, seg_dirs)
    for q in ("flushBuffer retry", "return error", "getUserName"):
        o = [
            (x.doc_id, round(x.score, 6))
            for x in bm25_fullscan(r.docs(), q, text_col="content").collect()
        ]
        w = [(x.doc_id, round(x.score, 6)) for x in r.search(q, k=10).collect()]
        assert o[:10] == w, q
    # forced distributed scorer and forced WAND sweep agree too
    r.driver_score_max = 0
    dist = [(x.doc_id, round(x.score, 6))
            for x in r.search("flushBuffer retry", k=10).collect()]
    r.dense_max = 0
    wand = [(x.doc_id, round(x.score, 6))
            for x in r.search("flushBuffer retry", k=10).collect()]
    r.driver_score_max = 2_000_000
    r.dense_max = None
    exp = [(x.doc_id, round(x.score, 6))
           for x in bm25_fullscan(r.docs(), "flushBuffer retry",
                                  text_col="content").limit(10).collect()]
    assert dist == wand == exp


def test_segment_set_equals_merged(spark, seg_dirs, tmp_path):
    """The unmerged set is rank-identical to the compacted index —
    merge is amortization, not correctness."""
    from esbulk_spark.operators.merge import merge_segments_fast

    merged = str(tmp_path / "merged")
    merge_segments_fast(
        spark, list(seg_dirs),
        IndexConfig(index_dir=merged, id_col="doc_id", n_buckets=8,
                    chunk_cap=256),
    )
    rs = SegmentSetReader(spark, seg_dirs)
    rm = IndexReader(spark, merged)
    for q in ("flushBuffer retry", "return error"):
        a = [(x.doc_id, round(x.score, 6)) for x in rs.search(q, k=15).collect()]
        b = [(x.doc_id, round(x.score, 6)) for x in rm.search(q, k=15).collect()]
        assert a == b
    assert rs.count("return") == rm.count("return")


def test_attach_append_lifecycle(spark, tmp_path):
    """append_docs(merge=False) attaches delta segments that are
    immediately searchable via open_reader (ES refresh semantics);
    upserts tombstone across segments; compact_attached folds the set
    with identical ranks."""
    from esbulk_spark.operators.docids import assign_doc_ids_with_count
    from esbulk_spark.plans.admin import (
        append_docs,
        attached_segments,
        compact_attached,
        open_reader,
    )

    corpus = synth_corpus(spark, 180, seed=9).withColumn(
        "key", F.concat_ws("/", "repo", "path")
    )
    parts = [corpus.filter(f"crc32(path) % 3 = {i}") for i in range(3)]
    idx = str(tmp_path / "idx")
    withid, _ = assign_doc_ids_with_count(
        parts[0], ("repo", "path", "commit"), out_col="doc_id"
    )
    build_index(
        spark,
        withid,
        IndexConfig(
            index_dir=idx, id_col="doc_id", n_buckets=8, n_shards=2,
            chunk_cap=256,
        ),
        input_sig="attach0",
    )
    r1 = append_docs(spark, idx, parts[1], key_col="key", merge=False)
    r2 = append_docs(spark, idx, parts[2], key_col="key", merge=False)
    assert r1["attached_segments"] == 1 and r2["attached_segments"] == 2
    assert len(attached_segments(idx)) == 2
    rr = open_reader(spark, idx)
    assert isinstance(rr, SegmentSetReader)
    assert rr.docs().count() == corpus.count()
    # ids unique across main + attached (the base computation saw the set)
    assert rr._table("docs").select("doc_id").distinct().count() == corpus.count()
    # searchable-now rank identity vs the union full scan
    q = "flushBuffer retry"
    oracle = [
        (x.doc_id, round(x.score, 6))
        for x in bm25_fullscan(rr.docs(), q, text_col="content").collect()
    ][:10]
    got = [(x.doc_id, round(x.score, 6)) for x in rr.search(q, k=10).collect()]
    assert got == oracle
    # upsert ACROSS segments: rewrite 5 docs that live in an attached
    # segment; old versions tombstone, live count is unchanged
    victims = parts[1].limit(5).withColumn(
        "content", F.concat(F.lit("zzzupdated marker "), F.col("content"))
    )
    live_before = rr.docs().count()
    r3 = append_docs(spark, idx, victims, key_col="key", merge=False)
    assert r3["updated"] == 5 and r3["appended"] == 5
    rr = open_reader(spark, idx)
    assert rr.docs().count() == live_before
    assert rr.count("zzzupdated") == 5
    # compact: ranks identical before/after (merge is amortization)
    before = [
        (x.doc_id, round(x.score, 6)) for x in rr.search(q, k=10).collect()
    ]
    compact_attached(spark, idx)
    assert attached_segments(idx) == []
    rm = open_reader(spark, idx)
    assert isinstance(rm, IndexReader) and not isinstance(rm, SegmentSetReader)
    after = [
        (x.doc_id, round(x.score, 6)) for x in rm.search(q, k=10).collect()
    ]
    assert after == before
    assert rm.count("zzzupdated") == 5  # tombstones rode the compaction


def test_segment_set_wider_surfaces(spark, seg_dirs):
    """Bool, phrase, expansion and lookup surfaces run unchanged over
    the segment set (they only consume _table/stats)."""
    r = SegmentSetReader(spark, seg_dirs)
    assert r.has_positions()
    ph = r.search_phrase("return err", k=5).collect()  # may be empty
    assert isinstance(ph, list)
    b = r.search_bool(must=["return"], should=["error"], k=5).collect()
    assert b
    # get_doc reaches into the right segment by plain id
    some = r.docs().filter("doc_id >= 1000000 and doc_id < 2000000").first()
    assert r.get_doc(some.doc_id)["found"] is True
    pre = r.search_prefix("ret", k=5).collect()
    assert pre


def test_snapshot_restore_carries_attached_segments(spark, tmp_path):
    """A snapshot of an index with attached segments must restore the
    FULL committed state — attached docs included (ES snapshots every
    live segment)."""
    from esbulk_spark.operators.docids import assign_doc_ids_with_count
    from esbulk_spark.plans.admin import (
        append_docs,
        attached_segments,
        open_reader,
        restore_index,
        snapshot_index,
    )

    corpus = synth_corpus(spark, 120, seed=21)
    half = corpus.filter("crc32(path) % 2 = 0")
    rest = corpus.filter("crc32(path) % 2 = 1")
    idx = str(tmp_path / "idx")
    withid, _ = assign_doc_ids_with_count(
        half, ("repo", "path", "commit"), out_col="doc_id"
    )
    build_index(
        spark, withid,
        IndexConfig(index_dir=idx, id_col="doc_id", n_buckets=8, n_shards=2,
                    chunk_cap=256),
        input_sig="snapseg",
    )
    append_docs(spark, idx, rest, merge=False)
    n_before = open_reader(spark, idx).docs().count()
    q = "flushBuffer retry"
    before = [
        (x.doc_id, round(x.score, 6))
        for x in open_reader(spark, idx).search(q, k=10).collect()
    ]

    snap = str(tmp_path / "snap")
    meta = snapshot_index(idx, snap)
    assert meta["attached_segments"] == 1
    dst = str(tmp_path / "restored")
    restore_index(snap, dst)
    assert len(attached_segments(dst)) == 1
    rr = open_reader(spark, dst)
    assert rr.docs().count() == n_before == corpus.count()
    after = [(x.doc_id, round(x.score, 6)) for x in rr.search(q, k=10).collect()]
    assert after == before


def test_merge_expands_attached_sources(spark, tmp_path):
    """merge_segments_fast over a source index that still has attached
    segments must fold the attached docs in too (not silently drop
    them) — the CLI `merge` path on a live appended index."""
    from esbulk_spark.operators.docids import assign_doc_ids_with_count
    from esbulk_spark.operators.merge import merge_segments_fast
    from esbulk_spark.plans.admin import append_docs

    corpus = synth_corpus(spark, 120, seed=31)
    half = corpus.filter("crc32(path) % 2 = 0")
    rest = corpus.filter("crc32(path) % 2 = 1")
    idx = str(tmp_path / "idx")
    withid, _ = assign_doc_ids_with_count(
        half, ("repo", "path", "commit"), out_col="doc_id"
    )
    build_index(
        spark, withid,
        IndexConfig(index_dir=idx, id_col="doc_id", n_buckets=8, n_shards=2,
                    chunk_cap=256),
        input_sig="mergeatt",
    )
    append_docs(spark, idx, rest, merge=False)
    merged = str(tmp_path / "merged")
    stats = merge_segments_fast(
        spark, [idx],
        IndexConfig(index_dir=merged, id_col="doc_id", n_buckets=8,
                    chunk_cap=256),
    )
    assert stats["n_docs"] == corpus.count()
    r = IndexReader(spark, merged)
    q = "flushBuffer retry"
    oracle = [
        (x.doc_id, round(x.score, 6))
        for x in bm25_fullscan(r.docs(), q, text_col="content").collect()
    ][:10]
    got = [(x.doc_id, round(x.score, 6)) for x in r.search(q, k=10).collect()]
    assert got == oracle


def test_overwrite_build_drops_stale_overlays(spark, tmp_path):
    """build_index(overwrite=True) with an UNCHANGED fingerprint reuses
    the committed stages but must drop post-build mutation overlays —
    attached segments and tombstones — or a 'purged' rebuild resurrects
    zombie docs/deletes (surfaced by the bench segset entry re-running
    in a fresh process over a reused /tmp index)."""
    from esbulk_spark.operators.docids import assign_doc_ids_with_count
    from esbulk_spark.plans.admin import (
        append_docs,
        attached_segments,
        delete_by_ids,
        open_reader,
    )

    corpus = synth_corpus(spark, 90, seed=41)
    half = corpus.filter("crc32(path) % 2 = 0")
    rest = corpus.filter("crc32(path) % 2 = 1")
    idx = str(tmp_path / "idx")
    withid, _ = assign_doc_ids_with_count(
        half, ("repo", "path", "commit"), out_col="doc_id"
    )
    cfg = IndexConfig(index_dir=idx, id_col="doc_id", n_buckets=8,
                      n_shards=2, chunk_cap=256, overwrite=True)
    build_index(spark, withid, cfg, input_sig="zombie")
    n_main = open_reader(spark, idx).docs().count()
    append_docs(spark, idx, rest, merge=False)
    delete_by_ids(spark, idx, [0])
    assert attached_segments(idx)

    # same fingerprint + overwrite: stages reused, overlays dropped
    build_index(spark, withid, cfg, input_sig="zombie")
    assert attached_segments(idx) == []
    r = open_reader(spark, idx)
    assert isinstance(r, IndexReader)
    assert r.docs().count() == n_main  # no zombie deletes either
    # a re-append of the same delta now works (no id clash)
    res = append_docs(spark, idx, rest, merge=False)
    assert res["appended"] == rest.count()


def test_segment_set_read_terms_matches_spark(spark, seg_dirs, chunk_rows):
    """The driver-side read over the set carries the Spark union's rows
    exactly: shard offsets, the stored bounds as written (the scorer
    applies bound_scale, > 1 here) and per-term df/cf sums."""
    r = SegmentSetReader(spark, seg_dirs)
    assert r.bound_scale != 1.0
    terms = sorted(
        x.term for x in r.dictionary().select("term").limit(40).collect()
    ) + ["return", "zzznotaterm"]
    got = r.read_postings(terms).to_pandas()
    want = r._pruned_postings(terms).toPandas()
    cols = list(got.columns)
    assert set(cols) == set(want.columns) - {"bucket"}
    assert len(got) and chunk_rows(got, cols) == chunk_rows(want, cols)
    assert got["shard"].max() >= 4  # the third segment's offset applied
    d = r.read_terms("dictionary", terms).to_pandas()
    sd = r.dictionary().filter(F.col("term").isin(terms)).toPandas()
    assert dict(zip(d.term, zip(d.df, d.cf))) == dict(zip(sd.term, zip(sd.df, sd.cf)))


def test_segment_set_serving_runs_no_spark_job(spark, tmp_path, count_jobs):
    """search_rows over main + an attached segment, with tombstones, runs
    no Spark job; it serves the full-scan oracle's ranking (minus the
    tombstoned doc, survivors' scores unchanged) and what the forced
    WAND sweep and the distributed scorer serve."""
    from esbulk_spark.operators.docids import assign_doc_ids_with_count
    from esbulk_spark.plans.admin import append_docs, delete_by_ids, open_reader

    corpus = synth_corpus(spark, 90, seed=51)
    idx = str(tmp_path / "idx")
    withid, _ = assign_doc_ids_with_count(
        corpus.filter("crc32(path) % 2 = 0"), ("repo", "path", "commit"),
        out_col="doc_id",
    )
    build_index(
        spark, withid,
        IndexConfig(index_dir=idx, id_col="doc_id", n_buckets=8, n_shards=2,
                    chunk_cap=256),
        input_sig="nojobs",
    )
    append_docs(spark, idx, corpus.filter("crc32(path) % 2 = 1"), merge=False)
    qs = ("flushBuffer retry", "return error")

    def rounded(rows):
        return [(d, round(s, 6)) for d, s in rows]

    rr = open_reader(spark, idx)
    oracle = {
        q: [(x.doc_id, round(x.score, 6)) for x in
            bm25_fullscan(rr.docs(), q, text_col="content", k=11).collect()]
        for q in qs
    }
    victim = oracle[qs[0]][0][0]
    delete_by_ids(spark, idx, [victim])
    rr = open_reader(spark, idx)
    assert isinstance(rr, SegmentSetReader)
    with count_jobs() as c:
        fresh = {q: rr.search_rows(q) for q in qs}
        cached = {q: rr.search_rows(q) for q in qs}
    assert c["jobs"] == 0
    assert fresh == cached
    for q in qs:
        assert rounded(fresh[q]) == [x for x in oracle[q] if x[0] != victim][:10]
    rr.dense_max = 0  # driver-side WAND sweep
    assert {q: rr.search_rows(q) for q in qs} == fresh
    rr.driver_score_max = 0  # distributed WAND sweep
    assert {q: rr.search_rows(q) for q in qs} == fresh


def test_search_many_over_segment_set(spark, seg_dirs):
    """The batch path over a segment set with inflated bounds serves
    per-query search_rows' rows exactly, on both sides of the gate, and
    the full-scan oracle's ranking."""
    r = SegmentSetReader(spark, seg_dirs)
    assert r.bound_scale > 1.0
    qs = {"a": "flushBuffer retry", "b": "return error value", "c": "getUserName"}
    oracle = {
        q: [(x.doc_id, round(x.score, 6)) for x in
            bm25_fullscan(r.docs(), t, text_col="content", k=10).collect()]
        for q, t in qs.items()
    }
    for gate in (2_000_000, 0):
        r.driver_score_max = gate
        for round_to in (None, 4):
            got = {}
            for x in r.search_many(qs, k=10, round_to=round_to).collect():
                got.setdefault(x.qid, []).append((x.doc_id, x.score))
            want = {q: r.search_rows(t, k=10, round_to=round_to) for q, t in qs.items()}
            assert got == want and all(want.values())
            if round_to is None:
                assert {q: [(d, round(s, 6)) for d, s in v]
                        for q, v in got.items()} == oracle
