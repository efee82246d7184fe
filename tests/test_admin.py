"""Index administration surface (plans/admin.py): aliases, snapshot /
restore, reindex, _cat — the ES cluster-metadata family around the data
path (reference parity: index create/delete run.go:160-175, doc-count
verification run_test.go:318-320)."""

import json
import os

import pytest

from esbulk_spark.config import IndexConfig
from esbulk_spark.plans import admin
from esbulk_spark.plans.build import build_index
from esbulk_spark.plans.reader import IndexReader


@pytest.fixture()
def registry(tmp_path):
    return str(tmp_path / "registry")


def test_alias_crud(registry, index_dir):
    admin.put_alias(registry, "live", index_dir)
    admin.put_alias(registry, "live", index_dir)  # idempotent
    assert admin.resolve_alias(registry, "live") == [os.path.abspath(index_dir)]
    # a literal index dir resolves to itself
    assert admin.resolve_alias(registry, index_dir) == [os.path.abspath(index_dir)]
    with pytest.raises(KeyError):
        admin.resolve_alias(registry, "nope")
    admin.delete_alias(registry, "live")
    with pytest.raises(KeyError):
        admin.resolve_alias(registry, "live")


def test_search_through_alias(spark, registry, index_dir):
    admin.put_alias(registry, "live", index_dir)
    direct = IndexReader(spark, index_dir).search("flushBuffer retry", k=5).collect()
    via = admin.search_alias(spark, registry, "live", "flushBuffer retry", k=5).collect()
    assert [(r.doc_id, r.score) for r in via] == [(r.doc_id, r.score) for r in direct]


def test_multi_index_alias_fans_out(spark, registry, index_dir, tmp_path):
    # second index over a different corpus slice
    from esbulk_spark.corpus import synth_corpus

    d2 = str(tmp_path / "idx2")
    cfg = IndexConfig(index_dir=d2, n_buckets=8, n_shards=2, chunk_cap=256)
    build_index(spark, synth_corpus(spark, 60, seed=7), cfg, input_sig="a60")
    admin.put_alias(registry, "all", index_dir)
    admin.put_alias(registry, "all", d2)
    out = admin.search_alias(spark, registry, "all", "return", k=5).collect()
    assert len(out) == 5
    assert {r._index for r in out} <= {os.path.basename(index_dir), "idx2"}


def test_snapshot_restore_roundtrip(spark, index_dir, tmp_path):
    snap = str(tmp_path / "snap")
    meta = admin.snapshot_index(index_dir, snap)
    assert "docs" in meta["tables"] and "postings" in meta["tables"]
    assert os.path.exists(os.path.join(snap, admin.SNAPSHOT_FILE))

    dest = str(tmp_path / "restored")
    admin.restore_index(snap, dest)
    with pytest.raises(FileExistsError):
        admin.restore_index(snap, dest)

    orig = IndexReader(spark, index_dir).search("flushBuffer retry", k=5).collect()
    rest = IndexReader(spark, dest).search("flushBuffer retry", k=5).collect()
    assert [(r.doc_id, round(r.score, 6)) for r in rest] == [
        (r.doc_id, round(r.score, 6)) for r in orig
    ]


def test_reindex_full_and_filtered(spark, index_dir, tmp_path):
    src = IndexReader(spark, index_dir)

    full_dir = str(tmp_path / "re_full")
    cfg = IndexConfig(index_dir=full_dir, n_buckets=8, n_shards=2, chunk_cap=256)
    admin.reindex(spark, index_dir, cfg)
    rf = IndexReader(spark, full_dir)
    assert rf.doc_count() == src.doc_count()
    # scores identical: same docs, same ids, same stats
    a = src.search("flushBuffer retry", k=5, round_to=6).collect()
    b = rf.search("flushBuffer retry", k=5, round_to=6).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]

    filt_dir = str(tmp_path / "re_filt")
    cfg2 = IndexConfig(index_dir=filt_dir, n_buckets=8, n_shards=2, chunk_cap=256)
    admin.reindex(spark, index_dir, cfg2, query="flushBuffer")
    rq = IndexReader(spark, filt_dir)
    expected = src.score_all("flushBuffer").count()
    assert rq.doc_count() == expected > 0


@pytest.fixture()
def mutable_index(index_dir, tmp_path):
    """A private copy of the shared index (via snapshot/restore — the
    session-scoped index_dir must never be mutated)."""
    snap = str(tmp_path / "mi_snap")
    dest = str(tmp_path / "mi")
    admin.snapshot_index(index_dir, snap)
    admin.restore_index(snap, dest)
    return dest


def test_delete_by_query_soft_semantics(spark, mutable_index):
    r = IndexReader(spark, mutable_index)
    q, wide = "flushBuffer", "flushBuffer retry"
    before = {x.doc_id: x.score for x in r.search(wide, k=100).collect()}
    victims = {x.doc_id for x in r.score_all(q).collect()}
    assert victims
    res = admin.delete_by_query(spark, mutable_index, q)
    assert res["deleted"] == len(victims) == res["total_tombstones"]
    r.refresh()
    after = {x.doc_id: x.score for x in r.search(wide, k=100).collect()}
    # deleted docs gone from every hit list
    assert victims.isdisjoint(after)
    # soft delete: survivors keep IDENTICAL scores (stats unchanged
    # until expunge — the Lucene deletes-between-merges contract)
    for d, s in before.items():
        if d not in victims:
            assert after[d] == pytest.approx(s, abs=1e-9)
    # the distributed per-shard scorer and the forced WAND sweep mask too
    r.driver_score_max = 0
    dist = {x.doc_id: x.score for x in r.search(wide, k=100).collect()}
    assert dist.keys() == after.keys()
    r.dense_max = 0
    wand = {x.doc_id for x in r.search(wide, k=100).collect()}
    assert wand == after.keys()
    r.driver_score_max = 2_000_000
    r.dense_max = None
    # count / get / phrase / bool surfaces respect tombstones
    assert r.count(q) == 0
    vid = next(iter(victims))
    assert r.get_doc(vid)["found"] is False
    assert victims.isdisjoint(
        {x.doc_id for x in r.search_bool(must=["retry"], k=1000).collect()}
    )
    # idempotent: deleting the same match set again adds nothing
    res2 = admin.delete_by_query(spark, mutable_index, q)
    assert res2["deleted"] == 0 and res2["total_tombstones"] == len(victims)


def test_expunge_deletes_recomputes_stats(spark, mutable_index):
    from esbulk_spark.plans.score import bm25_fullscan

    r = IndexReader(spark, mutable_index)
    n_before = r.doc_count()
    victims = {x.doc_id for x in r.score_all("flushBuffer").collect()}
    admin.delete_by_query(spark, mutable_index, "flushBuffer")
    admin.expunge_deletes(spark, mutable_index)
    r = IndexReader(spark, mutable_index)
    assert r._deleted_arr() is None
    assert r.doc_count() == r.n_docs == n_before - len(victims)
    # post-compaction rank identity vs the full-scan oracle over the
    # live corpus (scores now reflect the post-delete statistics)
    q = "flushBuffer retry"
    o = [(x.doc_id, round(x.score, 6))
         for x in bm25_fullscan(r.docs(), q, text_col="content").collect()]
    w = [(x.doc_id, round(x.score, 6)) for x in r.search(q).collect()]
    assert o == w
    # expunge with no tombstones is a no-op
    st = admin.expunge_deletes(spark, mutable_index)
    assert st["n_docs"] == r.n_docs


@pytest.mark.parametrize("positions", [False, True])
def test_expunge_deletes_sha_only(spark, tmp_path, positions):
    """A store_content=False index expunges without its text: the docs,
    stats, postings and positions come from the index itself, and the
    result ranks like the full-scan oracle over the live source docs.
    update_by_query, which needs the text, says so."""
    from esbulk_spark.corpus import synth_corpus
    from esbulk_spark.operators.docids import assign_doc_ids_with_count
    from esbulk_spark.plans.score import bm25_fullscan

    src, _ = assign_doc_ids_with_count(
        synth_corpus(spark, 60, seed=13), ("repo", "path", "commit"),
        out_col="doc_id",
    )
    src = src.cache()
    d = str(tmp_path / "sha")
    build_index(spark, src, IndexConfig(
        index_dir=d, id_col="doc_id", n_buckets=4, n_shards=2, chunk_cap=64,
        store_content=False, store_positions=positions,
    ), input_sig="sha60")
    dead = list(range(0, 60, 4))
    admin.delete_by_ids(spark, d, dead)
    admin.expunge_deletes(spark, d)

    r = IndexReader(spark, d)
    live = src.filter(~src.doc_id.isin(dead))
    assert r._deleted_arr() is None
    assert r.doc_count() == r.n_docs == live.count()
    assert "content" not in r.docs().columns
    for q in ("flushBuffer retry", "return error value", "getUserName"):
        o = [(x.doc_id, round(x.score, 6)) for x in
             bm25_fullscan(live, q, text_col="content", k=10).collect()]
        w = [(x.doc_id, round(x.score, 6)) for x in r.search(q).collect()]
        assert o == w, q
    if positions:
        pos = {x.doc_id for x in spark.read.parquet(f"{d}/positions").collect()}
        assert pos == {x.doc_id for x in live.select("doc_id").collect()}
        q = "return error"
        assert not {x.doc_id for x in r.search_phrase(q, k=100).collect()} & set(dead)
    with pytest.raises(ValueError, match="store_content"):
        admin.update_by_query(spark, d, {"lang": "'x'"})
    src.unpersist()


def test_update_by_query(spark, mutable_index):
    from esbulk_spark.plans.score import bm25_fullscan

    r = IndexReader(spark, mutable_index)
    n = r.doc_count()
    hits = {x.doc_id for x in r.score_all("flushBuffer").collect()}
    assert hits
    admin.update_by_query(
        spark,
        mutable_index,
        {"content": "concat(content, ' zzupdated zzupdated')"},
        query="flushBuffer",
    )
    r = IndexReader(spark, mutable_index)
    assert r.doc_count() == n  # updates, not inserts
    assert {x.doc_id for x in r.score_all("zzupdated").collect()} == hits
    o = [(x.doc_id, round(x.score, 6))
         for x in bm25_fullscan(r.docs(), "zzupdated retry", text_col="content").collect()]
    w = [(x.doc_id, round(x.score, 6)) for x in r.search("zzupdated retry").collect()]
    assert o == w


def test_delete_by_ids_cat_and_snapshot_carry_tombstones(
    spark, mutable_index, tmp_path
):
    r = IndexReader(spark, mutable_index)
    ids = [x.doc_id for x in r.docs().select("doc_id").limit(3).collect()]
    admin.delete_by_ids(spark, mutable_index, ids)
    row = admin.cat_indices([mutable_index])[0]
    assert row["docs_deleted"] == 3
    # snapshots capture the tombstone state
    snap = str(tmp_path / "dsnap")
    dest = str(tmp_path / "drest")
    admin.snapshot_index(mutable_index, snap)
    admin.restore_index(snap, dest)
    r2 = IndexReader(spark, dest)
    assert r2.get_doc(ids[0])["found"] is False
    assert admin.cat_indices([dest])[0]["docs_deleted"] == 3


def test_append_docs_plain_rank_identity(spark, mutable_index):
    """Plain append (delta segment + fast merge + swap) is rank-identical
    to a from-scratch build over the union — BM25 stats refreshed."""
    from esbulk_spark.corpus import synth_corpus
    from esbulk_spark.plans.score import bm25_fullscan

    extra = synth_corpus(spark, 40, seed=99)
    r0 = IndexReader(spark, mutable_index)
    n0, sh0 = r0.doc_count(), r0.stats["n_shards"]
    res = admin.append_docs(spark, mutable_index, extra)
    assert res["appended"] == 40 and res["n_docs"] == n0 + 40
    assert res["n_shards"] > sh0  # segment proliferation, Lucene-style
    r = IndexReader(spark, mutable_index)
    assert r.doc_count() == n0 + 40
    for q in ("flushBuffer retry", "return"):
        o = [(x.doc_id, round(x.score, 6))
             for x in bm25_fullscan(r.docs(), q, text_col="content").collect()]
        w = [(x.doc_id, round(x.score, 6)) for x in r.search(q).collect()]
        assert o == w
    # appended ids extend past the old max: old ids unchanged
    assert r.docs().agg({"doc_id": "max"}).first()[0] == n0 + 40 - 1


def test_append_docs_upsert_and_create(spark, mutable_index):
    from pyspark.sql import functions as F

    r = IndexReader(spark, mutable_index)
    n0 = r.doc_count()
    some = r.docs().orderBy("doc_id").limit(10).select(
        "repo", "path", "commit", "lang",
        F.concat("content", F.lit(" zzrev2 zzrev2")).alias("content"),
    )
    # upsert by path: old versions tombstoned, new searchable
    res = admin.append_docs(
        spark, mutable_index, some, key_col="path", op_type="index"
    )
    assert res == {
        "appended": 10, "updated": 10, "skipped": 0,
        "n_docs": res["n_docs"], "n_shards": res["n_shards"],
    }
    r = IndexReader(spark, mutable_index)
    assert r.doc_count() == n0  # updates, not inserts
    assert len(r.score_all("zzrev2").collect()) == 10
    dups = (
        r.docs().groupBy("path").count().filter("count > 1").count()
    )
    assert dups == 0  # one live version per key
    # create: resending the same keys is a no-op append
    res2 = admin.append_docs(
        spark, mutable_index, some, key_col="path", op_type="create"
    )
    assert res2["appended"] == 0 and res2["skipped"] == 10
    assert IndexReader(spark, mutable_index).doc_count() == n0
    # duplicate keys within a batch are rejected (explicit contract)
    with pytest.raises(ValueError, match="duplicate"):
        admin.append_docs(
            spark, mutable_index, some.unionByName(some), key_col="path"
        )


def test_append_docs_keep_ids_rejects_clashes(spark, mutable_index):
    from pyspark.sql import functions as F

    r = IndexReader(spark, mutable_index)
    clash = r.docs().filter("doc_id < 3")
    with pytest.raises(ValueError, match="already exist"):
        admin.append_docs(spark, mutable_index, clash, keep_ids=True)
    fresh = clash.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    res = admin.append_docs(spark, mutable_index, fresh, keep_ids=True)
    assert res["appended"] == 3
    r = IndexReader(spark, mutable_index)
    assert r.get_doc(1_000_000)["found"] is True


def test_cat_indices(index_dir, tmp_path):
    rows = admin.cat_indices([index_dir, str(tmp_path / "missing")])
    by_health = {r["health"] for r in rows}
    assert by_health == {"green", "red"}
    green = [r for r in rows if r["health"] == "green"][0]
    assert green["docs_count"] == 150 and green["store_size_bytes"] > 0


def test_cli_admin_roundtrip(index_dir, tmp_path, capsys):
    from esbulk_spark.cli import main

    reg = str(tmp_path / "reg")
    assert main(["alias", "--registry", reg, "--put", "live",
                 "--index-dir", index_dir]) == 0
    assert main(["alias", "--registry", reg, "--list"]) == 0
    out = capsys.readouterr().out
    assert "live" in out and os.path.abspath(index_dir) in out

    snap = str(tmp_path / "clisnap")
    assert main(["snapshot", "--index-dir", index_dir, "--snap-dir", snap]) == 0
    dest = str(tmp_path / "clirestore")
    assert main(["restore", "--snap-dir", snap, "--index-dir", dest]) == 0
    assert main(["cat", "--index-dirs", f"{index_dir},{dest}"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l.strip()]
    cat = [r for r in rows if r.get("health")]
    assert len(cat) == 2 and all(r["health"] == "green" for r in cat)
    assert cat[0]["docs_count"] == cat[1]["docs_count"] == 150


def test_reshard_split_and_shrink(spark, corpus, tmp_path):
    """ES _split/_shrink analog: resharding re-groups decoded postings
    under a new shard_size without re-tokenizing; ranks AND scores are
    identical (BM25 inputs are shard-independent), positions carry over,
    and tombstones stay masked."""
    base = str(tmp_path)
    src_cfg = IndexConfig(index_dir=f"{base}/src", n_buckets=8, n_shards=2,
                          chunk_cap=256, store_positions=True)
    build_index(spark, corpus, src_cfg, input_sig="rs150")
    admin.delete_by_ids(spark, f"{base}/src", [3])
    rs = IndexReader(spark, f"{base}/src")
    queries = ["flushBuffer retry score", "return", "getUserName"]
    before = {
        q: [(x.doc_id, round(x.score, 6)) for x in rs.search(q, k=10).collect()]
        for q in queries
    }
    ph_before = [(x.doc_id, x.phrase_freq) for x in rs.search_phrase("get user").collect()]

    for n_shards in (5, 1):  # split 2->5, shrink 2->1
        dst = f"{base}/dst{n_shards}"
        stats = admin.reshard_index(spark, f"{base}/src", dst, n_shards=n_shards)
        assert stats["n_shards"] == n_shards
        rd = IndexReader(spark, dst)
        assert rd.stats["n_shards"] == n_shards
        assert rd.doc_count() == rs.doc_count()
        for q in queries:
            got = [(x.doc_id, round(x.score, 6)) for x in rd.search(q, k=10).collect()]
            assert got == before[q], (n_shards, q)
        assert 3 not in {d for q in queries for d, _ in
                         [(x.doc_id, 0) for x in rd.search(q, k=50).collect()]}
        # positions carried over: phrase results identical
        assert [(x.doc_id, x.phrase_freq)
                for x in rd.search_phrase("get user").collect()] == ph_before

    with pytest.raises(ValueError, match="n_shards"):
        admin.reshard_index(spark, f"{base}/src", f"{base}/bad", n_shards=0)


def test_cat_segments_and_index_stats(spark, tmp_path):
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.corpus import synth_corpus
    from esbulk_spark.plans.admin import (
        append_docs,
        cat_segments,
        index_stats,
    )
    from esbulk_spark.plans.build import build_index

    d = str(tmp_path / "idx_cat")
    cfg = IndexConfig(index_dir=d, n_buckets=4, n_shards=2)
    build_index(spark, synth_corpus(spark, 60, seed=3), cfg, input_sig="c60")
    append_docs(spark, d, synth_corpus(spark, 15, seed=4), merge=False)

    segs = cat_segments(d)
    assert [s["segment"] for s in segs][0] == "_base"
    assert len(segs) == 2 and all(s["committed"] for s in segs)
    assert segs[0]["docs_count"] == 60 and segs[1]["docs_count"] == 15

    st = index_stats(d)
    assert st["docs_count"] == 75
    assert st["segments"] == 2 and st["attached"] == 1
    assert st["store_size_bytes"] > 0


def test_suggest_phrase_uses_prebuilt_lm(spark, tmp_path):
    """suggest_phrase is identical before/after materializing the LM."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.corpus import synth_corpus
    from esbulk_spark.plans.admin import build_suggest_lm
    from esbulk_spark.plans.build import build_index
    from esbulk_spark.plans.reader import IndexReader

    d = str(tmp_path / "idx_lm")
    cfg = IndexConfig(index_dir=d, n_buckets=4, n_shards=2)
    build_index(spark, synth_corpus(spark, 80, seed=9), cfg, input_sig="l80")
    r = IndexReader(spark, d)

    text = " ".join(
        x[0] for x in r.docs().select(r._text_col()).head(3)
    ).lower().split()
    pair = next((a, b) for a, b in zip(text, text[1:]) if len(a) >= 4)
    typo = pair[0][:-1] + ("x" if pair[0][-1] != "x" else "y")
    q = f"{typo} {pair[1]}"

    before = r.suggest_phrase(q, size=3)
    build_suggest_lm(spark, d)
    import os
    assert os.path.exists(os.path.join(d, "lm", "lm_meta.json"))
    after = r.suggest_phrase(q, size=3)
    assert [(s["text"], s["n_edits"]) for s in before] == \
        [(s["text"], s["n_edits"]) for s in after]
    for x, y in zip(before, after):
        assert x["score"] == pytest.approx(y["score"], abs=1e-9)
