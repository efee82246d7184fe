"""The segment lifecycle (plans/admin.py): append, compaction, rebuild and
reshard keep the index's layout, the two append modes give one result,
and a fold that fails leaves the index as it was."""

import hashlib
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from esbulk_spark.config import IndexConfig
from esbulk_spark.corpus import synth_corpus
from esbulk_spark.operators import merge
from esbulk_spark.plans import admin
from esbulk_spark.plans.build import build_index
from esbulk_spark.plans.reader import IndexReader

LAYOUT = ("analyzer", "store_content", "store_positions", "text_col",
          "chunk_cap", "block_size", "k1", "b")


def _layout(d):
    st = json.load(open(os.path.join(d, "stats.json")))
    return {k: st.get(k) for k in LAYOUT}


def _row_hashes(spark, d):
    """xor of xxhash64 over every row, and the row count, per table."""
    out = {}
    for t in ("postings", "dictionary", "docs"):
        df = spark.read.parquet(os.path.join(d, t))
        h = df.select(F.xxhash64(*sorted(df.columns)).alias("h")).agg(
            F.bit_xor("h"), F.count("h")
        ).first()
        out[t] = (h[0], h[1])
    return out


def _tree(d):
    """relative path -> content digest of every file under ``d``."""
    out = {}
    for root, _dirs, files in os.walk(d):
        for fn in files:
            p = os.path.join(root, fn)
            out[os.path.relpath(p, d)] = hashlib.sha1(open(p, "rb").read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def batches(spark):
    return [synth_corpus(spark, 30, seed=s).cache() for s in (71, 72, 73)]


def test_layout_survives_lifecycle(spark, corpus, batches, tmp_path):
    """A sha-only index with a non-default layout keeps it through
    attach, compaction, merged append and reshard, and the resharded
    index takes appends; expunge keeps a stored-content index's."""
    base = str(tmp_path)
    src = f"{base}/src"
    build_index(spark, corpus, IndexConfig(
        index_dir=src, n_buckets=8, n_shards=2, chunk_cap=256, block_size=64,
        k1=1.1, b=0.7, store_content=False, store_positions=True,
    ), input_sig="layout-src")
    want = _layout(src)
    assert want["store_content"] is False and want["block_size"] == 64

    admin.append_docs(spark, src, batches[0], merge=False)
    (seg,) = admin.attached_segments(src)
    assert _layout(seg) == want
    admin.compact_attached(spark, src)
    assert _layout(src) == want
    admin.append_docs(spark, src, batches[1])
    assert _layout(src) == want

    dst = f"{base}/dst"
    admin.reshard_index(spark, src, dst, n_shards=3)
    assert _layout(dst) == want
    res = admin.append_docs(spark, dst, batches[2])
    assert res["appended"] == 30
    assert IndexReader(spark, dst).doc_count() == corpus.count() + 90

    full = f"{base}/full"
    build_index(spark, corpus, IndexConfig(
        index_dir=full, n_buckets=8, n_shards=2, chunk_cap=256, block_size=64,
        k1=1.1, b=0.7, store_positions=True,
    ), input_sig="layout-full")
    want = _layout(full)
    admin.delete_by_ids(spark, full, [1, 2])
    admin.expunge_deletes(spark, full)
    assert _layout(full) == want
    assert IndexReader(spark, full).doc_count() == corpus.count() - 2


def test_merged_append_equals_attach_then_compact(spark, corpus, tmp_path, monkeypatch):
    """append_docs(merge=True) == append_docs(merge=False) +
    compact_attached, upsert tombstones included; a fold that raises
    leaves the index dir and its attached segments untouched."""
    base = str(tmp_path)
    a, b = f"{base}/a", f"{base}/b"
    build_index(spark, corpus, IndexConfig(
        index_dir=a, n_buckets=8, n_shards=2, chunk_cap=256,
    ), input_sig="modes")
    shutil.copytree(a, b)
    upsert = IndexReader(spark, a).docs().orderBy("doc_id").limit(10).select(
        "repo", "path", "commit", "lang",
        F.concat("content", F.lit(" zzrev2")).alias("content"),
    )
    ra = admin.append_docs(spark, a, upsert, key_col="path")
    rb = admin.append_docs(spark, b, upsert, key_col="path", merge=False)
    assert ra["updated"] == rb["updated"] == 10
    admin.compact_attached(spark, b)

    assert _row_hashes(spark, a) == _row_hashes(spark, b)
    sa, sb = (json.load(open(os.path.join(d, "stats.json"))) for d in (a, b))
    sa.pop("fingerprint"), sb.pop("fingerprint")
    assert sa == sb
    dels = [
        sorted(x.doc_id for x in spark.read.parquet(f"{d}/deletes").collect())
        for d in (a, b)
    ]
    assert dels[0] == dels[1] == list(range(10))
    assert IndexReader(spark, a).doc_count() == corpus.count()

    # a failed fold: attach one segment, then make the merge raise
    admin.append_docs(spark, b, synth_corpus(spark, 20, seed=74), merge=False)
    before = _tree(b)
    assert any(p.startswith("attached/") for p in before)

    def boom(*args, **kwargs):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(merge, "merge_segments_fast", boom)
    for fold in (
        lambda: admin.append_docs(spark, b, upsert, key_col="path"),
        lambda: admin.compact_attached(spark, b),
    ):
        with pytest.raises(RuntimeError, match="merge failed"):
            fold()
        assert _tree(b) == before
        assert sorted(os.listdir(base)) == ["a", "b"]
