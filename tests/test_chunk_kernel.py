"""The postings chunk kernel (functions/codec.py: decode_chunk, tfnorm).

Block-max WAND is exact only while every stored bound is >= the tf-norm
the scorer computes for each posting under it. These tests hold every
bound-writing path to that — the fresh build, compaction of attached
segments and a segmented build — comparing floats exactly, and pin that
the reader's row decode scores a posting to the same bits as WAND."""

import json
import os

from esbulk_spark.config import IndexConfig
from esbulk_spark.corpus import synth_corpus
from esbulk_spark.functions.codec import decode_chunk, tfnorm
from esbulk_spark.plans.build import build_index
from esbulk_spark.plans.reader import IndexReader


def _bound_undershoots(spark, index_dir):
    """(block bounds, chunk bounds) below the kernel's tfnorm of some
    posting they cover, over every chunk row; asserts the block layout
    on the way."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        st = json.load(f)
    k1, b, avgdl, bs = st["k1"], st["b"], st["avgdl"], st["block_size"]
    rows = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .select("n", "max_tfnorm", "block_max_tfnorm",
                "blob_ids", "blob_tfs", "blob_dls")
        .collect()
    )
    assert rows
    blocks = chunks = 0
    for r in rows:
        ids, tfs, dls = decode_chunk(r.blob_ids, r.blob_tfs, r.blob_dls)
        assert ids.size == r.n
        tfn = tfnorm(tfs, dls, k1, b, avgdl)
        bmax = list(r.block_max_tfnorm)
        assert len(bmax) == -(-r.n // bs)
        for j, bound in enumerate(bmax):
            blocks += bool(bound < tfn[j * bs:(j + 1) * bs].max())
        chunks += bool(r.max_tfnorm < tfn.max())
    return blocks, chunks


def test_block_bounds_cover_the_scorer_after_compaction(spark, tmp_path):
    from esbulk_spark.plans.admin import append_docs, compact_attached

    idx = str(tmp_path / "idx")
    build_index(
        spark, synth_corpus(spark, 300, seed=7),
        IndexConfig(index_dir=idx, n_buckets=8, n_shards=2, chunk_cap=256),
        input_sig="kernel300",
    )
    assert _bound_undershoots(spark, idx) == (0, 0)
    append_docs(spark, idx, synth_corpus(spark, 80, seed=8), merge=False)
    compact_attached(spark, idx)
    assert _bound_undershoots(spark, idx) == (0, 0)

    seg = str(tmp_path / "seg")
    build_index(
        spark, synth_corpus(spark, 300, seed=7),
        IndexConfig(index_dir=seg, n_buckets=8, n_shards=2, chunk_cap=256,
                    segmented=2),
        input_sig="kernel300seg",
    )
    assert _bound_undershoots(spark, seg) == (0, 0)


def test_row_decode_scores_equal_the_scorer_bitwise(spark, index_dir):
    """score_all (the reader's row decode) and the WAND scorer give every
    posting of a one-term query the same float, bit for bit."""
    r = IndexReader(spark, index_dir)
    hot = (
        spark.read.parquet(os.path.join(index_dir, "dictionary"))
        .orderBy("df", "term", ascending=[False, True])
        .limit(5)
        .collect()
    )
    for row in hot:
        want = dict(r.search_rows(row.term, k=r.n_docs, prune=False))
        got = {x.doc_id: x.score for x in r.score_all(row.term).collect()}
        assert len(got) == row.df
        assert got == want, row.term
