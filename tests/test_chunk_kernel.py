"""The postings chunk kernel (functions/codec.py: decode_rows,
decode_chunk, tfnorm).

The batch decoder ``decode_rows`` must give exactly the postings of the
per-chunk ``decode_chunk``, in row order, for any view of chunk rows.
Block-max WAND is exact only while every stored bound is >= the tf-norm
the scorer computes for each posting under it. These tests hold every
bound-writing path to that — the fresh build, compaction of attached
segments and a segmented build — comparing floats exactly, and pin that
the reader's row decode scores a posting to the same bits as WAND."""

import json
import os

import numpy as np
import pytest

from esbulk_spark.config import IndexConfig
from esbulk_spark.corpus import synth_corpus
from esbulk_spark.functions.codec import ChunkRows, decode_chunk, decode_rows, tfnorm
from esbulk_spark.plans.build import _encode_batch_groups, build_index
from esbulk_spark.plans.reader import IndexReader


def _chunk_batch(n_groups, id_base, tf_hi, dl_hi, cap=256, seed=3):
    """A postings record batch from the build's encoder: ``n_groups``
    (term, shard) groups of random sorted ids from ``id_base``, tf in
    [1, tf_hi), dl in [tf_hi, dl_hi), chunks of <= ``cap`` postings."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(1, 3 * cap, n_groups)
    ids = np.concatenate([
        id_base + np.sort(rng.choice(1 << 20, n, replace=False)) for n in lens
    ]).astype(np.int64)
    tfs = rng.integers(1, tf_hi, ids.size)
    dls = rng.integers(tf_hi, dl_hi, ids.size)
    ends = np.cumsum(lens)
    return _encode_batch_groups(
        [f"t{i}" for i in range(n_groups)], np.arange(n_groups), ids, tfs, dls,
        tfnorm(tfs, dls, 1.2, 0.75, float(dl_hi)), ends - lens, ends, cap, 128,
    )


@pytest.mark.parametrize("batch, rows", [
    # one row; many contiguous rows; the same rows permuted; an empty view
    ((1, 0, 4, 60), "all"),
    ((12, 0, 4, 60), "all"),
    ((12, 0, 4, 60), "permuted"),
    ((12, 0, 4, 60), "empty"),
    # ids >= 2^32 (5-byte first deltas); multi-byte tf and dl streams
    ((6, 1 << 33, 4, 60), "all"),
    ((6, 0, 500, 70_000), "permuted"),
    # an Arrow slice with a non-zero offset, then rows inside it
    ((12, 1 << 33, 500, 70_000), "slice"),
    ((12, 0, 4, 60), "middle"),
], ids=["one-row", "many-rows", "permuted", "empty", "ids-over-2^32",
        "multibyte-tf-dl", "arrow-slice", "middle-rows"])
def test_decode_rows_equals_per_chunk_decode(batch, rows):
    rb = _chunk_batch(*batch)
    if rows == "slice":
        rb = rb.slice(3, rb.num_rows - 5)
    chunks = ChunkRows.from_arrow(rb)
    n = len(chunks)
    pick = {
        "all": np.arange(n), "slice": np.arange(n),
        "permuted": np.random.default_rng(1).permutation(n),
        "empty": np.arange(0), "middle": np.arange(2, n - 2),
    }[rows]
    view = chunks.take(pick)
    got = decode_rows(view)
    parts = [
        decode_chunk(*(chunks.cell(c, r) for c in ("blob_ids", "blob_tfs", "blob_dls")))
        for r in view.rows
    ]
    for i, col in enumerate(got):
        want = (np.concatenate([p[i] for p in parts]) if parts
                else np.zeros(0, np.int64))
        assert col.dtype == np.int64
        assert np.array_equal(col, want)
    assert got[0].size == int(view["n"].sum())


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


def _rows_chunk_by_chunk(r, terms, doc_filter=None):
    """The reader's row decode done one chunk at a time with
    decode_chunk, as a sorted list of (term, doc_id, tf, dl, contrib)."""
    from esbulk_spark.plans.wand import idf

    dfs = r._dfs_cached(terms)
    dead = r._deleted_arr()
    dead = set() if dead is None else set(dead.tolist())
    keep = None if doc_filter is None else set(doc_filter.tolist())
    s = r.stats
    t = r.read_postings(sorted(dfs), ["term", "blob_ids", "blob_tfs", "blob_dls"])
    out = []
    for term, *blobs in zip(*(t[c].to_pylist()
                              for c in ("term", "blob_ids", "blob_tfs", "blob_dls"))):
        ids, tfs, dls = decode_chunk(*blobs)
        contrib = float(idf(dfs[term], r.n_docs)) * tfnorm(
            tfs, dls, s["k1"], s["b"], s["avgdl"])
        out += [
            (term, int(d), int(tf), int(dl), float(c))
            for d, tf, dl, c in zip(ids, tfs, dls, contrib)
            if d not in dead and (keep is None or d in keep)
        ]
    return sorted(out)


def test_row_decode_equals_chunk_by_chunk(spark, index_dir, tmp_path):
    """_decode_to_rows (one batch decode per Arrow batch) yields the rows
    of a chunk-by-chunk decode, floats bit for bit: with a doc filter,
    and on a segment set with tombstones."""
    from esbulk_spark.plans import admin

    terms = ["return", "error", "flush", "buffer", "retri", "zzznotaterm"]

    def rows(r, doc_filter=None):
        return sorted(
            (x.term, x.doc_id, x.tf, x.dl, x.contrib)
            for x in r._decode_to_rows(terms, doc_filter=doc_filter).collect()
        )

    r = IndexReader(spark, index_dir)
    assert rows(r) == _rows_chunk_by_chunk(r, terms)
    flt = np.arange(0, r.n_docs, 3, dtype=np.int64)
    assert rows(r, flt) == _rows_chunk_by_chunk(r, terms, flt)
    assert rows(r, flt[:0]) == []

    d = str(tmp_path / "set")
    admin.snapshot_index(index_dir, str(tmp_path / "snap"))
    admin.restore_index(str(tmp_path / "snap"), d)
    admin.append_docs(spark, d, synth_corpus(spark, 40, seed=9), merge=False)
    admin.delete_by_ids(spark, d, list(range(0, 190, 7)))
    rs = admin.open_reader(spark, d)
    assert len(rs.segment_dirs) == 2 and rs._deleted_arr() is not None
    got = rows(rs)
    assert got and got == _rows_chunk_by_chunk(rs, terms)
    assert not {x[1] for x in got} & set(range(0, 190, 7))
