"""Chunk-encoder unit tests against the grouped-array input contract.

The encoder consumes one row per COMPLETE (term, shard) group
(postings pre-sorted by doc_id), so reduceat segment bounds and Arrow
batching can never leak rows across groups — the regression ADVICE r1
flagged (tail-group contamination of chunk_cf / max_tfnorm) is
structurally impossible, and these tests pin that: group stats must be
independent of how groups are packed into record batches.
"""

import numpy as np
import pandas as pd
import pyarrow as pa

from esbulk_spark.config import IndexConfig
from esbulk_spark.plans.build import make_chunk_builder, _tfnorm

_POST_T = pa.list_(
    pa.struct([("doc_id", pa.int64()), ("tf", pa.int32()), ("dl", pa.int32())])
)
_IN_SCHEMA = pa.schema(
    [("term", pa.string()), ("shard", pa.int32()), ("postings", _POST_T)]
)


def _group(term, shard, postings):
    """postings: list of (doc_id, tf, dl), already doc-sorted."""
    return (term, shard, [{"doc_id": d, "tf": t, "dl": l} for d, t, l in postings])


def _batch(groups):
    return pa.RecordBatch.from_arrays(
        [
            pa.array([g[0] for g in groups], pa.string()),
            pa.array([g[1] for g in groups], pa.int32()),
            pa.array([g[2] for g in groups], _POST_T),
        ],
        schema=_IN_SCHEMA,
    )


def _run(builder, batches):
    out = list(builder(iter(batches)))
    if not out:
        return pd.DataFrame()
    return pa.Table.from_batches(out).to_pandas()


def test_group_stats_come_from_own_rows_only():
    cfg = IndexConfig(index_dir="/tmp/unused", chunk_cap=1 << 15, block_size=128)
    avgdl = 10.0
    builder = make_chunk_builder(cfg, avgdl)
    groups = [
        _group("aaa", 0, [(1, 1, 10), (2, 1, 10), (3, 1, 10)]),
        _group("bbb", 0, [(10, 100, 10), (11, 100, 10), (12, 3, 10)]),
    ]
    chunks = _run(builder, [_batch(groups)])
    aaa = chunks[chunks.term == "aaa"].iloc[0]
    assert int(aaa["chunk_cf"]) == 3  # r1 bug: absorbed bbb's tf=100 rows
    expected_max = float(
        _tfnorm(np.array([1]), np.array([10]), cfg.k1, cfg.b, avgdl)[0]
    )
    assert abs(float(aaa["max_tfnorm"]) - expected_max) < 1e-12
    assert list(aaa["block_max_tfnorm"]) == [float(aaa["max_tfnorm"])]
    bbb = chunks[chunks.term == "bbb"].iloc[0]
    assert int(bbb["chunk_cf"]) == 203
    assert int(bbb["n"]) == 3


def test_chunk_bytes_independent_of_batching():
    cfg = IndexConfig(index_dir="/tmp/unused", chunk_cap=8, block_size=4)
    avgdl = 7.0
    rng = np.random.RandomState(3)
    groups = []
    for t in ["t%02d" % i for i in range(6)]:
        for shard in (0, 1):
            n = rng.randint(1, 20)
            ids = np.sort(rng.choice(10_000, size=n, replace=False))
            groups.append(
                _group(t, shard, [(int(d), int(rng.randint(1, 9)), 7) for d in ids])
            )
    whole = _run(make_chunk_builder(cfg, avgdl), [_batch(groups)])
    for cutpoints in [[3], [1, 2], [5, 9], list(range(1, len(groups)))]:
        parts, prev = [], 0
        for c in cutpoints:
            parts.append(_batch(groups[prev:c]))
            prev = c
        parts.append(_batch(groups[prev:]))
        split = _run(make_chunk_builder(cfg, avgdl), parts)
        a = whole.sort_values(["term", "shard", "chunk"]).reset_index(drop=True)
        b = split.sort_values(["term", "shard", "chunk"]).reset_index(drop=True)
        assert len(a) == len(b)
        for col in ["term", "shard", "chunk", "min_doc", "max_doc", "n", "chunk_cf"]:
            assert a[col].tolist() == b[col].tolist(), col
        for col in ["blob_ids", "blob_tfs", "blob_dls"]:
            assert [bytes(x) for x in a[col]] == [bytes(x) for x in b[col]], col
        assert np.allclose(
            a["max_tfnorm"].values.astype(float), b["max_tfnorm"].values.astype(float)
        )
        for col in ["block_last", "block_max_tfnorm", "off_ids"]:
            assert [list(x) for x in a[col]] == [list(x) for x in b[col]], col


def test_chunk_splitting_and_blocks():
    cfg = IndexConfig(index_dir="/tmp/unused", chunk_cap=5, block_size=2)
    avgdl = 4.0
    postings = [(i * 3, 1 + (i % 3), 4) for i in range(12)]  # 12 postings
    chunks = _run(make_chunk_builder(cfg, avgdl), [_batch([_group("t", 0, postings)])])
    assert chunks["chunk"].tolist() == [0, 1, 2]  # 5 + 5 + 2
    assert chunks["n"].tolist() == [5, 5, 2]
    assert int(chunks["chunk_cf"].sum()) == sum(p[1] for p in postings)
    assert chunks["min_doc"].tolist() == [0, 15, 30]
    assert chunks["max_doc"].tolist() == [12, 27, 33]
    # block structure: ceil(5/2)=3, 3, 1 blocks
    assert [len(x) for x in chunks["block_last"]] == [3, 3, 1]
    # decode round-trip equals input
    from esbulk_spark.functions.codec import delta_decode, varint_decode

    got = []
    for _, r in chunks.iterrows():
        ids = delta_decode(varint_decode(bytes(r["blob_ids"])))
        tfs = varint_decode(bytes(r["blob_tfs"]))
        dls = varint_decode(bytes(r["blob_dls"]))
        got += list(zip(ids.tolist(), tfs.tolist(), dls.tolist()))
    assert got == postings


def test_pack_tiers_byte_identical(spark, corpus, tmp_path):
    """The three Arrow-boundary packing tiers (packed1 single-long,
    packed2 struct, struct) and a positional build must produce
    byte-identical postings tables — packing is a transport
    optimization and positions ride beside the postings rows, never
    a semantic change. The positional build's positions table must
    equal a posexplode -> sorted collect_list reference."""
    import os

    from pyspark.sql import functions as F

    from esbulk_spark.functions.analyzer import tokens_col
    from esbulk_spark.plans import build as build_mod
    from esbulk_spark.plans.build import build_index

    def _postings_map(d):
        rows = spark.read.parquet(os.path.join(d, "postings")).collect()
        return {
            (r.term, r.shard, r.chunk): (
                bytes(r.blob_ids), bytes(r.blob_tfs), bytes(r.blob_dls),
                list(r.block_last), [round(x, 12) for x in r.block_max_tfnorm],
                r.min_doc, r.max_doc, r.n, r.chunk_cf,
            )
            for r in rows
        }

    maps = {}
    # name -> (forced tier, store_positions)
    for name, (tier, positional) in {
        "packed1": ("packed1", False),
        "packed2": ("packed2", False),
        "struct": ("struct", False),
        "positional": (None, True),
    }.items():
        build_mod._FORCE_PACK = tier
        try:
            d = str(tmp_path / name)
            cfg = IndexConfig(index_dir=d, n_buckets=8, n_shards=4, chunk_cap=256,
                              store_positions=positional)
            build_index(spark, corpus, cfg, input_sig=f"tier-{name}")
        finally:
            build_mod._FORCE_PACK = None
        maps[name] = _postings_map(d)
    assert maps["packed1"] == maps["struct"]
    assert maps["packed2"] == maps["struct"]
    assert maps["positional"] == maps["struct"]

    d = str(tmp_path / "positional")
    ref = (
        spark.read.parquet(os.path.join(d, "docs"))
        .select("doc_id", F.posexplode(tokens_col("content")).alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )

    def _rows(df):
        return sorted(
            (r.term, r.doc_id, list(r.positions))
            for r in df.select("term", "doc_id", "positions").collect()
        )

    got = _rows(spark.read.parquet(os.path.join(d, "positions")))
    assert got and got == _rows(ref)
