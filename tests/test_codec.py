"""Delta+varint codec round-trips (SURVEY.md B6, §5 test plan item 1).

Property-style over random arrays, mirroring the reference's deterministic
fixture strategy (/root/reference/fixtures/gen.py) with hypothesis."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from esbulk_spark.functions.codec import (
    BLOCK_SIZE,
    ChunkRows,
    decode_chunk,
    decode_rows,
    delta_decode,
    delta_encode,
    tfnorm,
    varint_decode,
    varint_encode,
    varint_encode_with_widths,
)
from esbulk_spark.plans.build import _encode_batch_groups


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=2000, unique=True)
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip_and_blockwise(ids):
    """One posting list through the build's encoder (one chunk row; the
    encoder never sees an empty list) decodes whole, and each block
    decodes alone from its stored byte offsets and the previous
    block's last id."""
    ids = np.sort(np.array(ids, dtype=np.int64))
    one = np.ones(ids.size, dtype=np.int64)
    rb = _encode_batch_groups(
        ["t"], np.zeros(1, np.int64), ids, one, one, tfnorm(one, one, 1.2, 0.75, 1.0),
        np.array([0]), np.array([ids.size]), 1 << 20, BLOCK_SIZE,
    )
    chunks = ChunkRows.from_arrow(rb)
    assert np.array_equal(decode_rows(chunks)[0], ids)
    lasts = chunks.cell("block_last", 0)
    blobs = [chunks.cell(c, 0) for c in ("blob_ids", "blob_tfs", "blob_dls")]
    for bi in range(lasts.size):
        cnt = min(BLOCK_SIZE, ids.size - bi * BLOCK_SIZE)
        blk, _, _ = decode_chunk(
            *blobs, count=cnt,
            offsets=tuple(int(chunks.cell(c, 0)[bi]) for c in ("off_ids", "off_tfs", "off_dls")),
            base=int(lasts[bi - 1]) if bi else 0,
        )
        assert np.array_equal(blk, ids[bi * BLOCK_SIZE: bi * BLOCK_SIZE + cnt])


def test_varint_boundaries():
    v = np.array([0, 1, 127, 128, 16383, 16384, 2**35, 2**63 - 1, 2**64 - 1], dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(v)), v)


def test_offset_count_decode():
    enc = varint_encode(np.arange(1000, dtype=np.uint64) * 3)
    assert np.array_equal(
        varint_decode(enc, count=10), np.arange(10, dtype=np.uint64) * 3
    )


def test_block_offsets_skip_decode():
    vals = np.random.RandomState(0).randint(0, 2**20, 1000).astype(np.uint64)
    blob, widths = varint_encode_with_widths(vals)
    offs = np.concatenate(([0], np.cumsum(widths)))[::128]
    # decode the 3rd block directly
    got = varint_decode(blob, offset=int(offs[2]), count=128)
    assert np.array_equal(got, vals[256:384])


def test_delta_empty():
    e = np.zeros(0, dtype=np.uint64)
    assert delta_encode(e).size == 0
    assert delta_decode(e).size == 0
    assert varint_encode(e) == b""
