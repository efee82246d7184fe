"""Delta + varint (LEB128) posting-list codec (SURVEY.md B6).

Lucene-style segment encoding, re-expressed as vectorized NumPy: the
reference delegates this to Elasticsearch's Lucene segments (the index it
bulk-feeds via /root/reference/indexing.go:261-356); we own it.

All loops are over the varint BYTE WIDTH (<= 10 for uint64), never over
elements — encode/decode cost is O(n) numpy passes, suitable for use
inside Arrow-batched pandas UDFs with posting lists of millions of ids.

Layout contract (the postings table's chunk rows, written by
plans/build.py's encoder):
  * doc_ids are sorted ascending, delta-encoded: delta[0] = ids[0],
    delta[i] = ids[i] - ids[i-1]. Blocks of BLOCK_SIZE postings re-base
    on the PREVIOUS block's last doc id, so a block can be decoded
    independently given block_last[b-1] — sequential whole-chunk decode
    and per-block skip-decode yield identical ids.
  * tf and dl streams are plain varint (no delta).

This module is also the one kernel every numpy reader of that format
calls: ``decode_chunk`` is the only decode of the (blob_ids, blob_tfs,
blob_dls) triple — WAND scoring (whole chunk or one block), the reader's
row decode, merge's tf-row decode and its block-max refresh — and
``tfnorm`` is the only numpy BM25 tf-norm, used by those and by the
encoder's stored max_tfnorm / block_max_tfnorm. One float operation
order everywhere is what keeps every stored bound >= the score WAND
computes for a posting it covers.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def _varint_widths(v: np.ndarray) -> np.ndarray:
    """Byte width per value: ceil(bit_length / 7), min 1."""
    nbytes = np.ones(v.shape, dtype=np.int64)
    shifted = v >> np.uint64(7)
    while np.any(shifted):
        nbytes += (shifted > 0).astype(np.int64)
        shifted >>= np.uint64(7)
    return nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array. Vectorized over numpy."""
    return varint_encode_with_widths(values)[0]


def varint_encode_with_widths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """(encoded bytes, per-value byte widths) — widths let callers slice
    the stream at arbitrary value boundaries without re-encoding."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    if not np.any(v >> np.uint64(7)):
        # all values < 128: LEB128 is the value byte itself (no
        # continuation bits) — one cast instead of the width/scatter
        # passes. Common for tf streams and dense-id delta streams.
        return v.astype(np.uint8).tobytes(), np.ones(v.size, dtype=np.int64)
    nbytes = _varint_widths(v)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_nb = int(nbytes.max())
    for i in range(max_nb):
        mask = nbytes > i
        pos = starts[mask] + i
        chunk = (v[mask] >> np.uint64(7 * i)) & np.uint64(0x7F)
        cont = (nbytes[mask] > i + 1).astype(np.uint8) << 7
        out[pos] = chunk.astype(np.uint8) | cont
    return out.tobytes(), nbytes


def varint_decode(buf: bytes | np.ndarray, offset: int = 0, count: int | None = None) -> np.ndarray:
    """Decode LEB128 stream -> uint64 array.

    ``offset`` skips into the byte stream (block skip-decode); ``count``
    limits the number of values decoded (None = until end of buffer).
    """
    # bound the scan: a 64-bit LEB128 value is <= 10 bytes, so the first
    # ``count`` values live inside the next 10*count bytes — without this
    # cap a block decode near the start of a large chunk blob would scan
    # the whole remaining stream for end-bytes (O(chunk) per block)
    end = offset + 10 * count if count is not None else None
    b = np.frombuffer(buf, dtype=np.uint8)[offset:end]
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_end = b < 0x80
    ends = np.flatnonzero(is_end)
    if count is not None:
        ends = ends[:count]
        b = b[: int(ends[-1]) + 1] if ends.size else b[:0]
        is_end = b < 0x80
    n = ends.size
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # per-byte shift amount = position within its value * 7
    idx = np.arange(b.size, dtype=np.int64)
    # owner of byte i = number of end-bytes strictly before i (O(n))
    owner = np.empty(b.size, dtype=np.int64)
    owner[0] = 0
    np.cumsum(is_end[:-1], out=owner[1:])
    owner = np.minimum(owner, n - 1)
    k = idx - starts[owner]
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * k.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return ids
    deltas = np.empty_like(ids)
    deltas[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    return deltas


def delta_decode(deltas: np.ndarray, base: int = 0) -> np.ndarray:
    d = np.asarray(deltas, dtype=np.uint64)
    if d.size == 0:
        return d
    out = np.cumsum(d, dtype=np.uint64)
    if base:
        out += np.uint64(base)
    return out


def varint_encode_blocks(values: np.ndarray, block_size: int = BLOCK_SIZE) -> tuple[bytes, np.ndarray]:
    """Plain-varint encode + byte offsets of each block start (skip decode)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    blob, widths = varint_encode_with_widths(v)
    byte_pos = np.concatenate(([0], np.cumsum(widths)[:-1]))
    starts = np.arange(0, v.size, block_size, dtype=np.int64)
    return blob, byte_pos[starts]


def encode_postings(ids: np.ndarray, block_size: int = BLOCK_SIZE) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Encode sorted doc ids -> (blob, block_byte_offsets, block_last_ids).

    Blocks of ``block_size``; block b's first delta is relative to block
    b-1's last id (block 0 relative to 0), enabling independent decode.
    """
    ids = np.asarray(ids, dtype=np.uint64)
    deltas = delta_encode(ids)
    n = ids.size
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.uint64)
    # The sequential delta stream is already blockwise-rebased: the delta at
    # a block's first position is ids[lo] - ids[lo-1] = ids[lo] - block_last[b-1].
    # So one encode pass suffices; block byte offsets fall out of the widths.
    blob, widths = varint_encode_with_widths(deltas)
    byte_pos = np.concatenate(([0], np.cumsum(widths)[:-1]))
    starts = np.arange(0, n, block_size, dtype=np.int64)
    block_ends = np.minimum(starts + block_size, n) - 1
    return blob, byte_pos[starts], ids[block_ends]


def decode_block(
    blob: bytes,
    offsets: np.ndarray,
    lasts: np.ndarray,
    bi: int,
    n_in_block: int,
    block_size: int = BLOCK_SIZE,
) -> np.ndarray:
    """Decode one block of doc ids independently."""
    base = int(lasts[bi - 1]) if bi > 0 else 0
    deltas = varint_decode(blob, offset=int(offsets[bi]), count=n_in_block)
    return delta_decode(deltas, base=base)


def decode_ids(blob, offset: int = 0, count: int | None = None, base: int = 0) -> np.ndarray:
    """Doc ids (int64) of one chunk's id stream — or, given a block's
    byte ``offset``, its posting ``count`` and the previous block's last
    id as ``base``, of that block alone."""
    return delta_decode(varint_decode(blob, offset=offset, count=count), base=base).view(np.int64)


def decode_chunk(
    blob_ids,
    blob_tfs,
    blob_dls,
    count: int | None = None,
    offsets: tuple[int, int, int] = (0, 0, 0),
    base: int = 0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls) int64 arrays of one postings chunk row. With
    a block's per-stream byte ``offsets`` (off_ids/off_tfs/off_dls[j]),
    ``count`` and ``base`` (block_last[j-1]), of block j alone."""
    off_ids, off_tfs, off_dls = offsets
    return (
        decode_ids(blob_ids, off_ids, count, base),
        varint_decode(blob_tfs, offset=off_tfs, count=count).view(np.int64),
        varint_decode(blob_dls, offset=off_dls, count=count).view(np.int64),
    )


def tfnorm(tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float) -> np.ndarray:
    """BM25 tf-normalization tf*(k1+1) / (tf + k1*(1 - b + b*(dl/avgdl)))
    in float64 — the one operation order every stored bound and every
    scored posting use."""
    tf = tf.astype(np.float64)
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (dl.astype(np.float64) / avgdl)))
