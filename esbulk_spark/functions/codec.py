"""Delta + varint (LEB128) posting-list codec (SURVEY.md B6).

Lucene-style segment encoding, re-expressed as vectorized NumPy: the
reference delegates this to Elasticsearch's Lucene segments (the index it
bulk-feeds via /root/reference/indexing.go:261-356); we own it.

All loops are over the varint BYTE WIDTH (<= 10 for uint64), never over
elements — encode/decode cost is O(n) numpy passes, suitable for use
inside Arrow-batched UDFs with posting lists of millions of ids.

Layout contract (the postings table's chunk rows, written by
plans/build.py's encoder):
  * doc_ids are sorted ascending, delta-encoded: delta[0] = ids[0],
    delta[i] = ids[i] - ids[i-1]. Blocks of BLOCK_SIZE postings re-base
    on the PREVIOUS block's last doc id, so a block can be decoded
    independently given block_last[b-1] — sequential whole-chunk decode
    and per-block skip-decode yield identical ids.
  * tf and dl streams are plain varint (no delta).

This module is also the one kernel every numpy reader of that format
calls. ``ChunkRows`` holds chunk rows as numpy columns over their Arrow
buffers; ``decode_rows`` is the batch inverse of the build's encoder
(``plans/build._encode_batch_groups``): one varint decode per stream
over every selected row's blob bytes, one cumsum for the ids. WAND's
dense path and whole-chunk decode, the reader's row decode and its
seed, merge's tf-row decode and its block-max refresh all call it.
``decode_chunk`` remains for WAND's per-block skip-decode. ``tfnorm``
is the only numpy BM25 tf-norm, used by those and by the encoder's
stored max_tfnorm / block_max_tfnorm. One float operation order
everywhere is what keeps every stored bound >= the score WAND computes
for a posting it covers.
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
        delta_decode(varint_decode(blob_ids, offset=off_ids, count=count),
                     base=base).view(np.int64),
        varint_decode(blob_tfs, offset=off_tfs, count=count).view(np.int64),
        varint_decode(blob_dls, offset=off_dls, count=count).view(np.int64),
    )


class ChunkRows:
    """Postings chunk rows as numpy columns: the input form of every
    numpy reader of the postings (WAND's ``score_group``, the reader's
    row decode, both merge passes), built from Arrow. Flat columns are
    numpy arrays; list and binary columns are ``(values, offsets)``
    pairs over the Arrow buffers, so building one copies no blob. A
    holder is a view that selects rows by index: ``len(chunks)`` is its
    chunk-row count and ``chunks[name]`` a flat column's numpy array
    over those rows."""

    __slots__ = ("cols", "rows")

    def __init__(self, cols: dict, rows: np.ndarray):
        self.cols = cols
        self.rows = rows

    @classmethod
    def from_arrow(cls, t) -> "ChunkRows":
        """Every column of the Arrow table or record batch ``t``."""
        import pyarrow as pa

        cols: dict = {}
        for name in t.column_names:
            a = t.column(name)
            if isinstance(a, pa.ChunkedArray):
                a = a.combine_chunks()
            ty = a.type
            if pa.types.is_list(ty) or pa.types.is_large_list(ty):
                cols[name] = (a.values.to_numpy(), a.offsets.to_numpy())
            elif pa.types.is_binary(ty) or pa.types.is_large_binary(ty):
                _valid, offs, data = a.buffers()
                off_t = np.int64 if pa.types.is_large_binary(ty) else np.int32
                cols[name] = (
                    np.frombuffer(data, np.uint8) if data is not None
                    else np.zeros(0, np.uint8),
                    np.frombuffer(offs, off_t)[a.offset: a.offset + len(a) + 1],
                )
            else:
                cols[name] = a.to_numpy(zero_copy_only=False)
        return cls(cols, np.arange(t.num_rows))

    def __len__(self) -> int:
        return self.rows.size

    def __getitem__(self, name: str) -> np.ndarray:
        return self.cols[name][self.rows]

    def take(self, idx: np.ndarray) -> "ChunkRows":
        """The view over this view's rows at positions ``idx``."""
        return ChunkRows(self.cols, self.rows[idx])

    def cell(self, name: str, row: int) -> np.ndarray:
        """List or binary column ``name`` at absolute row ``row``."""
        values, offs = self.cols[name]
        return values[offs[row]: offs[row + 1]]

    def gather(self, name: str, rows: np.ndarray) -> np.ndarray:
        """List or binary column ``name``'s cells at absolute ``rows``,
        concatenated."""
        values, offs = self.cols[name]
        lo, nb = offs[rows], offs[rows + 1] - offs[rows]
        first = np.cumsum(nb) - nb
        return values[np.arange(nb.sum()) - np.repeat(first - lo, nb)]


def decode_rows(chunks: ChunkRows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls) int64 arrays of every posting of ``chunks``'
    rows, in row order, then doc order within a row: the batch inverse
    of the build's encoder. One varint decode per stream over the rows'
    blob bytes (a slice of the Arrow buffer when the rows are
    contiguous), one cumsum for the ids, reset at every row start: a
    chunk's first delta is its absolute id."""
    rows = chunks.rows
    ns = chunks["n"].astype(np.int64)
    contiguous = rows.size > 0 and bool(np.all(np.diff(rows) == 1))

    def stream(name: str) -> np.ndarray:
        if not contiguous:
            return chunks.gather(name, rows)
        values, offs = chunks.cols[name]
        return values[offs[rows[0]]: offs[rows[-1] + 1]]

    deltas = varint_decode(stream("blob_ids"))
    sums = np.cumsum(deltas)
    first = np.cumsum(ns) - ns
    ids = sums - np.repeat(sums[first] - deltas[first], ns)
    return (
        ids.view(np.int64),
        varint_decode(stream("blob_tfs")).view(np.int64),
        varint_decode(stream("blob_dls")).view(np.int64),
    )


def tfnorm(tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float) -> np.ndarray:
    """BM25 tf-normalization tf*(k1+1) / (tf + k1*(1 - b + b*(dl/avgdl)))
    in float64 — the one operation order every stored bound and every
    scored posting use."""
    tf = tf.astype(np.float64)
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (dl.astype(np.float64) / avgdl)))
