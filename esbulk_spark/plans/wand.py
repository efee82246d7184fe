"""Block-max pruned BM25 top-k scoring (SURVEY.md B8-B11).

The reference's tests assert on Elasticsearch `_score`/`max_score`
(/root/reference/run_test.go:416-465); the engine behind those numbers is
Lucene's BM25 + block-max WAND (Ding & Suel 2011). Here the same pruning
idea is re-expressed in a *vectorized, shard-parallel* form that fits
Spark's execution model:

  * The index is doc-range sharded; one group = one (query, shard): an
    ``applyInArrow`` group on the distributed path, a slice of the
    driver's Arrow read on the driver path. Both hand ``score_group``
    the same ``ChunkRows`` columns (functions/codec.py, next to the
    chunk format they view). Shards run as independent tasks
    across the cluster; a global top-k merge of the tiny per-shard
    winners finishes the job.
  * Within a group, candidate doc space is partitioned into ELEMENTARY
    RANGES — the refinement of all posting-block boundaries of the
    query's terms. Each range has an exact upper bound
        UB(range) = sum_t idf_t * block_max_tfnorm(covering block of t)
    computed from block metadata only (nothing decoded yet).
  * Ranges are processed in UB-descending batches; docs in a batch are
    exact-scored (vectorized decode + bincount-accumulate), the running
    threshold theta = k-th best score rises, and processing stops when
    the next range's UB < theta. Every skipped range provably contains
    no top-k doc: per term, score_t = idf*tfnorm <= idf*block_max_tfnorm
    (IEEE multiply and add are monotone), so exact <= UB holds in float,
    not just in math — pruning is exact, giving rank-identical results
    vs the full-scan oracle. Ties: ranges with UB == theta are still
    processed, so equal-score/smaller-doc_id winners are never lost.

This is block-max WAND's skipping logic reorganized from a doc-at-a-time
cursor walk (pointer-chasing, per-doc Python cost) into a range-at-a-time
vectorized sweep — same bounds, same skips, numpy throughput.

``prune=False`` is the index-backed full-scan oracle: the dense kernel
at every group size, which decodes and scores every posting and reads
no block bound; tests assert it matches both the pruned path and the
raw-corpus DataFrame oracle (plans/score.py).

Chunk decode and the tf-norm come from the kernel in functions/codec.py:
``decode_rows`` decodes the dense path's rows and a cursor's whole
chunks in one batch, ``decode_chunk`` one block for the skip-decode,
and ``tfnorm`` is the one the encoder's stored bounds and every other
numpy reader of the postings use — so the "exact <= UB" argument above
holds bit for bit, not just up to rounding. A segment set's stored
bounds were computed under each segment's avgdl; the reader's
``bound_scale`` inflates them here, before idf multiplies them.
"""

from __future__ import annotations

import numpy as np

from esbulk_spark.functions.codec import ChunkRows, decode_chunk, decode_rows, tfnorm

RESULT_SCHEMA = "qid string, shard int, doc_id long, score double"

# score_group groups at or under this many postings take the dense
# decode-all path instead of the elementary-range WAND sweep
DENSE_GROUP_MAX = 1 << 19
# elementary ranges the WAND sweep scores per pass before it re-checks
# the threshold
BATCH_RANGES = 64


def idf(df: int | np.ndarray, n_docs: int) -> float | np.ndarray:
    """Lucene BM25 idf (public formula): ln(1 + (N - df + .5)/(df + .5))."""
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def not_in_sorted(ids: np.ndarray, excl: np.ndarray) -> np.ndarray:
    """Boolean keep-mask: True where ``ids`` is NOT in the sorted int64
    array ``excl`` (vectorized searchsorted membership — the tombstone
    filter for soft-deleted docs)."""
    pos = np.searchsorted(excl, ids)
    inb = pos < excl.size
    hit = np.zeros(ids.size, dtype=bool)
    hit[inb] = excl[pos[inb]] == ids[inb]
    return ~hit


class _TermCursor:
    """Decoded-on-demand view over one term's chunk rows within a shard."""

    # chunks at or under this many postings decode WHOLE on first touch
    # (3 vectorized varint calls amortized over every later block hit);
    # bigger chunks keep per-block skip-decode, where WAND selectivity
    # pays for the per-call overhead. 32k ≈ 4 ms full decode.
    FULL_DECODE_MAX = 1 << 15

    __slots__ = ("idf", "blk_start", "blk_end", "blk_ub", "blk_row", "blk_j",
                 "blk_n", "chunks", "rows", "ns", "cache", "chunk_cache", "k1",
                 "b", "avgdl", "bs")

    def __init__(self, term_idf: float, chunks: ChunkRows, rows: np.ndarray,
                 block_size: int, k1: float, b: float, avgdl: float,
                 bound_scale: float = 1.0):
        # rows: the term's absolute chunk rows in ``chunks``, by min_doc;
        # bound_scale: the reader's factor that keeps stored block maxes
        # valid under its statistics (1.0 on a single index)
        self.idf = term_idf
        self.chunks = chunks
        self.rows = rows
        self.ns = chunks.cols["n"][rows].astype(np.int64)
        self.cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
        self.chunk_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.k1, self.b, self.avgdl = k1, b, avgdl
        self.bs = block_size
        _, offs = chunks.cols["block_last"]
        nb = (offs[rows + 1] - offs[rows]).astype(np.int64)
        first = np.cumsum(nb) - nb
        self.blk_end = chunks.gather("block_last", rows).astype(np.int64)
        self.blk_start = np.empty_like(self.blk_end)
        self.blk_start[1:] = self.blk_end[:-1] + 1
        self.blk_start[first] = chunks.cols["min_doc"][rows]
        self.blk_ub = term_idf * (
            chunks.gather("block_max_tfnorm", rows).astype(np.float64) * bound_scale
        )
        self.blk_row = np.repeat(np.arange(rows.size, dtype=np.int64), nb)
        self.blk_j = np.arange(self.blk_end.size, dtype=np.int64) - np.repeat(first, nb)
        self.blk_n = np.full(self.blk_end.size, block_size, dtype=np.int64)
        self.blk_n[first + nb - 1] = self.ns - (nb - 1) * block_size

    def _decode_chunk(self, ri: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, contribs) of ALL postings in chunk row ri; cached."""
        hit = self.chunk_cache.get(ri)
        if hit is not None:
            return hit
        ids, tfs, dls = decode_rows(ChunkRows(self.chunks.cols, self.rows[ri:ri + 1]))
        out = (ids, self.idf * tfnorm(tfs, dls, self.k1, self.b, self.avgdl))
        self.chunk_cache[ri] = out
        return out

    def decode(self, bi: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, contribs) of global block bi; cached."""
        key = (int(self.blk_row[bi]), int(self.blk_j[bi]))
        hit = self.cache.get(key)
        if hit is not None:
            return hit
        ri, j = key
        if int(self.ns[ri]) <= self.FULL_DECODE_MAX:
            ids, contrib = self._decode_chunk(ri)
            s = j * self.bs
            e = s + int(self.blk_n[bi])
            out = (ids[s:e], contrib[s:e])
            self.cache[key] = out
            return out
        row = self.rows[ri]
        ids, tfs, dls = decode_chunk(
            *(self.chunks.cell(c, row) for c in ("blob_ids", "blob_tfs", "blob_dls")),
            count=int(self.blk_n[bi]),
            offsets=tuple(int(self.chunks.cell(c, row)[j])
                          for c in ("off_ids", "off_tfs", "off_dls")),
            base=int(self.blk_end[bi - 1]) if j > 0 else 0,
        )
        out = (ids, self.idf * tfnorm(tfs, dls, self.k1, self.b, self.avgdl))
        self.cache[key] = out
        return out


def score_group(
    chunks: ChunkRows,
    n_docs: int,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
    prune: bool = True,
    dense_max: int | None = None,
    exclude: np.ndarray | None = None,
    bound_scale: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one (query, shard) group of postings-chunk rows.

    Per-term df rides in as a column (a literal map or a broadcast join
    on the distributed path, the df cache on the driver); idf is
    computed here. Returns (top_doc_ids, top_scores),
    sorted by (score desc, doc_id asc), at most k entries.

    ``exclude`` (sorted int64 doc_ids) is the soft-delete tombstone set:
    excluded docs are masked out BEFORE top-k selection, so a deleted
    doc never occupies a winner slot (Lucene liveDocs semantics). Block
    upper bounds may still include deleted docs — they stay valid (just
    less tight) for the live docs, so pruning remains exact.

    ``bound_scale`` multiplies every stored block max before idf does
    (the reader's ``bound_scale``: > 1 on a segment set whose global
    avgdl exceeds a segment's, plans/segments.py)."""
    if exclude is not None and not exclude.size:
        exclude = None
    if not len(chunks):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    # terms in code-point order, each term's rows by min_doc
    _terms, codes = np.unique(chunks["term"], return_inverse=True)
    order = np.lexsort((chunks["min_doc"], codes))
    codes, rows, dfs = codes[order], chunks.rows[order], chunks["df"][order]
    firsts = np.flatnonzero(np.diff(codes, prepend=-1))
    idfs = [float(idf(int(dfs[f]), n_docs)) for f in firsts]

    # dense path for small groups: below ~half a million postings,
    # decoding everything (3 vectorized varint calls for the group) and
    # one bincount beats the per-candidate-block WAND loop (~30 us of
    # numpy small-op overhead per block) — WAND's pruning only pays once
    # the group is large enough that skipped decode outweighs loop
    # overhead. Rows keep the cursors' (term, min_doc) order, so each
    # doc's contributions sum in the same order either way. Exact either
    # way; rank-identity asserted in tests/test_rank_fuzz. Unpruned
    # scoring (prune=False) is this path at every size.
    total_n = int(chunks["n"].sum())
    if not prune or total_n <= (DENSE_GROUP_MAX if dense_max is None else dense_max):
        dense = ChunkRows(chunks.cols, rows)
        all_ids, tfs, dls = decode_rows(dense)
        row_idf = np.repeat(idfs, np.diff(np.append(firsts, rows.size)))
        all_contrib = np.repeat(row_idf, dense["n"].astype(np.int64)) * tfnorm(
            tfs, dls, k1, b, avgdl)
        if exclude is not None:
            keep = not_in_sorted(all_ids, exclude)
            all_ids, all_contrib = all_ids[keep], all_contrib[keep]
        u, inv = np.unique(all_ids, return_inverse=True)
        scores = np.bincount(inv, weights=all_contrib)
        sel = np.lexsort((u, -scores))[:k]
        return u[sel], scores[sel]

    cursors = [
        _TermCursor(t_idf, chunks, term_rows, block_size, k1, b, avgdl, bound_scale)
        for t_idf, term_rows in zip(idfs, np.split(rows, firsts[1:]))
    ]

    # ---- elementary ranges via boundary events ----
    pos_list, delta_list = [], []
    for c in cursors:
        pos_list.append(c.blk_start)
        delta_list.append(c.blk_ub)
        pos_list.append(c.blk_end + 1)
        delta_list.append(-c.blk_ub)
    pos = np.concatenate(pos_list)
    dlt = np.concatenate(delta_list)
    order = np.argsort(pos, kind="stable")
    pos, dlt = pos[order], dlt[order]
    bounds, first_idx = np.unique(pos, return_index=True)
    # cumulative UB after all events at each unique boundary
    cum = np.cumsum(dlt)
    seg_ub = cum[np.append(first_idx[1:] - 1, dlt.size - 1)]
    # ranges: [bounds[i], bounds[i+1]-1] with ub seg_ub[i]; last bound ends all
    r_lo = bounds[:-1]
    r_hi = bounds[1:] - 1
    r_ub = seg_ub[:-1]
    live = r_ub > 1e-18  # ranges covered by no block have ub ~ 0
    r_lo, r_hi, r_ub = r_lo[live], r_hi[live], r_ub[live]

    ub_order = np.argsort(-r_ub, kind="stable")

    top_ids = np.zeros(0, dtype=np.int64)
    top_scores = np.zeros(0, dtype=np.float64)
    theta = -np.inf

    i = 0
    n_ranges = ub_order.size
    while i < n_ranges:
        take = ub_order[i: i + BATCH_RANGES]
        take = take[r_ub[take] >= theta] if np.isfinite(theta) else take
        if take.size == 0:
            break
        lo_b, hi_b = r_lo[take], r_hi[take]
        sel = np.argsort(lo_b, kind="stable")
        lo_b, hi_b = lo_b[sel], hi_b[sel]

        ids_parts, contrib_parts = [], []
        for c in cursors:
            # blocks overlapping any selected range
            bi_cand = np.flatnonzero(
                (c.blk_start <= hi_b.max()) & (c.blk_end >= lo_b.min())
            )
            for bi in bi_cand:
                # quick reject: does block [s,e] overlap any selected range?
                s, e = c.blk_start[bi], c.blk_end[bi]
                j = np.searchsorted(lo_b, e, side="right") - 1
                if j < 0 or hi_b[j] < s:
                    # the range starting at or before e doesn't reach s; check
                    # whether any later range starts within [s, e]
                    j2 = np.searchsorted(lo_b, s, side="left")
                    if j2 >= lo_b.size or lo_b[j2] > e:
                        continue
                ids, contrib = c.decode(int(bi))
                # keep only postings whose doc lies in a selected range
                ridx = np.searchsorted(lo_b, ids, side="right") - 1
                ok = (ridx >= 0) & (ids <= hi_b[np.clip(ridx, 0, hi_b.size - 1)])
                if exclude is not None:
                    ok &= not_in_sorted(ids, exclude)
                if np.any(ok):
                    ids_parts.append(ids[ok])
                    contrib_parts.append(contrib[ok])
        if ids_parts:
            all_ids = np.concatenate(ids_parts)
            all_contrib = np.concatenate(contrib_parts)
            u, inv = np.unique(all_ids, return_inverse=True)
            scores = np.bincount(inv, weights=all_contrib)
            # merge into running top-k
            m_ids = np.concatenate([top_ids, u])
            m_scores = np.concatenate([top_scores, scores])
            sel2 = np.lexsort((m_ids, -m_scores))[:k]
            top_ids, top_scores = m_ids[sel2], m_scores[sel2]
            if top_ids.size >= k:
                theta = top_scores[-1]
        i += BATCH_RANGES
    return top_ids, top_scores


def make_group_scorer(
    n_docs: int,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
    prune: bool = True,
    dense_max: int | None = None,
    exclude_bc=None,
    bound_scale: float = 1.0,
):
    """applyInArrow((qid, shard) group) -> that shard's top-k rows as a
    ``pyarrow.Table`` of RESULT_SCHEMA. ``exclude_bc``: optional Spark
    broadcast of the sorted tombstone doc_id array (one copy per
    executor, not per task)."""
    import pyarrow as pa

    def fn(key, table):
        qid, shard = key[0].as_py(), int(key[1].as_py())
        ids, scores = score_group(
            ChunkRows.from_arrow(table), n_docs, k, k1, b, avgdl, block_size,
            prune, dense_max=dense_max,
            exclude=exclude_bc.value if exclude_bc is not None else None,
            bound_scale=bound_scale,
        )
        return pa.table({
            "qid": pa.array([qid] * ids.size, pa.string()),
            "shard": pa.array(np.full(ids.size, shard, np.int32)),
            "doc_id": pa.array(ids, pa.int64()),
            "score": pa.array(scores, pa.float64()),
        })

    return fn
