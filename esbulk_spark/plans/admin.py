"""Index administration: aliases, snapshot/restore, reindex, _cat.

The ES operational surface around the data path (reference parity: the
reference's workflow leans on ES admin APIs — index create/delete
run.go:160-175, doc-count verification run_test.go:318-320; aliases,
snapshots and _reindex are the same cluster-metadata family). Spark-first
shapes:

  aliases    one JSON registry file, atomic tmp+rename updates; an alias
             can point at several indexes (ES alias fan-out) and search
             routes through the existing multi-index merge
  snapshot   a committed index is a set of immutable table dirs (the
             build's rename-commit guarantees no torn state), so a
             snapshot IS a directory copy of the committed tables +
             stats.json. At petabyte scale the same contract holds via
             Iceberg snapshot-id pinning / distcp of immutable files —
             the TableIO abstraction point (plans/tableio.py)
  reindex    ES _reindex = read source docs, optionally filtered by a
             query, build a destination index. Here: the source docs
             TABLE feeds build_index directly — no per-doc round-trips;
             the match filter is a semi-join against the source index's
             own scorer (pruned postings decode, never a rescan)
  _cat       stats.json + on-disk table sizes, driver-side metadata only
  deletes    ES _delete_by_query = Lucene soft deletes: matching doc_ids
             land in a tombstone table; every read path masks them
             (reader._live / the WAND kernels' exclude array); index
             statistics keep counting deleted docs until
             expunge_deletes() compacts — exactly ES semantics between
             merges. At 100 TB the tombstone table stays tiny relative
             to the corpus and rides an executor broadcast
  append     ES continuous bulk indexing into a LIVE index (the
             reference's whole job): the new batch builds as a delta
             segment with doc_ids past the main index's max, then
             either attaches (searchable at once through open_reader)
             or folds with main + attached segments through the same
             fold-and-swap compact_attached runs (blobs verbatim,
             metadata refreshed; index-sized cost, no token
             re-shuffle). key_col gives _id semantics: upsert tombstones
             the old version (Lucene update = delete+add), create drops
             already-present keys
  lifecycle  every op that rewrites an index in place (rebuild,
             compaction, merged append) builds into a sibling temp dir
             and commits with one rename (_swap_in); every op that
             writes an index from another one takes the source's layout
             from its stats.json (_layout_cfg)
  update     ES _update_by_query = transform matching docs' stored
             fields and reindex them. Tables are immutable, so the
             engine rebuilds from the transformed docs DataFrame into a
             fresh dir and atomically swaps it in (the delta-segment +
             tombstone + merge route is the incremental alternative at
             scale; the full rebuild is the simple, always-correct one)
"""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esbulk_spark.plans.build import STATS_FILE, build_index
from esbulk_spark.plans.tableio import for_index_dir

ALIASES_FILE = "aliases.json"
SNAPSHOT_FILE = "SNAPSHOT.json"

# committed index artifacts (everything else under an index dir is
# scratch: _work, manifest temp, spark staging); deletes = soft-delete
# tombstones, part of the queryable state
_TABLES = ("docs", "dictionary", "postings", "positions", "segments", "deletes")

__all__ = [
    "put_alias",
    "delete_alias",
    "get_aliases",
    "resolve_alias",
    "search_alias",
    "snapshot_index",
    "restore_index",
    "reindex",
    "cat_indices",
    "delete_by_query",
    "delete_by_ids",
    "update_by_query",
    "expunge_deletes",
    "append_docs",
]

# the stats.json keys an index keeps through every lifecycle op: what
# was indexed, and how postings are laid out and scored
_LAYOUT = (
    "text_col", "analyzer", "store_content", "store_positions",
    "n_buckets", "chunk_cap", "block_size", "k1", "b",
)


def _stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, STATS_FILE)) as f:
        return json.load(f)


def _layout_cfg(stats: dict, index_dir: str, **overrides):
    """The IndexConfig that writes ``index_dir`` in the layout ``stats``
    records, doc ids pinned; ``overrides`` set single fields (a key the
    stats lack keeps the IndexConfig default)."""
    from esbulk_spark.config import IndexConfig

    layout = {k: stats[k] for k in _LAYOUT if k in stats}
    return IndexConfig(index_dir=index_dir, id_col="doc_id", **dict(layout, **overrides))


# ------------------------------------------------------------- aliases


def _aliases_path(registry_dir: str) -> str:
    return os.path.join(registry_dir, ALIASES_FILE)


def get_aliases(registry_dir: str) -> dict[str, list[str]]:
    p = _aliases_path(registry_dir)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _write_aliases(registry_dir: str, aliases: dict[str, list[str]]) -> None:
    os.makedirs(registry_dir, exist_ok=True)
    p = _aliases_path(registry_dir)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(aliases, f, indent=1, sort_keys=True)
    os.replace(tmp, p)  # atomic on POSIX — readers never see a torn file


def put_alias(registry_dir: str, alias: str, index_dir: str) -> None:
    """Add ``index_dir`` to ``alias`` (ES POST /_aliases add action).
    Idempotent; an alias may span several indexes."""
    aliases = get_aliases(registry_dir)
    dirs = aliases.setdefault(alias, [])
    ab = os.path.abspath(index_dir)
    if ab not in dirs:
        dirs.append(ab)
    _write_aliases(registry_dir, aliases)


def delete_alias(registry_dir: str, alias: str, index_dir: str | None = None) -> None:
    """Remove one index from the alias, or the whole alias when
    ``index_dir`` is None (ES remove action)."""
    aliases = get_aliases(registry_dir)
    if alias not in aliases:
        return
    if index_dir is None:
        del aliases[alias]
    else:
        ab = os.path.abspath(index_dir)
        aliases[alias] = [d for d in aliases[alias] if d != ab]
        if not aliases[alias]:
            del aliases[alias]
    _write_aliases(registry_dir, aliases)


def resolve_alias(registry_dir: str, name: str) -> list[str]:
    """Alias -> index dirs; a literal index dir resolves to itself
    (ES lets every API take either)."""
    aliases = get_aliases(registry_dir)
    if name in aliases:
        return list(aliases[name])
    if os.path.exists(os.path.join(name, STATS_FILE)):
        return [os.path.abspath(name)]
    raise KeyError(f"unknown alias or index: {name!r}")


def search_alias(
    spark: SparkSession,
    registry_dir: str,
    name: str,
    query: str,
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """Search through an alias: single-index aliases hit the one reader
    directly; multi-index aliases route through the global top-k merge
    (search_indices), each index scoring with its own statistics —
    exactly ES's alias fan-out."""
    from esbulk_spark.plans.reader import search_indices

    dirs = resolve_alias(registry_dir, name)
    readers = {
        os.path.basename(d.rstrip("/")) or d: open_reader(spark, d)
        for d in dirs
    }
    if len(readers) == 1:
        (r,) = readers.values()
        return r.search(query, k=k, round_to=round_to)
    return search_indices(readers, query, k=k, round_to=round_to)


# ------------------------------------------------------- snapshot / restore


def snapshot_index(index_dir: str, snap_dir: str) -> dict:
    """Copy the COMMITTED index state into ``snap_dir``.

    Safe against concurrent rebuilds because every table commit is an
    atomic rename: each table dir either exists fully or not at all.
    Only the committed artifacts are copied (never _work/ scratch)."""
    stats_path = os.path.join(index_dir, STATS_FILE)
    if not os.path.exists(stats_path):
        raise FileNotFoundError(f"not a committed index: {index_dir}")
    os.makedirs(snap_dir, exist_ok=True)
    copied = []
    for t in _TABLES:
        src = os.path.join(index_dir, t)
        if os.path.isdir(src):
            dst = os.path.join(snap_dir, t)
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
            copied.append(t)
    shutil.copy2(stats_path, os.path.join(snap_dir, STATS_FILE))
    dm = os.path.join(index_dir, "deletes_meta.json")
    if os.path.exists(dm):
        shutil.copy2(dm, os.path.join(snap_dir, "deletes_meta.json"))
    # attached (not-yet-merged) segments are part of the committed state
    # — ES snapshots every live segment; dropping them would restore an
    # index missing the attached docs
    segs = attached_segments(index_dir)
    if segs:
        dst_root = os.path.join(snap_dir, ATTACHED_DIR)
        shutil.rmtree(dst_root, ignore_errors=True)
        shutil.copytree(os.path.join(index_dir, ATTACHED_DIR), dst_root)
    fp = _stats(index_dir).get("fingerprint", "")
    meta = {
        "source": os.path.abspath(index_dir),
        "fingerprint": fp,
        "tables": copied,
        "attached_segments": len(segs),
    }
    with open(os.path.join(snap_dir, SNAPSHOT_FILE), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


def restore_index(snap_dir: str, index_dir: str, overwrite: bool = False) -> dict:
    """Restore a snapshot into ``index_dir`` (ES _snapshot/_restore)."""
    meta_path = os.path.join(snap_dir, SNAPSHOT_FILE)
    if not os.path.exists(meta_path):
        raise FileNotFoundError(f"not a snapshot: {snap_dir}")
    if os.path.exists(os.path.join(index_dir, STATS_FILE)):
        if not overwrite:
            raise FileExistsError(
                f"index exists: {index_dir} (pass overwrite=True)"
            )
        shutil.rmtree(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    with open(meta_path) as f:
        meta = json.load(f)
    for t in meta["tables"]:
        shutil.copytree(os.path.join(snap_dir, t), os.path.join(index_dir, t))
    shutil.copy2(os.path.join(snap_dir, STATS_FILE), os.path.join(index_dir, STATS_FILE))
    dm = os.path.join(snap_dir, "deletes_meta.json")
    if os.path.exists(dm):
        shutil.copy2(dm, os.path.join(index_dir, "deletes_meta.json"))
    src_root = os.path.join(snap_dir, ATTACHED_DIR)
    if os.path.isdir(src_root):
        shutil.copytree(src_root, os.path.join(index_dir, ATTACHED_DIR))
    return meta


# ------------------------------------------------------------- reindex


def reindex(
    spark: SparkSession,
    src_index_dir: str,
    dst_cfg,
    query: str | None = None,
    max_docs: int | None = None,
) -> dict:
    """ES _reindex: rebuild ``dst_cfg.index_dir`` from the documents of
    an existing index, optionally keeping only docs matching ``query``
    (ES _reindex body "query") and capping at ``max_docs``.

    The doc set comes straight from the source docs TABLE; the query
    filter is a semi-join against the source index's own match set
    (pruned postings decode — the source index is the accelerator, the
    corpus is never re-scanned). Destination ids are pinned to the
    source doc_ids (dst_cfg.id_col forced to "doc_id"), so scores and
    ranks stay comparable across the copy."""
    r = open_reader(spark, src_index_dir)
    docs = r.docs()
    sig_extra = ""
    if query is not None:
        match = r.score_all(query).select("doc_id")
        docs = docs.join(match, "doc_id", "left_semi")
        sig_extra += f"|q={query}"
    if max_docs is not None:
        docs = docs.orderBy("doc_id").limit(int(max_docs))
        sig_extra += f"|n={max_docs}"
    dst_cfg.id_col = "doc_id"
    src_fp = r.stats.get("fingerprint", "")
    return build_index(
        spark, docs, dst_cfg, input_sig=f"reindex:{src_fp}{sig_extra}"
    )


def reshard_index(
    spark: SparkSession,
    src_index_dir: str,
    dst_index_dir: str,
    n_shards: int,
    n_buckets: int | None = None,
) -> dict:
    """ES ``_split`` / ``_shrink`` analog: rewrite an index under a new
    shard count (and optionally a new bucket count) WITHOUT touching
    content — shards here are doc-id ranges (the parallelism unit of
    both the build exchange and the per-(qid, shard) scorer), so
    resharding re-groups decoded (doc_id, term, tf, dl) rows under the
    new shard_size and re-encodes. That is exactly the single-segment
    merge path: index-sized data movement, no tokenize, no corpus scan
    — the reason ES's own _split forbids changing doc routing while we
    can re-range freely (ids are already global and dense).

    Scores are UNCHANGED (BM25 inputs — tf, dl, df, avgdl — are shard-
    independent); only the physical grouping moves. Tombstones carry
    over; attached segments are folded in by the merge expansion."""
    from esbulk_spark.operators.merge import merge_segments

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    src = _stats(src_index_dir)
    cfg = _layout_cfg(
        src, dst_index_dir, n_shards=int(n_shards),
        n_buckets=int(n_buckets or src["n_buckets"]),
    )
    out = merge_segments(spark, [src_index_dir], cfg)
    # deletes are doc_id-keyed (shard-independent): copy them over
    io = for_index_dir(src_index_dir)
    if io.exists("deletes"):
        _write_deletes(spark, dst_index_dir, io.read(spark, "deletes"))
    return out


# --------------------------------------------- delete / update by query


def _write_deletes(spark: SparkSession, index_dir: str, ids_df) -> int:
    """Union new tombstone ids into the deletes table, atomically
    (tmp + rename via the same TableIO commit every stage uses).
    Returns the total tombstone count after the write."""
    io = for_index_dir(index_dir)
    new = ids_df.select(F.col("doc_id").cast("long")).distinct()
    if io.exists("deletes"):
        existing = io.read(spark, "deletes").select("doc_id")
        # materialize BEFORE the rename clobbers the dir being read
        rows = new.unionByName(existing).distinct().collect()
        new = spark.createDataFrame(rows, "doc_id long")
    io.write(new.coalesce(1), "deletes")
    n = io.read(spark, "deletes").count()
    meta = {"n_deleted": int(n)}
    with open(os.path.join(index_dir, "deletes_meta.json"), "w") as f:
        json.dump(meta, f)
    return int(n)


def _refresh_paths(spark: SparkSession, index_dir: str) -> None:
    """Invalidate Spark's cached file listings for every table under a
    swapped index dir: the atomic rename replaces part files at the SAME
    paths, and a stale FileStatusCache would otherwise serve the old
    file list to the next reader (FAILED_READ_FILE.FILE_NOT_EXIST)."""
    for t in _TABLES:
        p = os.path.join(index_dir, t)
        if os.path.isdir(p):
            spark.catalog.refreshByPath(p)


def delete_by_query(spark: SparkSession, index_dir: str, query: str) -> dict:
    """ES POST /<index>/_delete_by_query: tombstone every LIVE doc
    matching >= 1 analyzed query term (ES match-query semantics, the
    same match set _count uses). Soft delete: the index tables are
    untouched; read paths mask the tombstones; statistics (df, avgdl,
    norms) keep counting deleted docs until expunge_deletes() — the
    Lucene deletes-between-merges contract."""
    r = open_reader(spark, index_dir)
    match = r.score_all(query).select("doc_id")
    n_matched = match.count()
    total = _write_deletes(spark, index_dir, match)
    r.refresh()
    return {"deleted": int(n_matched), "total_tombstones": total}


def delete_by_ids(spark: SparkSession, index_dir: str, doc_ids: list[int]) -> dict:
    """ES bulk `delete` op-type analog: tombstone explicit ids."""
    ids_df = spark.createDataFrame(
        [(int(i),) for i in doc_ids], "doc_id long"
    )
    total = _write_deletes(spark, index_dir, ids_df)
    return {"deleted": len(set(map(int, doc_ids))), "total_tombstones": total}


def _swap_in(spark, index_dir, write, carry_deletes=True, new_deletes=None) -> dict:
    """The one commit of every op that rewrites an index in place:
    ``write(tmp)`` writes the new table set into a sibling temp dir and
    returns its stats. With ``carry_deletes`` the tombstones ride across
    (doc_id-keyed, which a merge preserves); ``new_deletes`` (doc ids,
    read while the old tables still exist) are tombstoned on top. Then
    the temp dir renames over ``index_dir`` and the old tree, attached/
    with it, is dropped. Nothing under ``index_dir`` changes before that
    rename, and a failure removes the temp dir."""
    base = index_dir.rstrip("/")
    tmp, old = base + ".next", base + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        stats = write(tmp)
        dsrc = os.path.join(index_dir, "deletes")
        if carry_deletes and os.path.isdir(dsrc):
            shutil.copytree(dsrc, os.path.join(tmp, "deletes"))
            shutil.copy2(
                os.path.join(index_dir, "deletes_meta.json"),
                os.path.join(tmp, "deletes_meta.json"),
            )
        if new_deletes is not None:
            _write_deletes(spark, tmp, new_deletes)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(index_dir, old)
        os.rename(tmp, index_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old)
    _refresh_paths(spark, index_dir)
    return stats


def _rebuild_in_place(spark: SparkSession, index_dir: str, docs, sig: str) -> dict:
    """Rebuild the index from ``docs`` (doc_ids pinned) in its own
    layout and swap it over ``index_dir``. ``docs`` must be a lazy plan
    over the CURRENT dir — it is only executed while the old tables
    still exist. The rebuild drops the tombstones: ``docs`` holds the
    live docs only."""
    st = _stats(index_dir)
    return _swap_in(
        spark, index_dir,
        lambda tmp: build_index(
            spark, docs, _layout_cfg(st, tmp, n_shards=st.get("n_shards")),
            input_sig=sig,
        ),
        carry_deletes=False,
    )


def expunge_deletes(spark: SparkSession, index_dir: str) -> dict:
    """ES POST /<index>/_forcemerge?only_expunge_deletes analog: rebuild
    the index from its LIVE docs (reader.docs() already masks
    tombstones), dropping the deletes table and recomputing every
    statistic. After this, scores reflect the post-delete corpus."""
    r = open_reader(spark, index_dir)
    if r._deleted_arr() is None and not attached_segments(index_dir):
        return r.stats  # nothing to expunge, nothing to fold in
    fp = r.stats.get("fingerprint", "")
    arr = r._deleted_arr()
    n_del = 0 if arr is None else len(arr)
    return _rebuild_in_place(
        spark, index_dir, r.docs(), sig=f"expunge:{fp}:{n_del}"
    )


def update_by_query(
    spark: SparkSession,
    index_dir: str,
    set_exprs: dict[str, str],
    query: str | None = None,
) -> dict:
    """ES POST /<index>/_update_by_query: apply ``set_exprs`` (column ->
    SQL expression over the stored doc fields, the analog of the
    `script` body) to every LIVE doc matching ``query`` (None = all,
    like an absent query body), then reindex. Immutable tables make
    this a transformed rebuild + atomic swap; doc_ids are pinned so
    ranks stay comparable. Updating the text column reindexes its
    postings — exactly what ES's doc-version bump does internally."""
    from pyspark.sql import functions as F  # noqa: F811

    r = open_reader(spark, index_dir)
    docs = r.docs()
    if query is not None:
        match = r.score_all(query).select("doc_id").withColumn(
            "__upd", F.lit(True)
        )
        docs = docs.join(match, "doc_id", "left")
        cond = F.col("__upd").isNotNull()
    else:
        cond = F.lit(True)
    for col, expr in set_exprs.items():
        docs = docs.withColumn(
            col, F.when(cond, F.expr(expr)).otherwise(F.col(col))
        )
    if query is not None:
        docs = docs.drop("__upd")
    fp = r.stats.get("fingerprint", "")
    sig = f"ubq:{fp}|q={query}|{sorted(set_exprs.items())}"
    return _rebuild_in_place(spark, index_dir, docs, sig=sig)


ATTACHED_DIR = "attached"


def attached_segments(index_dir: str) -> list[str]:
    """Attached (not-yet-merged) delta segment dirs, in attach order."""
    root = os.path.join(index_dir, ATTACHED_DIR)
    if not os.path.isdir(root):
        return []
    segs = [d for d in os.listdir(root) if d.startswith("seg_")]
    return [
        os.path.join(root, d)
        for d in sorted(segs, key=lambda s: int(s.split("_")[1]))
    ]


def open_reader(spark: SparkSession, index_dir: str):
    """The one way to open an index for reading: a plain IndexReader
    when the index has no attached segments, a SegmentSetReader (global
    statistics over main + attached, plans/segments.py) when it does —
    ES's searcher-over-segments: appended docs are visible before any
    merge."""
    from esbulk_spark.plans.reader import IndexReader

    segs = attached_segments(index_dir)
    if not segs:
        return IndexReader(spark, index_dir)
    from esbulk_spark.plans.segments import SegmentSetReader

    return SegmentSetReader(spark, [index_dir] + segs)


def _fold(spark, index_dir: str, extra=(), victims=None) -> dict:
    """Fold main + attached segments + the ``extra`` segment dirs into
    one index (the metadata-refresh merge, in the index's own layout)
    and swap it in; ``victims``: doc ids the folded index tombstones."""
    from esbulk_spark.operators import merge

    st = _stats(index_dir)
    return _swap_in(
        spark, index_dir,
        lambda tmp: merge.merge_segments_fast(
            spark, [index_dir, *extra], _layout_cfg(st, tmp)
        ),
        new_deletes=victims,
    )


def compact_attached(spark: SparkSession, index_dir: str) -> dict:
    """Fold every attached segment into the main index (one
    metadata-refresh fast merge + atomic swap) — the background merge
    of the Lucene lifecycle, amortizing many delta-sized appends into
    one index-sized pass. Tombstones carry across unchanged."""
    if not attached_segments(index_dir):
        return _stats(index_dir)
    return _fold(spark, index_dir)


def append_docs(
    spark: SparkSession,
    index_dir: str,
    new_docs,
    key_col: str | None = None,
    op_type: str = "index",
    sort_keys: tuple[str, ...] | None = None,
    keep_ids: bool = False,
    merge: bool = True,
) -> dict:
    """ES continuous bulk indexing INTO an existing index — the
    reference's entire purpose (esbulk streams _bulk requests at a live
    index, run.go:200-321) — without a full rebuild.

    The Lucene segment lifecycle: ``new_docs`` becomes a DELTA segment
    (its own index dir, doc_ids offset past the main index's max), then
    main + attached segments + delta fold through compact_attached's
    fold-and-swap (operators/merge.merge_segments_fast: chunk blobs
    verbatim, only avgdl-dependent block-max metadata refreshed —
    index-sized data movement, no token re-shuffle/re-encode). Cost is
    proportional to the INDEX, not the corpus tokens; at 10^12 docs this
    is the only viable ingest path, and it is rank-identical to a full
    rebuild of the union (tests/test_merge.py pins fast-merge rank
    identity). The result equals an attach followed by
    compact_attached, and a fold that fails leaves the index as it was.

    ``key_col`` gives ES _id semantics for the batch (op-types,
    indexing.go:279-307):
      op_type="index"   upsert — live docs whose key matches an incoming
                        row are TOMBSTONED (Lucene update = delete+add;
                        the new version lives in the delta segment)
      op_type="create"  insert-only — incoming rows whose key already
                        exists live are dropped
    key_col=None is a plain append (every row is a new doc). Incoming
    batches must have unique keys; resolve in-batch collisions first
    with operators/optype (ES applies bulk actions sequentially — a
    DataFrame has no order, so the contract is explicit here).

    ``keep_ids=True`` trusts incoming.doc_id as the global id (checked
    disjoint from the index's ids with one keys-only semi-join) instead
    of assigning fresh ids past the current max.

    ``merge=False`` defers even the fast merge: the delta segment is
    ATTACHED under ``<index>/attached/seg_<n>`` and becomes searchable
    through ``open_reader`` (a SegmentSetReader with global statistics
    — ES refresh semantics: visible now, merged later). Per-batch cost
    is then DELTA-sized, the true Lucene ingest slope; call
    ``compact_attached`` (or any rebuild op) when the segment count
    grows. All other semantics (upsert tombstones, create skip, id
    assignment) are identical and account for already-attached
    segments.

    BM25 statistics (n_docs, avgdl, df) refresh to the post-append
    corpus — what an ES refresh does. Tombstones carry across the swap
    and keep masking reads until expunge_deletes() compacts. Shard count
    grows by the delta's shards per append (Lucene segment
    proliferation); expunge_deletes() is the forcemerge that re-packs.
    """
    from esbulk_spark.operators.docids import assign_doc_ids_with_count

    if op_type not in ("index", "create"):
        raise ValueError(
            f"op_type={op_type!r}: append supports 'index' (upsert) and "
            "'create' (insert-only); 'update' needs field merging — use "
            "update_by_query or the optype re-index path"
        )
    r = open_reader(spark, index_dir)  # sees attached segments too
    st = _stats(index_dir)  # layout params; identical across the set
    text_col = st.get("text_col", "content")
    incoming = new_docs
    n_updated = n_skipped = 0
    victims = None

    if key_col is not None:
        if key_col not in incoming.columns:
            raise ValueError(f"key_col {key_col!r} not in incoming columns")
        cnt, ndist = incoming.agg(
            F.count(key_col), F.count_distinct(key_col)
        ).first()
        if cnt != ndist:
            raise ValueError(
                f"incoming batch has {cnt - ndist} duplicate {key_col!r} "
                "keys; resolve in-batch collisions first "
                "(operators/optype.optype_index)"
            )
        live_keys = r.docs().select("doc_id", key_col)
        in_keys = incoming.select(key_col).distinct()
        if op_type == "create":
            incoming = incoming.join(
                live_keys.select(key_col), key_col, "left_anti"
            )
        else:  # index = upsert: tombstone the old versions
            victims = live_keys.join(in_keys, key_col, "left_semi").select(
                "doc_id"
            )
            n_updated = victims.count()
            if not n_updated:
                victims = None

    if keep_ids:
        # caller-supplied ids (incoming.doc_id): the merge contract only
        # needs the ID SETS disjoint — shard is an opaque scoring-group
        # key, so overlapping RANGES are fine. Verified with one
        # keys-only semi-join (id-sized, broadcastable).
        n_clash = (
            incoming.select(F.col("doc_id").cast("long").alias("doc_id"))
            .join(
                # UNMASKED union over main + attached: a tombstoned id
                # is still taken (its postings exist until expunge)
                r._table("docs").select("doc_id"),
                "doc_id",
                "left_semi",
            )
            .count()
        )
        if n_clash:
            raise ValueError(
                f"keep_ids: {n_clash} incoming doc_ids already exist in "
                "the index; ids must be globally unique"
            )
        docs = incoming
        n_new = incoming.count()
        base = 0
    else:
        # unmasked max over main + every attached segment (a tombstoned
        # max-id doc still owns its id until expunge re-packs)
        base_row = r._table("docs").agg(F.max("doc_id")).first()
        base = int(base_row[0] if base_row[0] is not None else -1) + 1
        keys = sort_keys or tuple(
            k for k in ("repo", "path", "commit") if k in incoming.columns
        ) or (key_col or text_col,)
        with_local, n_new = assign_doc_ids_with_count(
            incoming, keys, out_col="__local_id"
        )
        docs = with_local.withColumn(
            "doc_id", (F.col("__local_id") + F.lit(base)).cast("long")
        ).drop("__local_id")
    if key_col is not None and op_type == "create":
        n_skipped = int(cnt) - n_new
    if n_new == 0:
        return {
            "appended": 0, "updated": n_updated, "skipped": n_skipped,
            "n_docs": r.n_docs,
        }

    delta = index_dir.rstrip("/") + ".delta"
    shutil.rmtree(delta, ignore_errors=True)
    try:
        build_index(
            spark,
            docs,
            _layout_cfg(
                st, delta, n_shards=max(1, math.ceil(n_new / st["shard_size"]))
            ),
            input_sig=f"append:{st.get('fingerprint', '')}:{base}:{n_new}",
        )
        main_cols = set(for_index_dir(index_dir).read(spark, "docs").columns)
        delta_cols = set(for_index_dir(delta).read(spark, "docs").columns)
        if main_cols != delta_cols:
            raise ValueError(
                "incoming docs schema does not match the index's docs "
                f"table: only-main={sorted(main_cols - delta_cols)} "
                f"only-new={sorted(delta_cols - main_cols)}"
            )
        out = {
            "appended": int(n_new),
            "updated": int(n_updated),
            "skipped": int(n_skipped),
        }
        if merge:
            stats = _fold(spark, index_dir, extra=[delta], victims=victims)
            return dict(out, n_docs=int(stats["n_docs"]),
                        n_shards=int(stats["n_shards"]))
        # ATTACH, don't merge: the delta becomes a searchable segment
        # under the index (ES refresh semantics); cost so far was
        # delta-sized only. compact_attached() folds later.
        if victims is not None:
            _write_deletes(spark, index_dir, victims)
        segs = attached_segments(index_dir)
        nseg = int(segs[-1].rsplit("_", 1)[1]) + 1 if segs else 0
        root = os.path.join(index_dir, ATTACHED_DIR)
        os.makedirs(root, exist_ok=True)
        os.rename(delta, os.path.join(root, f"seg_{nseg}"))
        stats = open_reader(spark, index_dir).stats
        return dict(out, n_docs=int(stats["n_docs"]),
                    n_shards=int(stats["n_shards"]), attached_segments=nseg + 1)
    finally:
        shutil.rmtree(delta, ignore_errors=True)


# ---------------------------------------------------------------- _cat


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def cat_indices(index_dirs: list[str]) -> list[dict]:
    """ES GET /_cat/indices analog: one row of driver-side metadata per
    index (no Spark jobs) — health is "green" iff stats.json exists and
    every table dir listed by the build is committed."""
    out = []
    for d in sorted(index_dirs):
        if not os.path.exists(os.path.join(d, STATS_FILE)):
            out.append({"index": d, "health": "red"})
            continue
        st = _stats(d)
        row = {
            "index": d,
            "health": "green",
            "docs_count": st.get("n_docs"),
            "terms": st.get("total_postings"),
            "store_size_bytes": _du(d),
            "fingerprint": st.get("fingerprint", "")[:12],
        }
        dm = os.path.join(d, "deletes_meta.json")
        if os.path.exists(dm):
            with open(dm) as f:
                row["docs_deleted"] = json.load(f).get("n_deleted", 0)
        segs = attached_segments(d)
        if segs:
            row["attached_segments"] = len(segs)
            row["docs_count"] = sum(_stats(s)["n_docs"] for s in segs) + (
                row["docs_count"] or 0
            )
        out.append(row)
    return out


def cat_segments(index_dir: str) -> list[dict]:
    """ES GET /_cat/segments analog: one driver-side metadata row per
    physical segment of the index — the base segment plus every
    attached (unmerged) delta. No Spark jobs."""
    rows = []
    for name, d in [("_base", index_dir)] + [
        (os.path.basename(s), s) for s in attached_segments(index_dir)
    ]:
        if not os.path.exists(os.path.join(d, STATS_FILE)):
            rows.append({"segment": name, "committed": False})
            continue
        st = _stats(d)
        rows.append(
            {
                "segment": name,
                "committed": True,
                "docs_count": st.get("n_docs"),
                "terms": st.get("total_postings"),
                "n_shards": st.get("n_shards"),
                "store_size_bytes": _du(d),
                "store_positions": bool(st.get("store_positions")),
            }
        )
    return rows


def index_stats(index_dir: str) -> dict:
    """ES GET <index>/_stats analog: totals across the base segment and
    attached deltas (docs, postings, bytes, segment count), driver-side
    only."""
    segs = cat_segments(index_dir)
    live = [s for s in segs if s.get("committed")]
    return {
        "segments": len(segs),
        "docs_count": sum(s.get("docs_count") or 0 for s in live),
        "terms": sum(s.get("terms") or 0 for s in live),
        "store_size_bytes": sum(s.get("store_size_bytes") or 0 for s in live),
        "attached": len(segs) - 1,
    }


def build_suggest_lm(spark: SparkSession, index_dir: str) -> dict:
    """Materialize the phrase-suggester language model under
    <index>/lm from the index's stored content (the ES analogy:
    indexing the shingle field up front). IndexReader.suggest_phrase
    auto-detects it; rebuild after appends/compaction to refresh."""
    from esbulk_spark.operators.spell import build_lm
    from esbulk_spark.plans.reader import IndexReader

    r = IndexReader(spark, index_dir)
    return build_lm(r.docs(), r._text_col(), os.path.join(index_dir, "lm"))
