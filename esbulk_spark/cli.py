"""Command-line surface with esbulk flag parity (SURVEY.md §3.1).

Reference CLI: /root/reference/cmd/esbulk/main.go:37-62. Transport flags
(servers, auth, TLS) have no analog — the "server" is the index table
set on the filesystem/catalog. Everything pipeline-shaped maps 1:1:

  esbulk -index I -purge -id a.b,c -optype index -size N -w W file.ldj
  ->
  python -m esbulk_spark.cli index --index-dir I [--purge/--no-purge]
      --id-spec a.b,c --optype index --batch-size N -w W --input file.ldj

Plus query/search/merge subcommands the reference exercises through its
integration tests' `_search` calls (run_test.go:300-320).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("-w", "--workers", type=int, default=None,
                   help="parallelism (esbulk -w; local[N] cores)")
    p.add_argument("--batch-size", type=int, default=10000,
                   help="Arrow batch size (esbulk -size)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="esbulk-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_index = sub.add_parser("index", help="build the inverted index")
    p_index.add_argument("--input", default="-",
                         help="parquet dir (corpus table), .jsonl/.ldj file, "
                              "or '-' for NDJSON on stdin (the reference's "
                              "default input, cmd/esbulk/main.go:75-85)")
    p_index.add_argument("--index-dir", required=True, help="esbulk -index")
    p_index.add_argument("--purge", action=argparse.BooleanOptionalAction,
                         default=False, help="esbulk -purge (drop + recreate)")
    p_index.add_argument("--id-spec", default=None,
                         help="esbulk -id: NDJSON id field spec (a.b,c)")
    p_index.add_argument("--id-col", default=None,
                         help="existing unique long column to use as doc_id")
    p_index.add_argument("--text-col", default="content")
    p_index.add_argument("--sort-keys", default="repo,path,commit")
    p_index.add_argument("--skip-broken", action="store_true",
                         help="esbulk -skipbroken (NDJSON input only)")
    p_index.add_argument("--optype", choices=["index", "create", "update"],
                         default="index", help="esbulk -optype")
    p_index.add_argument("--append", action="store_true",
                         help="bulk-index into an EXISTING index without a "
                              "full rebuild: the batch builds as a delta "
                              "segment and fast-merges in (admin.append_docs);"
                              " --id-spec/--id-col gives _id semantics "
                              "(--optype index upserts, create skips "
                              "existing). Creates the index when absent.")
    p_index.add_argument("--no-merge", action="store_true",
                         help="with --append: ATTACH the delta as a "
                              "searchable segment instead of fast-merging "
                              "(ES refresh semantics — delta-sized batch "
                              "cost; fold later with `compact`)")
    p_index.add_argument("--n-buckets", type=int, default=32)
    p_index.add_argument("--n-shards", type=int, default=None)
    p_index.add_argument("--no-store-content", action="store_true",
                         help="sha-only docs table (content stays in the "
                              "source table; the 10^12-file mode)")
    p_index.add_argument("--store-positions", action="store_true",
                         help="also write the positions table (enables "
                              "search --mode phrase)")
    p_index.add_argument("--segmented", type=int, default=None,
                         help="build in N doc-range waves + fast merge "
                              "(the large-build plan; per-wave token "
                              "shuffle, index-sized merge)")
    p_index.add_argument("--content-source", default=None,
                         help="parquet table holding (key, text) for docs of "
                              "a --no-store-content index; required to "
                              "--optype re-index into one (existing content "
                              "is recovered by key and verified against the "
                              "stored content_sha)")
    p_index.add_argument("--profile-out", default=None,
                         help="write a per-stage timing/metrics profile "
                              "JSON after the build (the -cpuprofile "
                              "analog, run.go:115-122; sourced from the "
                              "build manifest — docs/stats/postings/"
                              "dictionary/positions seconds, skew ratio, "
                              "hot terms)")
    _add_common(p_index)

    p_search = sub.add_parser("search", help="BM25 top-k query")
    p_search.add_argument("--index-dir", required=True)
    p_search.add_argument("--query", required=True)
    p_search.add_argument("-k", type=int, default=10)
    p_search.add_argument("--mode", choices=["wand", "fullscan", "and", "phrase",
                                             "phrase_prefix", "prefix", "fuzzy",
                                             "wildcard", "regexp", "span_near",
                                             "span_first"],
                          default="wand",
                          help="phrase/phrase_prefix = positional queries "
                               "over the positions table (index must be "
                               "built with --store-positions); prefix/fuzzy/"
                               "wildcard/regexp = dictionary term expansion "
                               "scored as a BM25 disjunction")
    p_search.add_argument("--slop", type=int, default=0,
                          help="span_near window allowance "
                               "(width <= n_terms + slop)")
    p_search.add_argument("--in-order", action="store_true",
                          help="span_near: require the clause terms in "
                               "query order")
    p_search.add_argument("--span-end", type=int, default=1,
                          help="span_first: match occurrences ending at "
                               "or before this position")
    p_search.add_argument("--similarity",
                          choices=["bm25", "classic", "lmdirichlet", "boolean"],
                          default="bm25",
                          help="scoring formula (ES index-module "
                               "similarity; query-time here because the "
                               "index stores raw tf/dl). Non-bm25 choices "
                               "use the exact decode path (no WAND) and "
                               "apply to match queries only")
    p_search.add_argument("--fuzziness", default="AUTO",
                          help="fuzzy mode: edit budget (int) or AUTO "
                               "(ES ladder by term length)")
    p_search.add_argument("--max-expansions", type=int, default=50,
                          help="prefix/fuzzy/wildcard/phrase_prefix: cap on "
                               "expanded dictionary terms (ES max_expansions)")
    p_search.add_argument("--search-after", default=None,
                          help="keyset pagination cursor 'score,doc_id' — "
                               "start a paging session with 'inf,-1' (page "
                               "1), then feed each page's last hit back "
                               "verbatim; wand/fullscan modes only")
    p_search.add_argument("--format", choices=["jsonl", "es"], default="jsonl",
                          help="es = Elasticsearch-shaped response object "
                               "(took / hits.total / max_score / _source)")
    p_search.add_argument("--es-version", type=int, choices=[5, 6, 7, 8],
                          default=7,
                          help="with --format es: 7/8 = nested hits.total "
                               "{value, relation} (SearchResponse7), 5/6 = "
                               "flat integer total for pre-ES7 clients "
                               "(SearchResponse6, run_test.go:416-465); 5 "
                               "drops _shards.skipped, 8 drops hit _type")
    _add_common(p_search)

    p_merge = sub.add_parser(
        "merge",
        help="merge segment indexes: a metadata refresh (blobs verbatim, "
             "block maxes recomputed) in the segments' own layout, a "
             "re-encode when --n-buckets/--n-shards ask for another",
    )
    p_merge.add_argument("--segments", required=True, help="comma-separated index dirs")
    p_merge.add_argument("--index-dir", required=True)
    p_merge.add_argument("--n-buckets", type=int, default=None,
                         help="default: the segments' bucket count")
    p_merge.add_argument("--n-shards", type=int, default=None,
                         help="default: keep the segments' shards")
    _add_common(p_merge)

    p_alias = sub.add_parser("alias", help="manage index aliases")
    p_alias.add_argument("--registry", required=True, help="alias registry dir")
    g = p_alias.add_mutually_exclusive_group(required=True)
    g.add_argument("--put", metavar="ALIAS", help="add --index-dir to ALIAS")
    g.add_argument("--delete", metavar="ALIAS", help="remove ALIAS (or one index)")
    g.add_argument("--list", action="store_true", help="print the registry")
    p_alias.add_argument("--index-dir", default=None)

    p_snap = sub.add_parser("snapshot", help="snapshot a committed index")
    p_snap.add_argument("--index-dir", required=True)
    p_snap.add_argument("--snap-dir", required=True)

    p_restore = sub.add_parser("restore", help="restore an index snapshot")
    p_restore.add_argument("--snap-dir", required=True)
    p_restore.add_argument("--index-dir", required=True)
    p_restore.add_argument("--overwrite", action="store_true")

    p_cat = sub.add_parser("cat", help="_cat/indices metadata")
    p_cat.add_argument("--index-dirs", required=True, help="comma-separated")

    p_st = sub.add_parser("stats", help="<index>/_stats + _cat/segments")
    p_st.add_argument("--index-dir", required=True)
    p_st.add_argument("--segments", action="store_true",
                      help="per-segment rows instead of totals")

    p_sg = sub.add_parser(
        "suggest", help='phrase suggester ("did you mean") over an index'
    )
    p_sg.add_argument("--index-dir", required=True)
    p_sg.add_argument("--query", required=True)
    p_sg.add_argument("--size", type=int, default=3)
    p_sg.add_argument("--max-edits", type=int, default=2)
    p_sg.add_argument(
        "--build-lm", action="store_true",
        help="materialize <index>/lm first (then suggest from it)",
    )
    _add_common(p_sg)

    p_compact = sub.add_parser(
        "compact", help="fold attached segments into the main index"
    )
    p_compact.add_argument("--index-dir", required=True)
    _add_common(p_compact)

    p_re = sub.add_parser("reindex", help="rebuild an index from another's docs")
    p_re.add_argument("--src", required=True, help="source index dir")
    p_re.add_argument("--index-dir", required=True, help="destination index dir")
    p_re.add_argument("--query", default=None, help="keep only matching docs")
    p_re.add_argument("--max-docs", type=int, default=None)
    p_re.add_argument("--n-buckets", type=int, default=32)
    p_re.add_argument("--n-shards", type=int, default=None)
    _add_common(p_re)

    p_rs = sub.add_parser(
        "reshard", help="rewrite an index under a new shard count "
                        "(ES _split/_shrink; no re-tokenize)"
    )
    p_rs.add_argument("--src", required=True, help="source index dir")
    p_rs.add_argument("--index-dir", required=True, help="destination index dir")
    p_rs.add_argument("--n-shards", type=int, required=True)
    p_rs.add_argument("--n-buckets", type=int, default=None,
                      help="defaults to the source's bucket count")
    _add_common(p_rs)

    args = ap.parse_args(argv)

    # metadata-only commands: no Spark session needed
    if args.cmd in ("alias", "snapshot", "restore", "cat", "stats"):
        return _cmd_admin(args)

    from esbulk_spark.session import get_spark

    spark = get_spark(app_name=f"esbulk-{args.cmd}", cpus=args.workers)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(args.batch_size)
    )

    try:
        if args.cmd == "index":
            rc = _cmd_index(spark, args)
        elif args.cmd == "search":
            rc = _cmd_search(spark, args)
        elif args.cmd == "reindex":
            rc = _cmd_reindex(spark, args)
        elif args.cmd == "compact":
            rc = _cmd_compact(spark, args)
        elif args.cmd == "reshard":
            rc = _cmd_reshard(spark, args)
        elif args.cmd == "suggest":
            rc = _cmd_suggest(spark, args)
        else:
            rc = _cmd_merge(spark, args)
    finally:
        spark.stop()
    return rc


def _cmd_admin(args) -> int:
    from esbulk_spark.plans import admin

    if args.cmd == "alias":
        if args.list:
            print(json.dumps(admin.get_aliases(args.registry), indent=1))
        elif args.put:
            if not args.index_dir:
                print("alias --put needs --index-dir", file=sys.stderr)
                return 2
            admin.put_alias(args.registry, args.put, args.index_dir)
        else:
            admin.delete_alias(args.registry, args.delete, args.index_dir)
        return 0
    if args.cmd == "snapshot":
        meta = admin.snapshot_index(args.index_dir, args.snap_dir)
        print(json.dumps(meta))
        return 0
    if args.cmd == "restore":
        meta = admin.restore_index(args.snap_dir, args.index_dir, args.overwrite)
        print(json.dumps(meta))
        return 0
    if args.cmd == "stats":
        if args.segments:
            for row in admin.cat_segments(args.index_dir):
                print(json.dumps(row))
        else:
            print(json.dumps(admin.index_stats(args.index_dir)))
        return 0
    for row in admin.cat_indices(args.index_dirs.split(",")):
        print(json.dumps(row))
    return 0


def _cmd_suggest(spark, args) -> int:
    from esbulk_spark.plans.reader import IndexReader

    if args.build_lm:
        from esbulk_spark.plans.admin import build_suggest_lm

        build_suggest_lm(spark, args.index_dir)
    r = IndexReader(spark, args.index_dir)
    for row in r.suggest_phrase(
        args.query, max_edits=args.max_edits, size=args.size
    ):
        print(json.dumps(row))
    return 0


def _cmd_compact(spark, args) -> int:
    from esbulk_spark.plans import admin

    n = len(admin.attached_segments(args.index_dir))
    stats = admin.compact_attached(spark, args.index_dir)
    print(json.dumps({
        "compacted_segments": n,
        "n_docs": stats.get("n_docs"),
        "n_shards": stats.get("n_shards"),
    }))
    return 0


def _cmd_reindex(spark, args) -> int:
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans import admin

    cfg = IndexConfig(
        index_dir=args.index_dir,
        n_buckets=args.n_buckets,
        n_shards=args.n_shards,
        overwrite=True,
    )
    stats = admin.reindex(
        spark, args.src, cfg, query=args.query, max_docs=args.max_docs
    )
    print(json.dumps({"n_docs": stats.get("n_docs")}))
    return 0


def _cmd_reshard(spark, args) -> int:
    from esbulk_spark.plans import admin

    stats = admin.reshard_index(
        spark, args.src, args.index_dir,
        n_shards=args.n_shards, n_buckets=args.n_buckets,
    )
    print(json.dumps({
        "n_docs": stats.get("n_docs"), "n_shards": stats.get("n_shards"),
    }))
    return 0


def _spool_stdin() -> str:
    """esbulk reads NDJSON from stdin by default (cmd/esbulk/main.go:75-85).
    Spark reads files, so stdin is spooled to a temp file first — the
    same single-reader bottleneck the reference has (run.go:284-299);
    real deployments point --input at many files for a splittable scan."""
    fd, path = tempfile.mkstemp(suffix=".jsonl", prefix="esbulk_stdin_")
    with os.fdopen(fd, "w") as f:
        for line in sys.stdin:
            f.write(line)
    return path


def _load_input(spark, args, tmp_paths: list | None = None):
    """-> (docs_df, is_ndjson, quarantine_df|None). Temp artifacts (the
    stdin spool) are appended to tmp_paths for the caller's finally.

    NDJSON path parity: blank filter -> broken-JSON handling (skip or
    quarantine, run.go:304-311 / our stronger split) -> id extraction
    (-id a.b,c) -> missing-id quarantine (the reference FAILS such docs,
    indexing.go:223,229) -> _id scrub when the spec names it
    (indexing.go:245-256)."""
    from pyspark.sql import functions as F

    from esbulk_spark.sources import ndjson

    path = args.input
    if path == "-":
        path = _spool_stdin()
        if tmp_paths is not None:
            tmp_paths.append(path)
    is_ndjson = path.endswith((".jsonl", ".ldj", ".json", ".ndjson", ".gz")) or args.input == "-"
    if not is_ndjson:
        return spark.read.parquet(path), False, None

    lines = ndjson.drop_blank(ndjson.read_ndjson_lines(spark, path))
    quarantine = None
    if args.skip_broken:
        lines = ndjson.skip_broken(lines)
    else:
        lines, bad = ndjson.quarantine_broken(lines)
        quarantine = bad.select(
            F.col("value").alias("line"), F.lit("broken_json").alias("reason")
        )
    if args.id_spec:
        lines = ndjson.extract_id(lines, args.id_spec, out_col="_doc_key")
        missing = lines.filter(F.col("_doc_key").isNull()).select(
            F.col("value").alias("line"), F.lit("missing_id_field").alias("reason")
        )
        quarantine = missing if quarantine is None else quarantine.unionByName(missing)
        lines = lines.filter(F.col("_doc_key").isNotNull())
        if "_id" in ndjson.parse_id_spec(args.id_spec):
            lines = ndjson.scrub_id_field(lines)
    return lines.withColumnRenamed("value", args.text_col), True, quarantine


def _apply_optype(spark, args, docs, key_col: str):
    """Route -optype through the MERGE operators when indexing into an
    EXISTING index (reference semantics: indexing.go:305-307). Returns
    the merged (key, text) corpus to rebuild from."""
    from pyspark.sql import functions as F

    from esbulk_spark.operators import optype

    stored = spark.read.parquet(os.path.join(args.index_dir, "docs"))
    if args.text_col in stored.columns:
        existing = stored.select(key_col, args.text_col)
    else:
        # sha-only index (--no-store-content): recover existing content by
        # key from the caller-named source table and verify it against the
        # stored content_sha (the per-row invariant) before merging.
        src_path = getattr(args, "content_source", None)
        if not src_path:
            raise SystemExit(
                f"--optype re-index into {args.index_dir}: the index was "
                f"built with --no-store-content (docs table has no "
                f"'{args.text_col}' column), so existing content cannot be "
                "read from the index. Pass --content-source <parquet with "
                f"(key, {args.text_col})> to recover it, or rebuild from "
                "the full corpus with --purge."
            )
        src = spark.read.parquet(src_path).select(key_col, args.text_col)
        keys = stored.select(key_col, "content_sha")
        existing = keys.join(src, key_col).filter(
            F.sha2(F.col(args.text_col), 256) == F.col("content_sha")
        ).drop("content_sha")
        n_existing, n_recovered = keys.count(), existing.count()
        if n_recovered != n_existing:
            raise SystemExit(
                f"--content-source {src_path} recovered {n_recovered} of "
                f"{n_existing} existing docs (missing keys or content_sha "
                "mismatch); refusing to merge a partial corpus."
            )
    incoming = docs.select(key_col, args.text_col)
    if args.optype == "index":
        merged = optype.optype_index(
            existing.withColumn("__seq", F.lit(0)),
            incoming.withColumn("__seq", F.lit(1)),
            [key_col],
            "__seq",
        ).drop("__seq")
    elif args.optype == "create":
        merged = optype.optype_create(existing, incoming, [key_col])
    else:  # update: with only (key, text) columns this is upsert of text
        merged = optype.optype_update(existing, incoming, [key_col])
    return merged


def _cmd_index(spark, args) -> int:
    tmp_paths: list[str] = []
    try:
        return _cmd_index_inner(spark, args, tmp_paths)
    finally:
        # spool/staging files feed lazy DataFrames; safe to drop only
        # after the build has materialized (run or failed)
        import shutil

        for p in tmp_paths:
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else (
                os.path.exists(p) and os.remove(p)
            )


def _cmd_index_inner(spark, args, tmp_paths: list) -> int:
    import time

    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    docs, is_ndjson, quarantine = _load_input(spark, args, tmp_paths)
    key_col = "_doc_key" if (is_ndjson and args.id_spec) else args.id_col
    if is_ndjson:
        sort_keys = ("_doc_key",) if args.id_spec else (args.text_col,)
    else:
        sort_keys = tuple(args.sort_keys.split(","))

    overwrite = args.purge
    input_sig = args.input
    existing_docs = os.path.join(args.index_dir, "docs")
    if (
        getattr(args, "append", False)
        and not args.purge
        and os.path.exists(existing_docs)
    ):
        # incremental path: delta segment + fast merge, never a rebuild
        from esbulk_spark.plans import admin

        if args.optype == "update":
            raise SystemExit(
                "--append supports --optype index|create (Lucene "
                "delete+add); field-merge 'update' needs the optype "
                "re-index path (drop --append)."
            )
        t0 = time.monotonic()
        res = admin.append_docs(
            spark,
            args.index_dir,
            docs,
            key_col=key_col,
            op_type=args.optype,
            sort_keys=sort_keys,
            merge=not getattr(args, "no_merge", False),
        )
        n_quarantined = 0
        if quarantine is not None:
            qpath = os.path.join(args.index_dir, "quarantine")
            quarantine.write.mode("overwrite").parquet(qpath)
            n_quarantined = spark.read.parquet(qpath).count()
        dt = time.monotonic() - t0
        rate = res["appended"] / dt if dt else 0.0
        print(
            f"appended {res['appended']} docs (updated {res['updated']}, "
            f"skipped {res['skipped']}) in {dt:.1f}s at {rate:.1f} docs/s "
            f"({n_quarantined} quarantined)",
            file=sys.stderr,
        )
        print(json.dumps(dict(res, n_quarantined=n_quarantined)))
        return 0
    if (
        not args.purge
        and key_col
        and os.path.exists(existing_docs)
    ):
        # re-index into an existing index: merge by op-type, then rebuild.
        # The merged corpus must be MATERIALIZED before the old index dir
        # is purged (DataFrames are lazy; deleting their source first
        # would read nothing).
        merged = _apply_optype(spark, args, docs, key_col)
        staging = tempfile.mkdtemp(prefix="esbulk_optype_")
        tmp_paths.append(staging)
        merged.write.mode("overwrite").parquet(staging)
        docs = spark.read.parquet(staging)
        sort_keys = (key_col,)
        overwrite = True
        input_sig = f"{args.input}:optype={args.optype}:{time.time_ns()}"

    cfg = IndexConfig(
        index_dir=args.index_dir,
        id_col=args.id_col,
        sort_keys=sort_keys,
        text_col=args.text_col,
        n_buckets=args.n_buckets,
        n_shards=args.n_shards,
        overwrite=overwrite,
        store_content=not getattr(args, "no_store_content", False),
        store_positions=getattr(args, "store_positions", False),
        segmented=getattr(args, "segmented", None),
    )
    t0 = time.monotonic()
    stats = build_index(spark, docs, cfg, input_sig=input_sig)
    n_quarantined = 0
    if quarantine is not None:
        # the error side-channel (run.go:202-220): nothing silently lost;
        # written after the build so an overwrite purge can't delete it
        qpath = os.path.join(args.index_dir, "quarantine")
        quarantine.write.mode("overwrite").parquet(qpath)
        n_quarantined = spark.read.parquet(qpath).count()
    dt = time.monotonic() - t0
    # esbulk's throughput epilogue (run.go:358-365)
    rate = stats["n_docs"] / dt if dt else 0.0
    print(
        f"{stats['n_docs']} docs in {dt:.1f}s at {rate:.1f} docs/s "
        f"({stats['total_postings']} postings, {n_quarantined} quarantined)",
        file=sys.stderr,
    )
    stats = dict(stats, n_quarantined=n_quarantined)
    if getattr(args, "profile_out", None):
        _write_profile(args.index_dir, args.profile_out, dt)
    print(json.dumps(stats))
    return 0


def _write_profile(index_dir: str, out_path: str, wall_sec: float) -> None:
    """Per-stage timing profile from the build manifest — the engine-side
    analog of the reference's -cpuprofile flag (run.go:115-122): where
    the build spent its time, without attaching the Spark UI."""
    stages = []
    mp = os.path.join(index_dir, "manifest.jsonl")
    try:
        with open(mp) as f:
            for line in f:
                if not line.strip():
                    continue
                e = json.loads(line)
                if e.get("status") == "done" and "secs" in e:
                    stages.append(
                        {
                            k: v
                            for k, v in e.items()
                            if k in ("stage", "secs", "rows", "chunks",
                                     "skew_ratio", "postings_per_sec",
                                     "fused", "hot_terms")
                        }
                    )
    except OSError:
        pass
    with open(out_path, "w") as f:
        json.dump(
            {
                "wall_sec": round(wall_sec, 3),
                "staged_sec": round(sum(s.get("secs", 0) for s in stages), 3),
                "stages": stages,
            },
            f,
            indent=1,
        )


def _cmd_search(spark, args) -> int:
    from esbulk_spark.plans.admin import open_reader

    r = open_reader(spark, args.index_dir)
    search_after = getattr(args, "search_after", None)
    similarity = getattr(args, "similarity", "bm25")
    if similarity != "bm25" and (
        args.mode not in ("wand", "fullscan")
        or search_after is not None
        or getattr(args, "format", "jsonl") == "es"
    ):
        print(
            "error: --similarity applies to match queries "
            "(--mode wand|fullscan, jsonl format, no paging)",
            file=sys.stderr,
        )
        return 2
    if search_after is not None and args.mode not in ("wand", "fullscan"):
        print(
            f"error: --search-after only pages match queries "
            f"(--mode wand|fullscan), not {args.mode}",
            file=sys.stderr,
        )
        return 2
    if getattr(args, "format", "jsonl") == "es" and (
        args.mode not in ("wand", "fullscan") or search_after is not None
    ):
        what = (
            "--search-after paging"
            if search_after is not None
            else f"--mode {args.mode}"
        )
        print(
            f"error: --format es renders the match-query response; "
            f"{what} emits jsonl rows",
            file=sys.stderr,
        )
        return 2
    with r.interactive():  # AQE off: interactive latency path
        if getattr(args, "format", "jsonl") == "es":
            resp = r.search_response(
                args.query, k=args.k, prune=(args.mode == "wand"),
                es_version=getattr(args, "es_version", 7),
            )
            print(json.dumps(resp, default=str))
            print(f"{len(resp['hits']['hits'])} hits", file=sys.stderr)
            return 0
        if search_after is not None:
            # keyset paging: BOTH pages must come from the same scoring
            # path with the same published (rounded) sort key, or float
            # accumulation-order differences can drop/duplicate the
            # boundary doc — so page 1 of a paging session is
            # --search-after 'inf,-1', not a plain search
            s, _, d = search_after.partition(",")
            df = r.search_page(
                args.query, k=args.k,
                search_after=(float(s), int(d)), round_to=4,
            )
        elif args.mode == "and":
            df = r.search_and(args.query, k=args.k)
        elif args.mode == "phrase":
            df = r.search_phrase(args.query, k=args.k)
        elif args.mode == "phrase_prefix":
            df = r.search_phrase_prefix(
                args.query, k=args.k,
                max_expansions=getattr(args, "max_expansions", 50),
            )
        elif args.mode == "prefix":
            df = r.search_prefix(
                args.query, k=args.k,
                max_expansions=getattr(args, "max_expansions", 50),
            )
        elif args.mode == "fuzzy":
            fz = str(getattr(args, "fuzziness", "AUTO"))
            df = r.search_fuzzy(
                args.query, k=args.k,
                fuzziness=int(fz) if fz.isdigit() else fz,  # AUTO any case
                max_expansions=getattr(args, "max_expansions", 50),
            )
        elif args.mode == "wildcard":
            df = r.search_wildcard(
                args.query, k=args.k,
                max_expansions=getattr(args, "max_expansions", 50),
            )
        elif args.mode == "regexp":
            df = r.search_regexp(
                args.query, k=args.k,
                max_expansions=getattr(args, "max_expansions", 50),
            )
        elif args.mode == "span_near":
            df = r.search_span_near(
                args.query.split(), slop=getattr(args, "slop", 0),
                in_order=getattr(args, "in_order", False), k=args.k,
            )
        elif args.mode == "span_first":
            df = r.search_span_first(
                args.query, getattr(args, "span_end", 1), k=args.k,
            )
        elif similarity != "bm25":
            df = r.search_similarity(args.query, sim=similarity, k=args.k)
        else:
            df = r.search(args.query, k=args.k, prune=(args.mode == "wand"))
        rows = df.collect()
    for rank, row in enumerate(rows, 1):
        rec = {"rank": rank, "doc_id": row.doc_id, "score": row.score}
        if args.mode in ("phrase", "phrase_prefix"):
            rec["phrase_freq"] = row.phrase_freq
        elif args.mode in ("span_near", "span_first"):
            rec["span_freq"] = row.span_freq
        print(json.dumps(rec))
    print(f"{len(rows)} hits", file=sys.stderr)
    return 0


def _cmd_merge(spark, args) -> int:
    from esbulk_spark.operators.merge import merge_segments
    from esbulk_spark.plans import admin

    segments = args.segments.split(",")
    layout = {k: getattr(args, k) for k in ("n_buckets", "n_shards")}
    cfg = admin._layout_cfg(
        admin._stats(segments[0]), args.index_dir,
        **{k: v for k, v in layout.items() if v is not None},
    )
    stats = merge_segments(spark, segments, cfg)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
