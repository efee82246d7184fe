"""CLI-path parity tests (SURVEY.md §3.1; reference run_test.go flow:
ingest fixture -> verify by querying the result).

These drive the cli helpers directly with the shared Spark session
(cli.main() owns a session lifecycle of its own, which would stop the
test fixture's session).
"""

import argparse
import gzip
import io
import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from esbulk_spark import cli as cli_mod
from esbulk_spark.plans.reader import IndexReader


def _args(**kw):
    base = dict(
        input="-", index_dir=None, purge=False, id_spec=None, id_col=None,
        text_col="content", sort_keys="repo,path,commit", skip_broken=False,
        optype="index", n_buckets=8, n_shards=2, workers=8, batch_size=10000,
    )
    base.update(kw)
    return argparse.Namespace(**base)


def _write_jsonl(path, docs):
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")


WAVE1 = [
    {"k": "a", "body": "merge sort one"},
    {"k": "b", "body": "scan filter two"},
    {"k": "c", "body": "join index three"},
]
WAVE2 = [
    {"k": "b", "body": "REPLACED content b"},
    {"k": "d", "body": "brand new doc d"},
]


def _doc_map(spark, index_dir):
    r = IndexReader(spark, index_dir)
    rows = r.docs().select("_doc_key", "content").collect()
    return {row["_doc_key"]: json.loads(row["content"])["body"] for row in rows}


@pytest.mark.parametrize(
    "optype,expect_b,expect_keys",
    [
        ("index", "REPLACED content b", {"a", "b", "c", "d"}),   # LWW
        ("create", "scan filter two", {"a", "b", "c", "d"}),     # insert-only
        ("update", "REPLACED content b", {"a", "b", "c", "d"}),  # upsert
    ],
)
def test_cli_optype_ingest_then_verify(spark, tmp_path, optype, expect_b, expect_keys):
    """Mirrors run_test.go's ingest-then-verify per optype
    (indexing.go:305-307 semantics on re-index into an existing index)."""
    w1 = str(tmp_path / "w1.jsonl")
    w2 = str(tmp_path / "w2.jsonl")
    _write_jsonl(w1, WAVE1)
    _write_jsonl(w2, WAVE2)
    idx = str(tmp_path / f"idx_{optype}")

    rc = cli_mod._cmd_index(spark, _args(input=w1, index_dir=idx, id_spec="k", purge=True))
    assert rc == 0
    assert set(_doc_map(spark, idx)) == {"a", "b", "c"}

    rc = cli_mod._cmd_index(
        spark, _args(input=w2, index_dir=idx, id_spec="k", optype=optype)
    )
    assert rc == 0
    got = _doc_map(spark, idx)
    assert set(got) == expect_keys
    assert got["b"] == expect_b
    assert got["a"] == "merge sort one"
    # post-ingest search verification (run_test.go:300-320 analog)
    r = IndexReader(spark, idx)
    assert r.doc_count() == len(expect_keys)


@pytest.mark.parametrize(
    "optype,expect_b",
    [
        ("index", "REPLACED content b"),   # upsert: old version tombstoned
        ("create", "scan filter two"),     # insert-only: existing key kept
    ],
)
def test_cli_append_incremental(spark, tmp_path, optype, expect_b):
    """--append = continuous bulk indexing into a live index (the
    reference's whole job) WITHOUT a rebuild: the second wave becomes a
    delta segment fast-merged in; optype gives ES _id semantics."""
    w1 = str(tmp_path / "w1.jsonl")
    w2 = str(tmp_path / "w2.jsonl")
    _write_jsonl(w1, WAVE1)
    _write_jsonl(w2, WAVE2)
    idx = str(tmp_path / f"idx_app_{optype}")

    rc = cli_mod._cmd_index(
        spark, _args(input=w1, index_dir=idx, id_spec="k", purge=True)
    )
    assert rc == 0
    fp1 = json.load(open(os.path.join(idx, "stats.json")))["fingerprint"]

    rc = cli_mod._cmd_index(
        spark,
        _args(input=w2, index_dir=idx, id_spec="k", optype=optype, append=True),
    )
    assert rc == 0
    got = _doc_map(spark, idx)
    assert set(got) == {"a", "b", "c", "d"}
    assert got["b"] == expect_b and got["a"] == "merge sort one"
    r = IndexReader(spark, idx)
    assert r.doc_count() == 4
    # the merge stamped a new fingerprint (it's an append, not a no-op)
    assert r.stats["fingerprint"] != fp1
    # and the appended term is searchable
    assert r.count("brand") == 1


def test_cli_append_no_merge_then_compact(spark, tmp_path):
    """--append --no-merge attaches the delta as a searchable segment
    (ES refresh semantics); `search` routes through open_reader and sees
    it; `compact` folds the set and ranks are preserved."""
    from esbulk_spark.plans.admin import attached_segments, open_reader

    w1 = str(tmp_path / "w1.jsonl")
    w2 = str(tmp_path / "w2.jsonl")
    _write_jsonl(w1, WAVE1)
    _write_jsonl(w2, WAVE2)
    idx = str(tmp_path / "idx_attach")

    rc = cli_mod._cmd_index(
        spark, _args(input=w1, index_dir=idx, id_spec="k", purge=True)
    )
    assert rc == 0
    rc = cli_mod._cmd_index(
        spark,
        _args(input=w2, index_dir=idx, id_spec="k", append=True, no_merge=True),
    )
    assert rc == 0
    assert len(attached_segments(idx)) == 1
    r = open_reader(spark, idx)
    # attached docs searchable now; upsert tombstoned the old 'b'
    assert r.count("brand") == 1
    assert r.count("scan") == 0  # old b was "scan filter two", replaced
    assert r.docs().count() == 4
    before = [
        (x.doc_id, round(x.score, 6))
        for x in r.search("merge sort", k=5).collect()
    ]
    rc = cli_mod._cmd_compact(
        spark, argparse.Namespace(index_dir=idx, workers=8, batch_size=10000)
    )
    assert rc == 0
    assert attached_segments(idx) == []
    rm = open_reader(spark, idx)
    after = [
        (x.doc_id, round(x.score, 6))
        for x in rm.search("merge sort", k=5).collect()
    ]
    assert after == before
    assert rm.count("brand") == 1 and rm.docs().count() == 4


def test_cli_quarantine_broken_and_missing_id(spark, tmp_path):
    """A15 error side-channel: broken JSON and missing-id docs land in the
    quarantine table with reasons; the reference fails such docs
    (indexing.go:223,229) / drops batches (indexing.go:384-388) — we keep
    them inspectable."""
    p = str(tmp_path / "mixed.jsonl")
    with open(p, "w") as f:
        f.write('{"k": "ok1", "body": "fine"}\n')
        f.write("{broken json line\n")
        f.write('{"nokey": true, "body": "no id field"}\n')
        f.write("\n")  # blank: silently dropped (A3), not quarantined
        f.write('{"k": "ok2", "body": "fine too"}\n')
    idx = str(tmp_path / "idx_q")
    rc = cli_mod._cmd_index(spark, _args(input=p, index_dir=idx, id_spec="k", purge=True))
    assert rc == 0
    q = spark.read.parquet(os.path.join(idx, "quarantine")).collect()
    reasons = sorted(r["reason"] for r in q)
    assert reasons == ["broken_json", "missing_id_field"]
    assert IndexReader(spark, idx).doc_count() == 2


def test_cli_gzip_input_equals_plain(spark, tmp_path):
    """A2: .jsonl.gz ingest must equal plain ingest (reference -z,
    run.go:274-280; Spark reads .gz transparently)."""
    plain = str(tmp_path / "docs.jsonl")
    gz = str(tmp_path / "docs.jsonl.gz")
    _write_jsonl(plain, WAVE1)
    with gzip.open(gz, "wt") as f:
        for d in WAVE1:
            f.write(json.dumps(d) + "\n")
    a, is_nd_a, _ = cli_mod._load_input(spark, _args(input=plain, id_spec="k"))
    b, is_nd_b, _ = cli_mod._load_input(spark, _args(input=gz, id_spec="k"))
    assert is_nd_a and is_nd_b
    ra = sorted((r["_doc_key"], r["content"]) for r in a.collect())
    rb = sorted((r["_doc_key"], r["content"]) for r in b.collect())
    assert ra == rb and len(ra) == 3


def test_cli_stdin_spool(monkeypatch):
    """A1 stdin default (cmd/esbulk/main.go:75-85): '-' spools stdin."""
    lines = "".join(json.dumps(d) + "\n" for d in WAVE1)
    monkeypatch.setattr("sys.stdin", io.StringIO(lines))
    path = cli_mod._spool_stdin()
    try:
        assert open(path).read() == lines
    finally:
        os.unlink(path)


def test_cli_scrub_id_in_ingest(spark, tmp_path):
    """-id _id pulls the id AND deletes the field from the stored doc
    (indexing.go:245-256), preserving other field types."""
    p = str(tmp_path / "withid.jsonl")
    with open(p, "w") as f:
        f.write('{"_id": "x1", "n": 7, "body": "seven"}\n')
    docs, _, _ = cli_mod._load_input(spark, _args(input=p, id_spec="_id"))
    row = docs.collect()[0]
    assert row["_doc_key"] == "x1"
    body = json.loads(row["content"])
    assert body == {"n": 7, "body": "seven"}


def test_pipeline_hook_changes_index(spark, corpus, tmp_path):
    """B13 esbulk -p ingest pipeline (indexing.go:270-272): a DataFrame
    transform applied before tokenization must be reflected in the index."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    d = str(tmp_path / "idx_pipe")
    cfg = IndexConfig(
        index_dir=d,
        n_buckets=8,
        n_shards=2,
        pipeline=lambda df: df.filter(F.col("lang") == "python"),
    )
    build_index(spark, corpus, cfg, input_sig="pipe150")
    expected = corpus.filter(F.col("lang") == "python").count()
    assert IndexReader(spark, d).doc_count() == expected
    assert expected < corpus.count()


def test_cli_optype_into_sha_only_index_fails_fast(spark, tmp_path):
    """--optype re-index into a --no-store-content index cannot read
    existing content from the index; without --content-source it must
    fail with an actionable message, not an AnalysisException."""
    w1 = str(tmp_path / "w1.jsonl")
    w2 = str(tmp_path / "w2.jsonl")
    _write_jsonl(w1, WAVE1)
    _write_jsonl(w2, WAVE2)
    idx = str(tmp_path / "idx_shaonly")
    rc = cli_mod._cmd_index(
        spark,
        _args(input=w1, index_dir=idx, id_spec="k", purge=True,
              no_store_content=True),
    )
    assert rc == 0
    with pytest.raises(SystemExit, match="content-source"):
        cli_mod._cmd_index(
            spark, _args(input=w2, index_dir=idx, id_spec="k", optype="index")
        )


def test_cli_optype_into_sha_only_index_with_content_source(spark, tmp_path):
    """With --content-source naming a (key, text) parquet, existing
    content is recovered by key, sha-verified, and the optype merge
    proceeds (reference semantics: indexing.go:305-307)."""
    import json as _json

    w1 = str(tmp_path / "w1.jsonl")
    w2 = str(tmp_path / "w2.jsonl")
    _write_jsonl(w1, WAVE1)
    _write_jsonl(w2, WAVE2)
    idx = str(tmp_path / "idx_shaonly2")
    rc = cli_mod._cmd_index(
        spark,
        _args(input=w1, index_dir=idx, id_spec="k", purge=True,
              no_store_content=True),
    )
    assert rc == 0
    # source table: the original NDJSON lines keyed like the ingest
    src = str(tmp_path / "src_parquet")
    spark.createDataFrame(
        [(d["k"], _json.dumps(d)) for d in WAVE1], "_doc_key string, content string"
    ).write.parquet(src)
    rc = cli_mod._cmd_index(
        spark,
        _args(input=w2, index_dir=idx, id_spec="k", optype="create",
              content_source=src, no_store_content=True),
    )
    assert rc == 0
    r = IndexReader(spark, idx)
    keys = {row["_doc_key"] for row in r.docs().select("_doc_key").collect()}
    assert keys == {"a", "b", "c", "d"}
    # sha-only mode persisted: still no content column
    assert "content" not in r.docs().columns
    # mismatched source content must refuse the merge
    bad = str(tmp_path / "src_bad")
    spark.createDataFrame(
        [(d["k"], "tampered") for d in WAVE1], "_doc_key string, content string"
    ).write.parquet(bad)
    with pytest.raises(SystemExit, match="refusing to merge"):
        cli_mod._cmd_index(
            spark,
            _args(input=w1, index_dir=str(tmp_path / "idx_shaonly3"),
                  id_spec="k", purge=True, no_store_content=True),
        ) or cli_mod._cmd_index(
            spark,
            _args(input=w2, index_dir=idx, id_spec="k", optype="create",
                  content_source=bad, no_store_content=True),
        )


def test_cli_cleans_temp_artifacts(spark, tmp_path):
    """The optype staging dir and stdin spool are removed after the
    build (VERDICT r2 wrong-item 3)."""
    import glob

    before = set(glob.glob(tempfile.gettempdir() + "/esbulk_optype_*")) | set(
        glob.glob(tempfile.gettempdir() + "/esbulk_stdin_*")
    )
    w1 = str(tmp_path / "c_w1.jsonl")
    w2 = str(tmp_path / "c_w2.jsonl")
    _write_jsonl(w1, WAVE1)
    _write_jsonl(w2, WAVE2)
    idx = str(tmp_path / "idx_clean")
    cli_mod._cmd_index(spark, _args(input=w1, index_dir=idx, id_spec="k", purge=True))
    cli_mod._cmd_index(spark, _args(input=w2, index_dir=idx, id_spec="k", optype="index"))
    after = set(glob.glob(tempfile.gettempdir() + "/esbulk_optype_*")) | set(
        glob.glob(tempfile.gettempdir() + "/esbulk_stdin_*")
    )
    assert after - before == set()


def test_cli_phrase_mode(spark, tmp_path, capsys):
    """--store-positions at index time + search --mode phrase."""
    docs = [
        {"k": "a", "body": "alpha beta gamma"},
        {"k": "b", "body": "beta alpha gamma"},
        {"k": "c", "body": "alpha beta again alpha beta"},
    ]
    p = str(tmp_path / "ph.jsonl")
    _write_jsonl(p, docs)
    idx = str(tmp_path / "idx_ph")
    rc = cli_mod._cmd_index(
        spark,
        _args(input=p, index_dir=idx, id_spec="k", purge=True,
              store_positions=True),
    )
    assert rc == 0
    args = argparse.Namespace(index_dir=idx, query="alpha beta", k=10,
                              mode="phrase", format="jsonl")
    rc = cli_mod._cmd_search(spark, args)
    assert rc == 0
    out = [
        json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
        if '"rank"' in l  # skip the index command's stats epilogue
    ]
    # docs a and c match ("beta alpha" does not); c has freq 2
    freqs = {o["doc_id"]: o["phrase_freq"] for o in out}
    assert len(freqs) == 2 and 2 in freqs.values()


def test_cli_profile_out_and_es6(spark, tmp_path):
    """--profile-out (the -cpuprofile analog) dumps per-stage timings
    from the manifest; --format es --es-version 6 emits the flat total."""
    import json as _json
    import subprocess
    import sys

    from esbulk_spark.corpus import synth_corpus

    src = str(tmp_path / "corpus.parquet")
    synth_corpus(spark, 120, seed=5).write.mode("overwrite").parquet(src)
    idx = str(tmp_path / "idx")
    prof = str(tmp_path / "profile.json")
    env = dict(__import__("os").environ, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "-m", "esbulk_spark.cli", "index", "--input", src,
         "--index-dir", idx, "--purge", "--profile-out", prof],
        capture_output=True, text=True, env=env, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    p = _json.load(open(prof))
    stage_names = {s["stage"] for s in p["stages"]}
    assert {"docs", "postings", "dictionary"} <= stage_names
    assert p["staged_sec"] > 0 and p["wall_sec"] >= p["staged_sec"] * 0.5
    out6 = subprocess.run(
        [sys.executable, "-m", "esbulk_spark.cli", "search", "--index-dir",
         idx, "--query", "getUserName", "--format", "es", "--es-version", "6"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert out6.returncode == 0, out6.stderr[-2000:]
    resp = _json.loads(out6.stdout.strip().splitlines()[-1])
    assert isinstance(resp["hits"]["total"], int)


def test_cli_expansion_modes_and_paging(spark, tmp_path, capsys):
    """search --mode prefix/fuzzy/wildcard and --search-after paging."""
    docs = [
        {"k": "a", "body": "alpha beta gamma"},
        {"k": "b", "body": "alphabet soup"},
        {"k": "c", "body": "gamma delta"},
    ]
    p = str(tmp_path / "xm.jsonl")
    _write_jsonl(p, docs)
    idx = str(tmp_path / "idx_xm")
    rc = cli_mod._cmd_index(
        spark, _args(input=p, index_dir=idx, id_spec="k", purge=True)
    )
    assert rc == 0
    capsys.readouterr()

    def run(**kw):
        kw.setdefault("k", 10)
        args = argparse.Namespace(index_dir=idx, format="jsonl", **kw)
        assert cli_mod._cmd_search(spark, args) == 0
        return [
            json.loads(l)
            for l in capsys.readouterr().out.strip().splitlines()
            if '"rank"' in l
        ]

    assert len(run(query="alpha", mode="prefix")) == 2  # alpha + alphabet
    assert len(run(query="alpa", mode="fuzzy", fuzziness="1")) >= 1
    assert len(run(query="ga?ma", mode="wildcard")) == 2
    # paging sessions start at 'inf,-1' so BOTH pages come from the
    # same scoring path with the same published (rounded) sort key
    full = run(query="gamma", mode="wand", k=10, search_after="inf,-1")
    p1 = run(query="gamma", mode="wand", k=1, search_after="inf,-1")
    p2 = run(
        query="gamma", mode="wand", k=1,
        search_after=f"{p1[0]['score']},{p1[0]['doc_id']}",
    )
    assert [x["doc_id"] for x in p1 + p2] == [x["doc_id"] for x in full]
    # --search-after composes only with match modes: clear error, rc 2
    args = argparse.Namespace(index_dir=idx, k=10, format="jsonl",
                              query="alpha", mode="prefix",
                              search_after="inf,-1")
    assert cli_mod._cmd_search(spark, args) == 2
    assert "only pages match queries" in capsys.readouterr().err


def test_cli_es_format_rejects_expansion_modes(spark, tmp_path, capsys):
    """--format es composes only with match modes: clear error, rc 2."""
    docs = [{"k": "a", "body": "alpha beta"}]
    p = str(tmp_path / "esm.jsonl")
    _write_jsonl(p, docs)
    idx = str(tmp_path / "idx_esm")
    assert cli_mod._cmd_index(
        spark, _args(input=p, index_dir=idx, id_spec="k", purge=True)
    ) == 0
    capsys.readouterr()
    args = argparse.Namespace(index_dir=idx, k=10, format="es",
                              query="alp", mode="prefix")
    assert cli_mod._cmd_search(spark, args) == 2
    assert "emits jsonl rows" in capsys.readouterr().err


def test_cli_similarity_flag(spark, tmp_path, capsys):
    """search --similarity routes match queries through the pluggable
    formula; non-match modes reject it with a clear error."""
    docs = [
        {"k": "a", "body": "alpha beta gamma"},
        {"k": "b", "body": "alphabet soup"},
        {"k": "c", "body": "gamma delta"},
    ]
    p = str(tmp_path / "sim.jsonl")
    _write_jsonl(p, docs)
    idx = str(tmp_path / "idx_sim")
    assert cli_mod._cmd_index(
        spark, _args(input=p, index_dir=idx, id_spec="k", purge=True)
    ) == 0
    capsys.readouterr()
    args = argparse.Namespace(index_dir=idx, k=10, format="jsonl",
                              query="alpha gamma", mode="wand",
                              similarity="boolean")
    assert cli_mod._cmd_search(spark, args) == 0
    rows = [
        json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
        if '"rank"' in l
    ]
    # boolean similarity = matched-term count: the doc with both terms
    # scores 2.0, the gamma-only doc 1.0 ("alphabet" is not "alpha")
    assert [r["score"] for r in rows] == [2.0, 1.0]
    args = argparse.Namespace(index_dir=idx, k=10, format="jsonl",
                              query="alp", mode="prefix",
                              similarity="classic")
    assert cli_mod._cmd_search(spark, args) == 2
    assert "--similarity applies to match queries" in capsys.readouterr().err


def test_cli_span_modes(spark, tmp_path, capsys):
    """search --mode span_near/span_first with --slop/--in-order/--span-end."""
    docs = [
        {"k": "a", "body": "alpha beta gamma delta"},
        {"k": "b", "body": "alpha xx beta yy gamma"},
        {"k": "c", "body": "gamma beta alpha"},
    ]
    p = str(tmp_path / "span.jsonl")
    _write_jsonl(p, docs)
    idx = str(tmp_path / "idx_spancli")
    assert cli_mod._cmd_index(
        spark, _args(input=p, index_dir=idx, id_spec="k", purge=True,
                     store_positions=True)
    ) == 0
    capsys.readouterr()

    def run(**kw):
        kw.setdefault("k", 10)
        kw.setdefault("similarity", "bm25")
        args = argparse.Namespace(index_dir=idx, format="jsonl", **kw)
        assert cli_mod._cmd_search(spark, args) == 0
        return [
            json.loads(l)
            for l in capsys.readouterr().out.strip().splitlines()
            if '"rank"' in l
        ]

    rows = run(query="alpha beta", mode="span_near", slop=0, in_order=True)
    assert len(rows) == 1 and rows[0]["span_freq"] == 1
    rows = run(query="alpha beta", mode="span_near", slop=0, in_order=False)
    assert len(rows) == 2
    # content is the raw JSON line, so the analyzed stream opens with the
    # JSON keys ("k", "body", ...) — "alpha" sits a few positions in
    rows = run(query="alpha", mode="span_first", span_end=1)
    assert rows == []
    rows = run(query="alpha", mode="span_first", span_end=10)
    assert len(rows) == 3


def test_cli_suggest_and_stats(spark, tmp_path, capsys):
    """`suggest` corrects a typo'd corpus phrase (with and without the
    materialized LM); `stats` is Spark-free metadata."""
    w = str(tmp_path / "s.parquet")
    spark.createDataFrame(
        [(i, "merge sort stable fast") for i in range(8)],
        "k long, content string",
    ).write.parquet(w)
    idx = str(tmp_path / "idx_sg")
    rc = cli_mod._cmd_index(
        spark,
        _args(input=w, index_dir=idx, id_col="k", sort_keys="k", purge=True),
    )
    assert rc == 0
    capsys.readouterr()  # drain the ingest summary lines

    rc = cli_mod._cmd_suggest(
        spark,
        _args(index_dir=idx, query="merge sart", size=3, max_edits=2,
              build_lm=False),
    )
    assert rc == 0
    out = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert out[0]["text"] == "merge sort"

    # with the materialized LM: identical top suggestion
    rc = cli_mod._cmd_suggest(
        spark,
        _args(index_dir=idx, query="merge sart", size=3, max_edits=2,
              build_lm=True),
    )
    assert rc == 0
    out2 = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert out2[0]["text"] == "merge sort"
    import os
    assert os.path.exists(os.path.join(idx, "lm", "lm_meta.json"))

    # stats command routes through _cmd_admin without a Spark session
    rc = cli_mod._cmd_admin(
        argparse.Namespace(cmd="stats", index_dir=idx, segments=False)
    )
    assert rc == 0
    st = json.loads(capsys.readouterr().out.strip())
    assert st["docs_count"] == 8 and st["segments"] == 1

    rc = cli_mod._cmd_admin(
        argparse.Namespace(cmd="stats", index_dir=idx, segments=True)
    )
    assert rc == 0
    segs = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert segs[0]["segment"] == "_base" and segs[0]["docs_count"] == 8


def test_cli_merge_keeps_layout_unless_asked(spark, corpus, tmp_path, capsys):
    """`merge` keeps the segments' layout by default (metadata refresh)
    and re-encodes for --n-shards or another --n-buckets; every result
    is rank-identical to the full scan. --fast is gone."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.operators.docids import assign_doc_ids_with_count
    from esbulk_spark.plans.build import build_index
    from esbulk_spark.plans.score import bm25_fullscan

    base = str(tmp_path)
    docs, n = assign_doc_ids_with_count(corpus, ("repo", "path", "commit"), out_col="doc_id")
    segs = []
    for name, pred in [("s1", F.col("doc_id") < n // 2), ("s2", F.col("doc_id") >= n // 2)]:
        cfg = IndexConfig(index_dir=f"{base}/{name}", id_col="doc_id", n_buckets=8,
                          n_shards=2, chunk_cap=256)
        build_index(spark, docs.filter(pred), cfg, input_sig=name)
        segs.append(cfg.index_dir)

    for name, n_buckets, n_shards, mode in (
        ("same", None, None, "metadata_refresh"),
        ("shards", None, 2, None),
        ("buckets", 4, None, None),
    ):
        out = f"{base}/{name}"
        rc = cli_mod._cmd_merge(spark, argparse.Namespace(
            segments=",".join(segs), index_dir=out,
            n_buckets=n_buckets, n_shards=n_shards,
        ))
        assert rc == 0
        stats = json.loads(capsys.readouterr().out)
        assert stats["n_buckets"] == (n_buckets or 8) and stats["chunk_cap"] == 256
        with open(os.path.join(out, "manifest.jsonl")) as f:
            post = [e for e in map(json.loads, f) if e["stage"] == "postings"][-1]
        assert post.get("mode") == mode, name
        r = IndexReader(spark, out)
        for q in ("getUserName", "flushBuffer retry score"):
            oracle = [(x.doc_id, round(x.score, 6)) for x in
                      bm25_fullscan(r.docs(), q, text_col="content", k=10).collect()]
            assert [(x.doc_id, round(x.score, 6))
                    for x in r.search(q, k=10).collect()] == oracle, (name, q)

    with pytest.raises(SystemExit):
        cli_mod.main(["merge", "--segments", segs[0], "--index-dir", f"{base}/x", "--fast"])
