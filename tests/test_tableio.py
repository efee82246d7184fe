"""Pluggable table storage (plans/tableio.py — SURVEY.md M4 TableIO)."""

import os

import pytest

from esbulk_spark.plans.tableio import (
    IcebergIO,
    ParquetDirIO,
    for_index_dir,
    iceberg_available,
)


def test_parquet_backend_roundtrip_and_atomicity(spark, tmp_path):
    io = ParquetDirIO(str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    io.write(df, "t1")
    assert io.exists("t1") and not io.exists("t2")
    assert sorted((r.id, r.v) for r in io.read(spark, "t1").collect()) == [
        (1, "a"), (2, "b"),
    ]
    # overwrite commit replaces atomically (no leftover tmp dir)
    io.write(spark.createDataFrame([(3, "c")], "id long, v string"), "t1")
    io.refresh(spark, "t1")
    assert [(r.id, r.v) for r in io.read(spark, "t1").collect()] == [(3, "c")]
    assert not os.path.exists(str(tmp_path / "t1.__tmp__"))


def test_parquet_backend_empty_partitioned_write_keeps_schema(spark, tmp_path):
    io = ParquetDirIO(str(tmp_path))
    empty = spark.createDataFrame([], "id long, bucket int")
    io.write(empty, "t_empty", partition_by=["bucket"])
    got = io.read(spark, "t_empty")
    assert set(got.columns) == {"id", "bucket"}
    assert got.count() == 0


def test_for_index_dir_selection(spark, tmp_path):
    assert isinstance(for_index_dir(str(tmp_path), spark), ParquetDirIO)
    if iceberg_available(spark):
        io = for_index_dir("iceberg:cat.db.idx", spark)
        assert isinstance(io, IcebergIO)
    else:
        with pytest.raises(RuntimeError, match="Iceberg"):
            for_index_dir("iceberg:cat.db.idx", spark)
    with pytest.raises(ValueError, match="catalog.namespace.prefix"):
        for_index_dir("iceberg:justone", spark)


def test_reader_uses_tableio(spark, index_dir):
    from esbulk_spark.plans.reader import IndexReader

    r = IndexReader(spark, index_dir)
    assert isinstance(r.io, ParquetDirIO)
    assert r.io.exists("postings") and r.io.exists("dictionary")


def test_table_open_runs_no_spark_job(spark, index_dir, count_jobs):
    """A table opens with the schema from a part file's footer: no
    schema-inference job, the same schema Spark infers (the ``bucket``
    partition column included), so a fresh reader's first batch runs as
    many jobs as its second."""
    from esbulk_spark.plans.reader import IndexReader

    r = IndexReader(spark, index_dir)
    with count_jobs() as opened:
        r.postings()
        r.docs()
    assert opened["jobs"] == 0
    batch = {"a": "flushBuffer retry", "b": "getUserName"}
    with count_jobs() as first:
        r.search_many(batch).collect()
    with count_jobs() as second:
        r.search_many(batch).collect()
    assert first["jobs"] == second["jobs"]
    io = ParquetDirIO(index_dir)
    for name in ("docs", "dictionary", "postings"):
        inferred = spark.read.parquet(os.path.join(index_dir, name)).schema
        assert io._schema(name) is not None
        assert io.read(spark, name).schema == inferred


def test_iceberg_read_terms_filters_and_converts(spark, monkeypatch):
    """IcebergIO.read_terms over a stub of the catalog read it wraps:
    bucket and term filters apply, ``bucket`` is dropped unless asked
    for, and the result is the Arrow table ``toArrow`` returns."""
    import pyarrow as pa

    table = spark.createDataFrame(
        [("a", 1, 5), ("b", 1, 6), ("c", 2, 7), ("a", 3, 8)],
        "term string, bucket int, df long",
    )
    seen = []

    def fake_read(self, _spark, name):
        seen.append(self._ident(name))
        return table

    monkeypatch.setattr(IcebergIO, "read", fake_read)
    io = IcebergIO("cat", "db", "idx")

    got = io.read_terms("dictionary", buckets=[1, 2], terms=["a", "c"])
    assert isinstance(got, pa.Table)
    assert got.column_names == ["term", "df"]
    assert sorted(zip(got["term"].to_pylist(), got["df"].to_pylist())) == [
        ("a", 5), ("c", 7),
    ]
    got = io.read_terms("dictionary", terms=["a"], columns=["df", "bucket"])
    assert got.column_names == ["df", "bucket"]
    assert sorted(got["df"].to_pylist()) == [5, 8]
    assert io.read_terms("dictionary").num_rows == 4
    assert seen == ["cat.db.idx_dictionary"] * 3


def test_iceberg_backend_roundtrip(spark, tmp_path):
    """Runs only where the Iceberg runtime ships (the skip is evaluated
    against the live session's classpath): createOrReplace snapshot
    commit + catalog read-back through the same interface the engine
    uses."""
    if not iceberg_available(spark):
        # Vendoring iceberg-spark-runtime (public, Maven Central) was
        # attempted and is impossible here: the sandbox has no network
        # (DNS resolution fails for repo1.maven.org — r5 probe), and no
        # copy of the jar is baked into the image. On any machine with
        # the jar on the classpath (spark.jars / spark.jars.packages)
        # this test runs; the skip is a classpath probe, not a stub.
        pytest.skip("Iceberg Spark runtime jars not on the classpath")
    spark.conf.set("spark.sql.catalog.esbulk_test", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.esbulk_test.type", "hadoop")
    spark.conf.set("spark.sql.catalog.esbulk_test.warehouse", str(tmp_path / "wh"))
    io = IcebergIO("esbulk_test", "db", "idx")
    df = spark.createDataFrame([(1, 0), (2, 1)], "id long, bucket int")
    io.write(df, "postings", partition_by=["bucket"])
    assert io.exists("postings")
    assert io.read(spark, "postings").count() == 2
    io.write(spark.createDataFrame([(3, 0)], "id long, bucket int"), "postings")
    io.refresh(spark, "postings")
    assert [r.id for r in io.read(spark, "postings").collect()] == [3]


def test_build_opens_its_tables_without_a_job(spark, tmp_path, count_jobs, monkeypatch):
    """build_index opens the tables it wrote through ParquetDirIO.read:
    the same build with Spark's schema-inferring open runs one job more
    per open."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.corpus import synth_corpus
    from esbulk_spark.plans import build

    docs = synth_corpus(spark, 60, seed=3).cache()
    docs.count()
    plain = build._read_table

    def jobs(name, open_table):
        opens = []
        monkeypatch.setattr(
            build, "_read_table",
            lambda spark, path: opens.append(path) or open_table(spark, path),
        )
        cfg = IndexConfig(index_dir=str(tmp_path / name), n_buckets=4, n_shards=2)
        with count_jobs() as c:
            build.build_index(spark, docs, cfg, input_sig=f"opens-{name}")
        return c["jobs"], opens

    footer, opens = jobs("footer", plain)
    inferred, _ = jobs("inferred", lambda spark, path: spark.read.parquet(path))
    docs.unpersist()
    assert len(opens) >= 2 and any(p.endswith("docs") for p in opens)
    assert inferred - footer == len(opens)
