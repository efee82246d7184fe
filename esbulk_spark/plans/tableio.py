"""Pluggable table storage for the index table set (SURVEY.md §1.1,
M4): the index is a set of tables (docs / postings / dictionary /
positions) plus a JSON spec. How those tables are stored and
committed is a backend concern:

* ``ParquetDirIO`` (default, zero dependencies): one parquet directory
  per table under the index dir, committed by write-to-tmp + atomic
  rename — exactly the layout every existing index uses (this module is
  the factored-out home of the old ``build._atomic_write``). Readers
  racing a rebuild must ``refresh()``; there is no snapshot isolation.
* ``IcebergIO`` (activated when the Iceberg Spark runtime jars are on
  the classpath — feature-probed like PIL in operators/multimodal.py):
  one Iceberg table per index table, committed via DataFrameWriterV2
  ``createOrReplace`` — a single atomic metadata swap, which buys what
  a real deployment asks for first: snapshot isolation, concurrent
  readers during rebuild, and time travel on the index tables.

Besides the Spark ``read``, a backend serves one driver-side read,
``read_terms``: the rows of a term-keyed table for a few terms, as an
Arrow table and without a Spark job. It is how the reader fetches
dictionary rows, small-query postings and tombstones (plans/reader.py).
``ParquetDirIO`` keeps every part file's parsed footer, so a read opens
only the row groups that can hold a wanted term.

The engine talks ONLY to the interface; backends are chosen per index
(``for_index_dir`` picks Iceberg when the location is a table-ident
string like ``iceberg:catalog.db.myindex`` AND the jars are present).

Reference parity: the reference's index lifecycle is ES's
create/delete/settings dance (/root/reference/indexing.go:461-518,
administration.go:51-93); this interface is that lifecycle mapped onto
table storage.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """Feature probe: True when the Iceberg Spark runtime is on the JVM
    classpath (no-op import check, the PIL-probe pattern)."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableIO:
    """Storage backend interface for one index's table set."""

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        options: dict | None = None,
    ) -> None:
        """Atomically (re)place table ``name`` with ``df``'s rows.
        Concurrent readers must see either the old or the new table,
        never a partial write. ``options`` are backend writer options
        (e.g. parquet.block.size for the postings row-group layout);
        backends may ignore options they have no equivalent for."""
        raise NotImplementedError

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        raise NotImplementedError

    def read_terms(
        self,
        name: str,
        buckets: list[int] | None = None,
        terms: list[str] | None = None,
        columns: list[str] | None = None,
    ):
        """Driver-side read of table ``name`` as a ``pyarrow.Table``: the
        rows whose ``term`` is in ``terms`` from the ``bucket``
        partitions in ``buckets``, in file and row order. ``None`` lifts
        that restriction (the unpartitioned, term-less ``deletes`` table
        is read whole). ``columns`` defaults to every column but the
        ``bucket`` partition key."""
        raise NotImplementedError

    def exists(self, name: str) -> bool:
        raise NotImplementedError

    def refresh(self, spark: SparkSession, name: str) -> None:
        """Invalidate any cached listing/metadata for ``name``."""
        raise NotImplementedError


class ParquetDirIO(TableIO):
    """Parquet-directory backend: ``<root>/<name>`` per table, committed
    by tmp-dir + atomic rename (POSIX rename is the commit point)."""

    def __init__(self, root: str):
        self.root = root
        # (name, bucket) -> the table's parquet files in that partition
        # directory; bucket None = every file of the table
        self._files: dict[tuple[str, int | None], list[str]] = {}
        # part file -> (parsed footer, per-row-group ``term`` (min, max),
        # None where a group has no such statistics)
        self._footers: dict[str, tuple] = {}

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _list(self, name: str, bucket: int | None) -> list[str]:
        key = (name, bucket)
        files = self._files.get(key)
        if files is None:
            path = glob.escape(self._path(name))
            pats = (
                [os.path.join(path, f"bucket={bucket}", "*.parquet")]
                if bucket is not None
                else [os.path.join(path, "*.parquet"),
                      os.path.join(path, "*", "*.parquet")]
            )
            files = sorted(f for p in pats for f in glob.glob(p))
            self._files[key] = files
        return files

    def _forget(self, name: str) -> None:
        for key in [k for k in self._files if k[0] == name]:
            del self._files[key]
        prefix = self._path(name) + os.sep
        for f in [f for f in self._footers if f.startswith(prefix)]:
            del self._footers[f]

    def _footer(self, f: str) -> tuple:
        """``f``'s parsed ``FileMetaData`` and its row groups' ``term``
        ranges, parsed once per part file and kept until ``_forget``."""
        hit = self._footers.get(f)
        if hit is None:
            import pyarrow.parquet as pq

            meta = pq.read_metadata(f)
            schema = meta.schema
            col = next(
                (i for i in range(meta.num_columns) if schema.column(i).path == "term"),
                None,
            )
            ranges = []
            for g in range(meta.num_row_groups):
                st = None if col is None else meta.row_group(g).column(col).statistics
                ranges.append((st.min, st.max) if st is not None and st.has_min_max else None)
            hit = self._footers[f] = (meta, ranges)
        return hit

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        options: dict | None = None,
    ) -> None:
        path = self._path(name)
        tmp = path + ".__tmp__"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        if options:
            w = w.options(**options)
        w.parquet(tmp)
        has_data = any(
            f.endswith(".parquet")
            for _dp, _dn, files in os.walk(tmp)
            for f in files
        )
        if not has_data:
            # a zero-row/zero-partition plan (AQE over an empty exchange,
            # or an empty partitioned write) leaves NO part files, making
            # the directory unreadable (no schema to infer); rewrite one
            # empty, schema-bearing unpartitioned file — the partition
            # column then rides as a regular column with the identical
            # read schema
            df.sparkSession.createDataFrame([], df.schema).write.mode(
                "overwrite"
            ).parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        self._forget(name)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """The table as a Spark relation. Spark is handed the schema, so
        opening a table runs no schema-inference job."""
        schema = self._schema(name)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self._path(name))

    def _schema(self, name: str):
        """The table's Spark schema from one part file's footer: the row
        schema Spark's writer stores there, plus an int column for the
        file's ``key=value`` partition directory (the type Spark's
        partition inference gives the ``bucket`` key). None — let Spark
        infer — when the file carries no Spark schema or the partition
        value is not an int."""
        import pyarrow.parquet as pq
        from pyspark.sql.types import IntegerType, StructType

        path = self._path(name)
        files = glob.glob(os.path.join(glob.escape(path), "*.parquet")) or glob.glob(
            os.path.join(glob.escape(path), "*", "*.parquet")
        )
        if not files:
            return None
        meta = pq.read_metadata(files[0]).metadata or {}
        row = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
        if row is None:
            return None
        schema = StructType.fromJson(json.loads(row))
        part = os.path.relpath(os.path.dirname(files[0]), path)
        if part != ".":
            key, _, value = part.partition("=")
            if not value.lstrip("-").isdigit():
                return None
            schema = schema.add(key, IntegerType())
        return schema

    def read_terms(self, name, buckets=None, terms=None, columns=None):
        """The listed files of the wanted bucket directories, each opened
        on its cached footer. Only the row groups whose ``term`` min/max
        brackets a wanted term are read (in a term-sorted bucket file,
        few of them); a group without statistics is always read, and
        ``terms=None`` reads every group. ``pc.is_in`` then keeps the
        wanted rows, in file and row order."""
        import bisect

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        files = (
            [f for b in buckets for f in self._list(name, b)]
            if buckets is not None
            else []
        )
        if not files:
            # no such bucket directory: read the whole table, which also
            # covers a table written without partitions (an empty index
            # keeps `bucket` as a plain column in top-level files)
            files = self._list(name, None)
        if not files:
            raise FileNotFoundError(f"no parquet files under {self._path(name)}")
        wanted = None if terms is None else sorted(set(terms))

        def brackets(rng):
            if wanted is None or rng is None:
                return True
            i = bisect.bisect_left(wanted, rng[0])
            return i < len(wanted) and wanted[i] <= rng[1]

        schema = self._footer(files[0])[0].schema.to_arrow_schema()
        cols = list(columns) if columns is not None else [
            c for c in schema.names if c != "bucket"
        ]
        read = cols if wanted is None or "term" in cols else cols + ["term"]
        parts = []
        for f in files:
            meta, ranges = self._footer(f)
            groups = [g for g, rng in enumerate(ranges) if brackets(rng)]
            if groups:
                parts.append(pq.ParquetFile(f, metadata=meta).read_row_groups(
                    groups, columns=read))
        if not parts:
            return pa.schema([schema.field(c) for c in cols]).empty_table()
        t = pa.concat_tables(parts)
        if wanted is not None:
            t = t.filter(pc.is_in(t["term"], value_set=pa.array(wanted, t["term"].type)))
        return t.select(cols)

    def exists(self, name: str) -> bool:
        return os.path.exists(self._path(name))

    def refresh(self, spark: SparkSession, name: str) -> None:
        self._forget(name)
        if self.exists(name):
            spark.catalog.refreshByPath(self._path(name))


class IcebergIO(TableIO):
    """Iceberg-catalog backend: table ``<namespace>.<prefix>_<name>`` per
    index table. ``createOrReplace`` commits a new snapshot atomically —
    readers holding the previous snapshot keep a consistent view through
    a full rebuild (the concurrent-rebuild story ParquetDirIO lacks).

    Only constructed when ``iceberg_available``; all calls go through
    the public DataFrameWriterV2 / catalog APIs, so any Spark-supported
    Iceberg catalog (Hive, Hadoop, REST, Glue) works unchanged."""

    def __init__(self, catalog: str, namespace: str, prefix: str):
        self.catalog = catalog
        self.namespace = namespace
        self.prefix = prefix

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{self.prefix}_{name}"

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        options: dict | None = None,
    ) -> None:
        from pyspark.sql import functions as F

        # options are parquet writer hints (row-group sizing); Iceberg
        # governs file layout through table properties
        # (write.parquet.row-group-size-bytes), left to deployment config
        w = df.writeTo(self._ident(name)).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.table(self._ident(name))

    def read_terms(self, name, buckets=None, terms=None, columns=None):
        """The same pruned read as a Spark filter collected through
        ``toArrow`` (one small job): Iceberg's file list lives in its
        snapshot metadata, which only the catalog resolves."""
        from pyspark.sql import SparkSession as _S
        from pyspark.sql import functions as F

        df = self.read(_S.getActiveSession(), name)
        if buckets is not None:
            df = df.filter(F.col("bucket").isin(list(buckets)))
        if terms is not None:
            df = df.filter(F.col("term").isin(list(terms)))
        if columns is None:
            columns = [c for c in df.columns if c != "bucket"]
        return df.select(*columns).toArrow()

    def exists(self, name: str) -> bool:
        from pyspark.sql import SparkSession as _S

        spark = _S.getActiveSession()
        return bool(spark and spark.catalog.tableExists(self._ident(name)))

    def refresh(self, spark: SparkSession, name: str) -> None:
        spark.sql(f"REFRESH TABLE {self._ident(name)}")


def for_index_dir(index_dir: str, spark: SparkSession | None = None) -> TableIO:
    """Backend selection: an ``iceberg:catalog.namespace.prefix`` index
    location selects IcebergIO (requires the runtime jars — explicit
    error otherwise, not a silent parquet fallback); any filesystem path
    selects ParquetDirIO."""
    if index_dir.startswith("iceberg:"):
        ident = index_dir[len("iceberg:"):]
        parts = ident.split(".")
        if len(parts) != 3:
            raise ValueError(
                f"iceberg index location must be 'iceberg:catalog.namespace.prefix': {index_dir!r}"
            )
        if spark is not None and not iceberg_available(spark):
            raise RuntimeError(
                "index location requests Iceberg but the Iceberg Spark "
                "runtime jars are not on the classpath"
            )
        return IcebergIO(*parts)
    return ParquetDirIO(index_dir)
