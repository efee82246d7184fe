import itertools
import os
import shutil
from contextlib import contextmanager

import numpy as np
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from esbulk_spark.session import get_spark

    s = get_spark(app_name="esbulk-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    from esbulk_spark.corpus import synth_corpus

    return synth_corpus(spark, 150, seed=42).cache()


@pytest.fixture(scope="session")
def index_dir(spark, corpus, tmp_path_factory):
    """One shared small index for the whole suite."""
    from esbulk_spark.config import IndexConfig
    from esbulk_spark.plans.build import build_index

    d = str(tmp_path_factory.mktemp("idx") / "index")
    cfg = IndexConfig(index_dir=d, n_buckets=8, n_shards=4, chunk_cap=256)
    build_index(spark, corpus, cfg, input_sig="test150")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_job_groups = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``with count_jobs() as c: ...`` leaves ``c["jobs"]``, the number of
    Spark jobs the block started (its own job group, read back from the
    status tracker)."""
    sc = spark.sparkContext

    @contextmanager
    def counting():
        gid = f"count-jobs-{next(_job_groups)}"
        box: dict[str, int] = {}
        sc.setJobGroup(gid, "count_jobs")
        try:
            yield box
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            box["jobs"] = len(sc.statusTracker().getJobIdsForGroup(gid))

    return counting


@pytest.fixture
def chunk_rows():
    """pandas postings rows -> comparable tuples sorted by (term, shard,
    chunk), array cells as lists, over ``cols``."""

    def rows(pdf, cols):
        pdf = pdf[cols].sort_values(["term", "shard", "chunk"])
        return [
            tuple(v.tolist() if isinstance(v, np.ndarray) else v for v in row)
            for row in pdf.itertuples(index=False)
        ]

    return rows
