"""Stage isolation for the postings build stage (guide §1.4: noop sink).

Reuses the docs table of an existing bench index dir and re-runs the
postings-stage sub-plans cumulatively, timing each with a noop sink:

  P0 tokenize                    scan + tokens_col
  P1 +rle+pack                   + _rle_rows explode + packed project
  P2 +exchange+collect_list      + repartition(term,shard) + groupBy agg
  P3 +encode                     + mapInArrow chunk builder
  P4 +bucket-repartition         + repartition(n_buckets, bucket)

Usage: python tools/profile_postings.py [index_dir] [repeats]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    idx = sys.argv[1] if len(sys.argv) > 1 else "/tmp/esbulk_bench_index_32_2000000"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from pyspark.sql import functions as F

    from esbulk_spark.config import IndexConfig
    from esbulk_spark.functions.analyzer import tokens_col
    from esbulk_spark.plans.build import (
        POSTINGS_SCHEMA,
        _rle_rows,
        bucket_col,
        make_chunk_builder,
    )
    from esbulk_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="profile-postings", cpus=cpus,
                      shuffle_partitions=max(32, cpus))
    spark.sparkContext.setLogLevel("ERROR")

    stats = json.load(open(os.path.join(idx, "stats.json")))
    shard_size = int(stats["shard_size"])
    cfg = IndexConfig(index_dir="/tmp/__profile_unused", n_buckets=stats["n_buckets"],
                      n_shards=stats["n_shards"], chunk_cap=stats["chunk_cap"])

    docs_path = os.path.join(idx, "docs")

    def src():
        return spark.read.parquet(docs_path).select(
            "doc_id", tokens_col("content").alias("__toks")
        )

    def p0():
        return src()

    def tfrows():
        return _rle_rows(src()).withColumn(
            "shard", (F.col("doc_id") / F.lit(shard_size)).cast("int")
        )

    def packed(t):
        rel = F.col("doc_id") - F.col("shard").cast("long") * F.lit(shard_size)
        e = rel * F.lit(1 << 40) + F.col("tf").cast("long") * F.lit(1 << 20) + F.col("dl")
        return t.select("term", "shard", e.alias("__p"))

    def p1():
        return packed(tfrows())

    def grouped():
        return (
            packed(tfrows())
            .repartition("term", "shard")
            .groupBy("term", "shard")
            .agg(F.collect_list("__p").alias("postings"))
        )

    def p2():
        return grouped()

    def chunks():
        return grouped().mapInArrow(
            make_chunk_builder(cfg, stats["avgdl"], shard_size), POSTINGS_SCHEMA
        )

    def p3():
        return chunks()

    def p4():
        return (
            chunks()
            .withColumn("bucket", bucket_col(F.col("term"), cfg.n_buckets))
            .repartition(cfg.n_buckets, "bucket")
        )

    out = {}
    for name, fn in [("p0_tokenize", p0), ("p1_rle_pack", p1),
                     ("p2_exchange_agg", p2), ("p3_encode", p3),
                     ("p4_bucket_repart", p4)]:
        ts = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.monotonic()
            fn().write.format("noop").mode("overwrite").save()
            ts.append(round(time.monotonic() - t0, 2))
        out[name] = ts
        print(name, ts, flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
