"""Full-scan BM25 oracle over a raw document DataFrame (SURVEY.md B8-B9).

Index-free: tokenizes on the fly with the native-expression analyzer and
scores with pure Catalyst operators (explode -> hash agg -> broadcast join
-> TakeOrderedAndProject). This is the independent ground truth the index
path (plans/wand.py, both pruned and unpruned) must match rank-identically
— the analog of the reference's post-ingest search verification
(/root/reference/run_test.go:300-320), strengthened from doc-counts to
scores as the north rule demands.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esbulk_spark import K1, B
from esbulk_spark.functions.analyzer import analyze_query, tokens_col
from esbulk_spark.plans.wand import idf as idf_fn


def bm25_fullscan(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    k: int = 10,
    k1: float = K1,
    b: float = B,
    round_to: int | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for ``query``, scanning the whole corpus.

    Result: columns (doc_id long, score double), ordered score desc,
    doc_id asc. Duplicate query terms score once (analyzer spec).

    ``round_to``: when set, scores are rounded and the ordering key is the
    ROUNDED score (+ doc_id) — required for bit-stable cross-engine
    comparison (a 1-ulp ln() difference at the k-th boundary must not
    change which rows are selected)."""
    spark = docs.sparkSession
    terms = analyze_query(query)
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty

    # Nothing is cached: the returned plan would read a persisted
    # projection after this call, so it could never be released. One job
    # gets the corpus stats and the query terms' df in one tokenize pass;
    # the returned top-k plan tokenizes again when it runs.
    red = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(tokens_col(text_col)).alias("dl"),
        F.filter(tokens_col(text_col), lambda t: t.isin(*terms)).alias("qt"),
    )
    stats = red.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total"),
        *[F.sum(F.array_contains("qt", t).cast("long")).alias(f"df{i}")
          for i, t in enumerate(terms)],
    ).collect()[0]
    n_docs = int(stats["n"] or 0)
    dfs = {t: int(d) for i, t in enumerate(terms) if (d := stats[f"df{i}"])}
    if not dfs:
        return empty
    avgdl = float(stats["total"] or 0) / n_docs

    tf = (
        red.select("doc_id", "dl", F.explode("qt").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf_map = F.create_map(
        *[x for t, d in sorted(dfs.items())
          for x in (F.lit(t), F.lit(float(idf_fn(d, n_docs))))]
    )
    scored = (
        tf.withColumn("idf", idf_map[F.col("term")])
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return topk_deterministic(scored, k, round_to)


def topk_deterministic(scored: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """Top-k by (score desc, doc_id asc); with round_to, order by the
    rounded score so cross-engine selection is stable at the boundary."""
    if round_to is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_to))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def duckdb_bm25_sql(
    table: str,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    k: int = 10,
    k1: float = K1,
    b: float = B,
    round_to: int | None = 4,
) -> str:
    """ANSI/DuckDB SQL computing the same full-scan BM25 top-k.

    The query string is analyzed HERE (python analyzer) and inlined as a
    VALUES list — deterministic because analysis is deterministic."""
    from esbulk_spark.functions.analyzer import duckdb_tokens_sql

    terms = analyze_query(query)
    if not terms:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score WHERE 1=0"
    values = ", ".join(f"('{t}')" for t in terms)
    score_expr = (
        f"sum(idf * (tf * {k1 + 1.0}) / "
        f"(tf + {k1} * ({1.0 - b} + {b} * dl / (SELECT avgdl FROM stats))))"
    )
    if round_to is not None:
        score_expr = f"round({score_expr}, {round_to})"
    # Ordering key = the (possibly rounded) published score + doc_id, matching
    # topk_deterministic() on the Spark side.
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {duckdb_tokens_sql(text_col)} AS toks
  FROM {table}
), norms AS (
  SELECT doc_id, len(toks) AS dl FROM toks
), stats AS (
  SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM norms
), qterms(term) AS (
  VALUES {values}
), tf AS (
  SELECT t.doc_id, u.t AS term, count(*) AS tf
  FROM toks t, unnest(t.toks) AS u(t)
  WHERE u.t IN (SELECT term FROM qterms)
  GROUP BY t.doc_id, u.t
), dict AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + ((SELECT n FROM stats) - d.df + 0.5) / (d.df + 0.5)) AS idf,
         tf.tf, n.dl
  FROM tf JOIN dict d USING (term) JOIN norms n USING (doc_id)
)
SELECT doc_id, {score_expr} AS score
FROM scored
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""
