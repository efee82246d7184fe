"""Similarity search over embedding columns (training-data pipeline op).

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing as the scale path (candidates drop from O(n) per query to the
query's bucket ± multiprobe neighbors). Dot products stay JVM-side via
zip_with/aggregate — no Python in the scan. IVF (a k-means coarse
quantizer, ivf_ann_topk_centroids) and IVF-PQ (ivfpq_topk) prune by
probe lists instead; both take a quantizer trained driver-side by
deterministic_kmeans / pq_train so a SQL oracle can replay them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esbulk_spark.operators.dedup import ensure_parallelism


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    exclude_id: int | None = None,
    round_to: int | None = 6,
    where: "str | None" = None,
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.

    ``where``: ES knn ``filter`` analog — a SQL predicate over the input
    columns applied BEFORE scoring (pre-filter: the top-k are guaranteed
    to pass it, ES's filtered-kNN contract). Applied on the raw scan so
    Catalyst pushes it into the parquet read."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    if where is not None:
        df = df.filter(where)
    # small vector tables read as ONE parquet split; the per-row HOF
    # scoring is interpreted, so a single task serializes it (guide
    # §2.5 input parallelism. ensure_parallelism no-ops on already
    # parallel scans; the filter above stays pushed at the scan)
    df = ensure_parallelism(df)
    out = df.select(
        F.col(id_col).alias("id"),
        (_dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * _norm(q))).alias("cosine"),
    )
    if exclude_id is not None:
        out = out.filter(F.col("id") != exclude_id)
    if round_to is not None:
        out = out.withColumn("cosine", F.round("cosine", round_to))
    return out.orderBy(F.desc("cosine"), F.asc("id")).limit(k)


def hyperplane_signature(
    df: DataFrame, vec_col: str, id_col: str, n_planes: int = 8, dim: int = 64, seed: int = 42
) -> DataFrame:
    """Random-hyperplane LSH: sign bits of <v, r_i> -> integer bucket."""
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    df = ensure_parallelism(df)
    sig = None
    for i in range(n_planes):
        r = F.array(*[F.lit(float(x)) for x in planes[i]])
        bit = F.when(_dot(F.col(vec_col), r) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), sig.alias("bucket"))


def cosine_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.3,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b,
    round(cosine, 6) >= threshold), LSH-bucketed candidate generation.

    Candidates = pairs whose hyperplane buckets are within Hamming
    distance 1 (probe-bucket equi-join, NOT an all-pairs product — the
    join key is the probed bucket id, so fan-out per key is bucket
    population). Exact cosine is then computed JVM-side for candidates
    only. Deterministic given the seed: the DuckDB oracle reproduces the
    same buckets from the same inlined hyperplanes. At cluster scale,
    write the signature table partitioned by bucket and raise n_planes
    so bucket population stays bounded."""
    table = hyperplane_signature(df, vec_col, id_col, n_planes, dim, seed)
    probe_buckets = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    probes = table.select(
        F.col("id").alias("id_a"), F.explode(probe_buckets).alias("pb")
    )
    cand = (
        probes.join(
            table.select(F.col("id").alias("id_b"), F.col("bucket").alias("pb")),
            "pb",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = table.select("id", "vec")
    out = (
        cand.join(
            vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("va")), "id_a"
        )
        .join(
            vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vb")), "id_b"
        )
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb"))),
                6,
            ),
        )
        # threshold on the ROUNDED cosine: boundary-stable cross-engine
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return out


def deterministic_kmeans(vectors, k: int = 8, seed: int = 42, iters: int = 5):
    """Driver-side Lloyd's k-means, bitwise-reproducible: seeded init
    (choice without replacement over the given row order), a FIXED
    iteration count, argmin ties -> lowest index, and an empty cluster
    keeps its previous centroid. Callers must pass vectors in a stable
    order (sort by id) so the float summation order is fixed.

    This exists so the IVF *entry* has a quantizer that a SQL oracle can
    replay exactly (centroid literals inlined into DuckDB) — Spark's
    KMeans (k-means||) is not reproducible across engines. Train on a
    sample at scale."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    rng = np.random.RandomState(seed)
    idx = np.sort(rng.choice(len(X), size=k, replace=False))
    C = X[idx].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # first occurrence on ties
        for j in range(k):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def ivf_ann_topk_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vecs: dict[str, list[float]],
    centroids,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF ANN with an externally-supplied coarse quantizer (centroid
    matrix, e.g. from deterministic_kmeans). Fully deterministic and
    SQL-reproducible: list assignment is pure Catalyst — squared-L2 to
    each centroid literal, ROUNDED to 6 dp, argmin with lowest-index
    ties — and probe lists are chosen driver-side from the same rounded
    distances. Exact DuckDB oracle: entry_queries._sql_ann_ivf.

    Scale shape: candidates = broadcast
    (qid, list_id, qvec) equi-joined on list_id (partition-prunable when
    the table is written PARTITIONED BY list_id), never all-pairs."""
    import numpy as np
    from pyspark.sql.window import Window

    C = np.asarray(centroids, dtype=np.float64)
    n_lists = len(C)

    def _sqd(vec, c):
        arr = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with(
                vec, arr, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    dists = F.array(
        *[F.round(_sqd(F.col(vec_col), C[j]), 6) for j in range(n_lists)]
    )
    df = ensure_parallelism(df)
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("list_id"),
    )
    rows = []
    for qid, v in query_vecs.items():
        q = np.asarray(v, dtype=np.float64)
        d2r = np.round(((C - q) ** 2).sum(axis=1), 6)
        order = np.lexsort((np.arange(n_lists), d2r))  # stable (dist, index)
        for li in order[:n_probe]:
            rows.append((qid, int(li), [float(x) for x in v]))
    qdf = df.sparkSession.createDataFrame(
        rows, "qid string, list_id int, qvec array<double>"
    )
    joined = assigned.join(F.broadcast(qdf), "list_id").select(
        "qid",
        "id",
        F.round(
            _dot(F.col("vec"), F.col("qvec"))
            / (_norm(F.col("vec")) * _norm(F.col("qvec"))),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "id", "cosine")
        .orderBy("qid", F.desc("cosine"), F.asc("id"))
    )


def lsh_ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
    multiprobe: int = 2,
) -> DataFrame:
    """Approximate NN: score only vectors in the query's LSH bucket or
    buckets at Hamming distance <= multiprobe. Returns (qid, id, cosine).

    Plane count trades recall vs candidate volume: 2^n_planes buckets
    should be ~sqrt-ish of corpus size for weakly-clustered embeddings
    (near-orthogonal random vectors hash almost uniformly). Defaults suit
    10^2-10^5 vectors; at cluster scale raise n_planes and WRITE the
    table partitioned by bucket so each query scans only its probe
    partitions."""
    import numpy as np
    from pyspark.sql.window import Window

    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))

    table = hyperplane_signature(df, vec_col, id_col, n_planes, dim, seed)

    rows = []
    for qid, v in query_vecs.items():
        vec = np.asarray(v, dtype=np.float64)
        bucket = 0
        for i in range(n_planes):
            if float(planes[i] @ vec) >= 0:
                bucket |= 1 << i
        probes = {bucket}
        if multiprobe >= 1:
            for i in range(n_planes):
                probes.add(bucket ^ (1 << i))
        if multiprobe >= 2:
            for i in range(n_planes):
                for j in range(i + 1, n_planes):
                    probes.add(bucket ^ (1 << i) ^ (1 << j))
        for p in sorted(probes):
            rows.append((qid, int(p), [float(x) for x in v]))
    qdf = df.sparkSession.createDataFrame(
        rows, "qid string, bucket long, qvec array<double>"
    )
    joined = table.join(F.broadcast(qdf), "bucket").select(
        "qid",
        "id",
        (_dot(F.col("vec"), F.col("qvec")) / (_norm(F.col("vec")) * _norm(F.col("qvec")))).alias("cosine"),
    )
    # rank by the ROUNDED cosine: boundary-stable cross-engine (the DuckDB
    # oracle in entry_queries orders by the same rounded key)
    joined = joined.withColumn("cosine", F.round("cosine", 6))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "id", "cosine")
        .orderBy("qid", F.desc("cosine"), F.asc("id"))
    )


# ---------------------------------------------------------------- PQ


def pq_train(vectors, m: int = 4, ksub: int = 16, seed: int = 42, iters: int = 5):
    """Product-quantization codebooks (Jegou, Douze, Schmid 2011,
    "Product quantization for nearest neighbor search"): split the
    vector into ``m`` contiguous subspaces and run deterministic_kmeans
    independently in each. Returns a list of m (ksub x dsub) float64
    arrays. Bitwise-reproducible for a stable input order (same contract
    as deterministic_kmeans) so a SQL oracle can inline the codebooks.

    At cluster scale training runs on a driver-side SAMPLE (codebooks
    are tiny: m*ksub*dsub floats); encoding and search are distributed."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    return [
        deterministic_kmeans(
            X[:, j * dsub:(j + 1) * dsub], k=ksub, seed=seed + j, iters=iters
        )
        for j in range(m)
    ]


def _sqd_lit(vec, c):
    """Squared L2 between an array column and a literal vector,
    sequential-fold summation (matches DuckDB list_sum order)."""
    arr = F.array(*[F.lit(float(x)) for x in c])
    return F.aggregate(
        F.zip_with(
            vec, arr, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dlit(x) -> str:
    """SQL double literal with the exact bits of ``x``: Python's repr is
    the shortest string that round-trips IEEE-754, and Java's
    Double.parseDouble returns the same bits (bit-equality asserted in
    tests/test_operators.py)."""
    v = float(x)
    return repr(v) + "D"


def _sqd_sql(vec_sql: str, c) -> str:
    """The SAME expression _sqd_lit builds, as server-parsed SQL text.

    Building 64+ codeword distance expressions through the Column API
    costs thousands of py4j round trips (~2.7 s of pure driver-side
    plan construction per pq_encode call measured at ksub*m=64); one
    F.expr per subspace parses in milliseconds. Identical semantics:
    same zip_with/aggregate fold, same casts, same literal bits."""
    lits = ", ".join(_dlit(x) for x in c)
    return (
        f"aggregate(zip_with({vec_sql}, array({lits}), "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )


def pq_encode(df: DataFrame, vec_col: str, id_col: str, codebooks) -> DataFrame:
    """(id, codes array<int>): per subspace, the index of the nearest
    codeword — 6-dp-rounded squared-L2 argmin with lowest-index ties,
    pure Catalyst (m*ksub literal distance expressions; no Python on
    the data path). 8 bits/subspace at ksub<=256: a 64-dim float vector
    compresses 64x. At cluster scale write the codes table once and
    bucket/partition it however the candidate source dictates."""
    df = ensure_parallelism(df)  # interpreted HOF distances: one split = one core
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    codes = []
    for j in range(m):
        # one server-parsed SQL expression per subspace (see _sqd_sql):
        # same rounded-argmin/lowest-index-tie semantics as the Column
        # form, without the per-codeword py4j construction storm
        sub_sql = f"slice(`{vec_col}`, {j * dsub + 1}, {dsub})"
        dists_sql = "array(%s)" % ", ".join(
            f"round({_sqd_sql(sub_sql, c)}, 6)" for c in codebooks[j]
        )
        codes.append(
            F.expr(
                f"cast(array_position({dists_sql}, "
                f"array_min({dists_sql})) - 1 as int)"
            )
        )
    return df.select(F.col(id_col).alias("id"), F.array(*codes).alias("codes"))


def _pq_lut(query_vec, codebooks):
    """Per-subspace table of 6-dp-rounded squared-L2 from the query's
    subvector to every codeword, summed in sequential order (driver-side
    Python floats: matches DuckDB list_sum exactly)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    lut = []
    for j in range(m):
        sub = q[j * dsub:(j + 1) * dsub]
        row = []
        for c in codebooks[j]:
            acc = 0.0
            for x, y in zip(sub, c):
                acc += (x - float(y)) * (x - float(y))
            row.append(round(acc, 6))
        lut.append(row)
    return lut


def pq_adc_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vecs: dict[str, list[float]],
    codebooks,
    k: int = 10,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: the query stays exact, every
    doc is its m codes, and the approximate squared-L2 is m lookups —
    sum_j lut[j][code_j]. The LUT (m x ksub doubles) is computed
    driver-side per query and broadcast; the scan reads ONLY the codes
    column (m ints/doc instead of the full vector — the memory shape
    that fits 10^9+ vectors in RAM). Returns (qid, id, approx_d2)
    ascending, lowest-id ties.

    Pass a precomputed ``codes_df`` (from pq_encode, e.g. a materialized
    codes table) to skip encoding; otherwise encodes inline."""
    from pyspark.sql.window import Window

    codes = codes_df if codes_df is not None else pq_encode(df, vec_col, id_col, codebooks)
    rows = [
        (qid, _pq_lut(v, codebooks)) for qid, v in sorted(query_vecs.items())
    ]
    qdf = df.sparkSession.createDataFrame(
        rows, "qid string, lut array<array<double>>"
    )
    scored = codes.join(F.broadcast(qdf)).select(
        "qid",
        "id",
        F.round(
            F.aggregate(
                F.zip_with(
                    "codes", "lut", lambda c, row: F.element_at(row, c + 1)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("approx_d2"),
    )
    w = Window.partitionBy("qid").orderBy(F.asc("approx_d2"), F.asc("id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "id", "approx_d2")
        .orderBy("qid", F.asc("approx_d2"), F.asc("id"))
    )


def ivfpq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vecs: dict[str, list[float]],
    centroids,
    codebooks,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF-PQ: coarse quantizer prunes to the query's n_probe lists
    (same assignment/probe rules as ivf_ann_topk_centroids), then PQ ADC
    ranks inside the candidate set — the FAISS IVFPQ composition, the
    standard 10^9-vector layout (codes partitioned by list_id: a query
    touches n_probe partitions and reads m bytes per candidate).
    Codebooks here quantize the RAW vectors (not residuals): the oracle
    stays exactly replayable and recall at small n_lists is within a
    few points of residual-PQ."""
    import numpy as np
    from pyspark.sql.window import Window

    C = np.asarray(centroids, dtype=np.float64)
    n_lists = len(C)
    dists = F.array(
        *[F.round(_sqd_lit(F.col(vec_col), C[j]), 6) for j in range(n_lists)]
    )
    df = ensure_parallelism(df)
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("list_id"),
    )
    codes = pq_encode(assigned, "vec", "id", codebooks).join(
        assigned.select("id", "list_id"), "id"
    )
    rows = []
    for qid, v in sorted(query_vecs.items()):
        q = np.asarray(v, dtype=np.float64)
        d2r = np.round(((C - q) ** 2).sum(axis=1), 6)
        order = np.lexsort((np.arange(n_lists), d2r))
        lut = _pq_lut(v, codebooks)
        for li in order[:n_probe]:
            rows.append((qid, int(li), lut))
    qdf = df.sparkSession.createDataFrame(
        rows, "qid string, list_id int, lut array<array<double>>"
    )
    scored = codes.join(F.broadcast(qdf), "list_id").select(
        "qid",
        "id",
        F.round(
            F.aggregate(
                F.zip_with(
                    "codes", "lut", lambda c, row: F.element_at(row, c + 1)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("approx_d2"),
    )
    w = Window.partitionBy("qid").orderBy(F.asc("approx_d2"), F.asc("id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "id", "approx_d2")
        .orderBy("qid", F.asc("approx_d2"), F.asc("id"))
    )


# ---------------------------------------------------------------- hybrid


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
    rank_constant: int = 60,
    round_to: int | None = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke, Buettcher 2009; ES's
    `rank.rrf` for hybrid BM25+kNN retrieval): each input is an
    (id, rank) DataFrame from one retriever (rank 1-based within its
    own result window); the fused score is sum_r 1/(rank_constant +
    rank_r(id)), missing retrievers contribute 0. Top-k by fused score
    desc, id asc.

    Scale shape: the inputs are already top-WINDOW results (small), so
    the union + hash-agg is result-sized, never corpus-sized."""
    from functools import reduce

    parts = [d.select("id", "rank") for d in ranked]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    score = F.sum(1.0 / (F.lit(float(rank_constant)) + F.col("rank")))
    if round_to is not None:
        score = F.round(score, round_to)
    return (
        u.groupBy("id")
        .agg(score.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("id"))
        .limit(k)
    )


# ---------------------------------------------------------------- SQ8


def sq8_encode(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Scalar int8 quantization (the ES/Lucene dense_vector
    `int8` quantization mode; FAISS SQ8): per-vector scale =
    max|v|/127, code_i = floor(v_i/scale + 0.5) clamped to
    [-127, 127] — floor(x+0.5) spelled explicitly so every engine
    rounds identically (no half-even/half-up divergence). 4x memory
    cut at <1% cosine error; pure Catalyst, (id, codes, scale)."""
    df = ensure_parallelism(df)
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(mx == 0.0, F.lit(1.0)).otherwise(mx / F.lit(127.0))
    codes = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int"),
            ),
        ).cast("int"),
    )
    return df.select(
        F.col(id_col).alias("id"), codes.alias("codes"), scale.alias("scale")
    )


def sq8_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric cosine top-k over SQ8 codes: the per-vector scale
    CANCELS in cosine, so ranking reads only the int8 codes —
    cos ~= dot(codes, q) / (|codes| * |q|). Returns (qid, id,
    approx_cos) desc, lowest-id ties; rounded ranking keys."""
    from pyspark.sql.window import Window

    codes = codes_df if codes_df is not None else sq8_encode(df, vec_col, id_col)
    qdf = df.sparkSession.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in sorted(query_vecs.items())],
        "qid string, qvec array<double>",
    )
    cv = F.transform(F.col("codes"), lambda x: x.cast("double"))
    scored = codes.join(F.broadcast(qdf)).select(
        "qid",
        "id",
        F.round(
            _dot(cv, F.col("qvec")) / (_norm(cv) * _norm(F.col("qvec"))),
            6,
        ).alias("approx_cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("approx_cos"), F.asc("id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "id", "approx_cos")
        .orderBy("qid", F.desc("approx_cos"), F.asc("id"))
    )
