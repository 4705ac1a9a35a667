"""Embedding similarity search over an ``array<float>`` column.

- :func:`cosine_topk`   brute-force exact top-k: JVM-side dot products via
  ``F.zip_with`` + ``F.aggregate`` (whole-stage codegen, no Python) with a
  broadcast query side and a window top-k. The correctness baseline.
- :func:`lsh_topk`      signed-random-projection LSH: deterministic
  hyperplanes (seed 1337), bucket equi-join, exact re-rank inside buckets,
  multiprobe over hamming-1 neighbors. The 100-TB scale path: candidate
  count ~ N / 2^bits per probe instead of N.
- :func:`pairwise_near_dups` embedding-cosine near-duplicate pairs within
  a blocking key (label), for dedup pipelines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


def with_cosine_expr(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    """Catalyst higher-order-function cosine — a test reference: no query
    runs it.  HOF lambdas are CodegenFallback in Spark 4 (interpreted,
    boxed per element), so :func:`with_cosine` below computes the SAME
    value — bit-for-bit — through one vectorized Arrow batch instead;
    tests/test_similarity_exact.py pins the two equal."""
    return df.withColumn(
        out, _dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b)))
    )


def _cos_exact_np(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Bit-exact vectorized replica of the zip_with/aggregate cosine.

    The Catalyst expression folds LEFT-TO-RIGHT over dimensions:
    ``acc = (acc + x_d * y_d)`` — one IEEE rounding per product, one per
    add, in dimension order.  Accumulating column-by-column performs the
    identical operation sequence per row (numpy elementwise double ops,
    Java double ops, and np/Math.sqrt are all IEEE-754 correctly
    rounded), so every cosine — including values at a caller's threshold
    boundary — is the same double the HOF expression produces."""
    n = A.shape[0]
    dot = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for d in range(A.shape[1]):
        x = A[:, d]
        y = B[:, d]
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / (np.sqrt(na) * np.sqrt(nb))


def _cos_exact_rows(va, vb) -> float:
    """Scalar fallback (ragged/null-safe), same sequence of roundings."""
    if va is None or vb is None:
        return None
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(va, vb):
        x = float(x)
        y = float(y)
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    import math

    return dot / (math.sqrt(na) * math.sqrt(nb))


def _cos_batch(va: pd.Series, vb: pd.Series) -> pd.Series:
    try:
        A = np.asarray(va.tolist(), dtype="f8")
        B = np.asarray(vb.tolist(), dtype="f8")
        if A.ndim == 2 and B.ndim == 2:
            return pd.Series(_cos_exact_np(A, B))
    except (ValueError, TypeError):
        pass
    return pd.Series([_cos_exact_rows(x, y) for x, y in zip(va, vb)], dtype="float64")


_COS_UDF = None


def _cos_udf():
    """pandas_udf handle, built lazily (the decorator needs an active
    session) and marked non-deterministic: that stops the optimizer
    duplicating the UDF when a caller filters on the output column
    (guide §4.4 — filter pushdown splits one ArrowEvalPython into two);
    the function itself is deterministic."""
    global _COS_UDF
    if _COS_UDF is None:
        _COS_UDF = F.pandas_udf(_cos_batch, "double").asNondeterministic()
    return _COS_UDF


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    """Exact cosine between two array columns, vectorized through one
    Arrow batch per task (bit-identical to :func:`with_cosine_expr` —
    see :func:`_cos_exact_np`)."""
    return df.withColumn(out, _cos_udf()(F.col(a), F.col(b)))


def _desc_cosine_key(cos: np.ndarray) -> np.ndarray:
    """int64 sort key whose ASCENDING order is the order the lazy
    formulation's windows apply to the UDF-produced cosine column:
    ``desc(cosine)`` with non-finite-as-null LAST.

    Spark orders doubles with java.lang.Double.compare — a total order
    where -0.0 < 0.0 — reproduced exactly by the IEEE bit trick:
    non-negative doubles compare as their raw bits, negatives with the
    low 63 bits flipped, then negated for descending.  NaN cosines
    (zero-norm vectors) arrive in the JVM as NULLs on the lazy path
    (Arrow's from_pandas writes NaN as null), and ``desc`` puts nulls
    LAST — so NaN is pinned past every real value here, ties among them
    falling to the ascending neighbor id exactly like Spark's secondary
    sort key."""
    b = cos.view(np.int64)
    key = -np.where(b >= 0, b, b ^ np.int64(0x7FFFFFFFFFFFFFFF))
    key[np.isnan(cos)] = np.int64(0x7FFFFFFFFFFFFFFF)
    return key


def _cosine_topk_collected(
    embeddings: DataFrame,
    qrows,
    k: int,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    query_id_type: str,
) -> DataFrame:
    """Map-side two-phase top-k against a driver-collected query set.

    Phase 1 runs per Arrow batch inside ``mapInPandas``: every batch
    vector's cosine against every query via the per-dimension
    accumulation of :func:`_cos_exact_np` (identical IEEE sequence to
    the zip_with/aggregate fold, hence bit-identical cosines), then the
    batch-local top-k by the exact ``(desc cosine, asc neighbor)`` total
    order (:func:`_desc_cosine_key`).  Because neighbor ids are
    unique the order is total, so the global top-k is provably a subset
    of every batch's local top-k — the final window just re-ranks the
    ~k * n_batches survivors.  No query-vector bytes ever cross the
    shuffle and no Q x N pair relation is materialized."""
    qids = [r["query_id"] for r in qrows]
    Q = np.asarray([[float(x) for x in r["qvec"]] for r in qrows], dtype="f8")
    nq = len(qids)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    schema = f"query_id {query_id_type}, neighbor_id {id_type}, cosine double"
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            nid = pdf["neighbor_id"].to_numpy()
            try:
                V = np.asarray(pdf["nvec"].tolist(), dtype="f8")
                if V.ndim != 2:
                    raise ValueError
            except (ValueError, TypeError):
                # ragged / null vectors: scalar fallback, same roundings
                cos_rows = [
                    [_cos_exact_rows(r["qvec"], v) for v in pdf["nvec"]]
                    for r in qrows
                ]
                V = None
            if V is not None:
                nb = np.zeros(len(V))
                for d in range(V.shape[1]):
                    y = V[:, d]
                    nb = nb + y * y
                sq_nb = np.sqrt(nb)
            outs = []
            for i in range(nq):
                if V is not None:
                    qv = Q[i]
                    dot = np.zeros(len(V))
                    na = 0.0
                    for d in range(V.shape[1]):
                        x = qv[d]
                        dot = dot + x * V[:, d]
                        na = na + x * x
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dot / (np.sqrt(na) * sq_nb)
                else:
                    cos = np.asarray(
                        [np.nan if c is None else c for c in cos_rows[i]],
                        dtype="f8",
                    )
                if exclude_self:
                    keep = nid != qids[i]
                    cos_i, nid_i = cos[keep], nid[keep]
                else:
                    cos_i, nid_i = cos, nid
                idx = np.lexsort((nid_i, _desc_cosine_key(cos_i)))[:k]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": [qids[i]] * len(idx),
                            "neighbor_id": nid_i[idx],
                            "cosine": cos_i[idx],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs)

    local = base.mapInPandas(batches, schema)
    order = (F.desc("cosine"), F.asc("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    max_collect_queries: int = 256,
) -> DataFrame:
    """Exact brute-force ANN baseline: queries x all vectors, cosine,
    two-phase top-k. Returns (query_id, neighbor_id, cosine, rank).

    r8 shape: when the query side is provably tiny (``limit(n+1)`` probe
    collects at most ``max_collect_queries`` rows — a bounded driver read
    of a few KB of vectors, the kmeans-update precedent), phase 1 runs
    map-side inside ``mapInPandas`` against the collected query matrix
    (:func:`_cosine_topk_collected`): no broadcast crossJoin carrying
    both vectors per pair through Arrow, no repartition exchange, no
    per-partition window — measured 2x at sf1.0-scale.  Bit-exact: the
    per-dimension accumulation is the identical IEEE sequence, and the
    batch-local selection uses Double.compare's exact total order.  Pass
    ``max_collect_queries=0`` (or a larger-than-cap query set) for the
    fully-lazy formulation below — results are pinned identical
    (tests/test_similarity_exact.py).

    The top-k is TWO-PHASE either way (the q_knn_points pattern): a
    local pass keyed by (query_id, scan partition) keeps k rows per
    query per partition, so no single window partition ever holds a
    whole query's N candidates; the final window then ranks only ~k * P
    rows per query."""
    qsel = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    if max_collect_queries and k >= 1:
        probe = qsel.limit(max_collect_queries + 1).collect()
        if len(probe) <= max_collect_queries:
            return _cosine_topk_collected(
                embeddings,
                probe,
                k,
                id_col,
                vec_col,
                exclude_self,
                queries.schema[id_col].dataType.simpleString(),
            )
    q = F.broadcast(qsel)
    # small parquet inputs arrive as 1 partition; spread the probe side so
    # the N*Q cosine work parallelizes instead of running in one task
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    ).repartition(par)
    j = q.crossJoin(base)
    if exclude_self:
        j = j.filter(F.col("query_id") != F.col("neighbor_id"))
    j = with_cosine(j, "qvec", "nvec").select("query_id", "neighbor_id", "cosine")
    order = (F.desc("cosine"), F.asc("neighbor_id"))
    # phase 1: top-k per (query, source partition) — bounded window groups
    w_local = Window.partitionBy("query_id", "pid").orderBy(*order)
    local = (
        j.withColumn("pid", F.spark_partition_id())
        .withColumn("lr", F.row_number().over(w_local))
        .filter(F.col("lr") <= k)
        .drop("pid", "lr")
    )
    # phase 2: global rank over the ~k * P survivors per query
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _planes(dim: int, bits: int, table: int = 0, seed: int = 1337) -> np.ndarray:
    rng = np.random.default_rng(seed + 7919 * table)
    return rng.standard_normal((bits, dim))


def adaptive_bits(n: int, target_bucket: int = 32, floor_bits: int = 4) -> int:
    """Scale the LSH hash width with the corpus: ``bits ~ log2(N /
    target_bucket)`` keeps the expected bucket occupancy near
    ``target_bucket`` as N grows, so candidate pairs per table are
    ~``N * target_bucket / 2`` — LINEAR in N.  A fixed ``bits`` makes
    candidates ~``N^2 / 2^bits`` — quadratic, the scale-killer at 100 TB.

    The recall trade: per-table collision prob at angle θ is
    ``(1 - θ/π)^bits``, so larger corpora (more bits) need more ``tables``
    for the same recall — e.g. near-dups at cosine >= 0.9 (θ <= 26°,
    p1 = 0.857/bit): 8 tables give ~99.8% at bits=4, ~98% at bits=6,
    ~94% at bits=8; raise ``tables`` ~1/p1^Δbits to hold recall."""
    import math

    return max(floor_bits, math.ceil(math.log2(max(1.0, n / target_bucket))))


def _table_buckets(df, vec_col, bits, tables, dim):
    """One (table, bucket) row per hash table per vector, via posexplode.

    Buckets for ALL tables come from one Arrow-batched numpy matmul
    (n x dim) @ (dim x tables*bits) — one UDF call per batch instead of
    tables*bits unrolled column expressions (which bloat codegen)."""
    all_planes = np.vstack([_planes(dim, bits, t) for t in range(tables)])
    pows = (1 << np.arange(bits, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        E = np.asarray(vecs.tolist(), dtype="f8")  # (n, dim)
        signs = (E @ all_planes.T) >= 0  # (n, tables*bits)
        signs = signs.reshape(len(E), tables, bits)
        vals = (signs * pows[None, None, :]).sum(axis=2)  # (n, tables)
        return pd.Series(vals.astype("i8").tolist())

    return df.select(
        "*", F.posexplode(buckets_udf(F.col(vec_col))).alias("tbl", "bucket")
    ).drop(vec_col)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int | None = None,
    tables: int = 8,
    dim: int = 64,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 32,
) -> DataFrame:
    """Approximate top-k: multi-table signed-random-projection LSH + exact
    re-rank of the bucket-local candidates.

    ``tables`` independent hash tables (union of candidates) trade compute
    for recall; ``multiprobe`` additionally probes hamming-1 buckets of
    each table (bits+1 probes per table — ~(bits+1)x the candidates; set
    0 to skip).  Measured at sf0.1 (5000 vectors, adaptive bits=8, 8
    tables, k=10): recall@10 = 0.92 with multiprobe vs 0.35 without, for
    ~0.4 s extra wall — see BENCH/BASELINE.md "ANN multiprobe".  ``bits=None`` picks
    :func:`adaptive_bits` from the corpus count so candidates stay linear
    in N.  The corpus is hashed once into a NARROW (id, tbl, bucket)
    relation feeding the single probe join, candidates dedupe on scalar
    ids only,
    and vectors are joined back once for the exact re-rank; queries
    broadcast.  Candidate count ~ tables * N / 2^bits per query."""
    n_corpus = None
    if bits is None:
        n_corpus = embeddings.count()
        bits = adaptive_bits(n_corpus, target_bucket)
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    # r8: no checkpoint — the bucketed corpus relation feeds exactly ONE
    # join here (unlike lsh_candidate_pairs, where both self-join sides
    # read it), so materializing it only added a job barrier
    base = _table_buckets(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"))
        .repartition(par),
        "v",
        bits,
        tables,
        dim,
    )
    q = _table_buckets(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("v")),
        "v",
        bits,
        tables,
        dim,
    )
    if multiprobe:
        probes = F.array(
            [F.col("bucket")]
            + [
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(bits)
            ]
        )
        q = q.withColumn("bucket", F.explode(probes))
    cand = (
        F.broadcast(q)
        .join(base, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    )
    nv = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    if n_corpus is not None and n_corpus <= 1_000_000:
        # the corpus vector relation fits a broadcast at this size — skip
        # the shuffle of the candidate side (guide §3.1); at scale the
        # shuffle join stands
        nv = F.broadcast(nv)
    scored = with_cosine(cand.join(qv, "query_id").join(nv, "neighbor_id"), "qvec", "nvec")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _ivf_centroids(n_centroids: int, dim: int, seed: int = 4242) -> np.ndarray:
    """Deterministic unit-norm coarse-quantizer centroids.  Random unit
    vectors are a legitimate (data-independent) IVF quantizer; being
    seeded constants they can be embedded verbatim in an oracle SQL."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _ivf_cells(df, vec_col, cents: np.ndarray, nprobe: int, out: str = "cell"):
    """posexplode the top-``nprobe`` centroid cells per vector (by dot
    product with the unit centroids == cosine order), via one Arrow-batched
    matmul per batch."""
    C = cents

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells_udf(vecs: pd.Series) -> pd.Series:
        E = np.asarray(vecs.tolist(), dtype="f8")  # (n, dim)
        dots = E @ C.T  # (n, n_centroids)
        # ties broken toward the lower centroid id (stable argsort on -dot)
        order = np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(order.astype("i4").tolist())

    return df.select(
        "*", F.explode(cells_udf(F.col(vec_col))).alias(out)
    ).drop(vec_col)


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 5,
    dim: int = 64,
    seed: int = 4242,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed spherical k-means (Lloyd's) — trains the coarse
    quantizer :func:`ivf_topk` probes (pass the result via its
    ``centroids`` param; data-fit lists beat the seeded random quantizer
    on clustered corpora).

    Inputs are unit-normalized once and the corpus checkpointed; per
    iteration: (1) assignment = one Arrow-batched matmul argmax (cosine
    against unit centroids, executor-side), and (2) centroid update =
    posexplode + (cell, dim) groupBy-SUM collected to the driver (k x dim
    doubles — the only driver traffic; update = normalized mean, empty
    cells keep their centroid).  The spherical objective (mean cosine of
    each vector to its new centroid) falls out of the same sums —
    sum_cells ||Σ v̂||/N — so monitoring costs nothing extra.

    Returns (centroids (k, dim) unit ndarray, assignments DataFrame
    (id_col, cell int), history list[float] — non-decreasing)."""
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    # guard the denominator: an all-zero embedding would divide 0/0 into
    # null array elements and poison the assign UDF's numpy conversion —
    # clamping the norm keeps the vector at zero (it then never moves a
    # centroid: its posexplode sums contribute 0)
    unit = F.transform(
        F.col(vec_col),
        lambda x: x.cast("double")
        / F.greatest(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col(vec_col), lambda y: y.cast("double") * y),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
            ),
            F.lit(1e-12),
        ),
    )
    base = (
        embeddings.select(F.col(id_col), unit.alias("v"))
        .repartition(par)
        .localCheckpoint(eager=True)
    )
    n_total = base.count()

    def assign_udf(C: np.ndarray):
        @F.pandas_udf(T.IntegerType())
        def cell_udf(vecs: pd.Series) -> pd.Series:
            E = np.asarray(vecs.tolist(), dtype="f8")
            return pd.Series(np.argmax(E @ C.T, axis=1).astype("i4"))

        return cell_udf

    cents = _ivf_centroids(k, dim, seed)
    history: list[float] = []
    for _ in range(iters):
        assigned = base.withColumn("cell", assign_udf(cents)(F.col("v")))
        rows = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"))
            .collect()
        )
        sums = np.zeros((k, dim))
        for r in rows:
            sums[r.cell, r.pos] = r.s
        norms = np.linalg.norm(sums, axis=1)
        new = cents.copy()
        nonzero = norms > 0
        new[nonzero] = sums[nonzero] / norms[nonzero, None]
        cents = new
        # mean cosine to the NEW centroids over this assignment:
        # each cell contributes ||Σ v̂|| (unit vectors, unit centroid)
        history.append(float(norms.sum() / n_total))
    assignments = base.select(id_col, assign_udf(cents)(F.col("v")).alias("cell"))
    return cents, assignments, history


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    ``n_centroids`` inverted lists (each vector -> its nearest centroid),
    probe the query's ``nprobe`` nearest lists, exact cosine re-rank.

    ``centroids`` overrides the seeded random quantizer with a trained
    one (:func:`kmeans_fit`) — data-fit lists balance better and lift
    recall-per-probe on clustered corpora.  Recall-per-probe is a
    property of the corpus GEOMETRY: on an isotropic corpus any nlist
    quantizer yields recall ~ the probed-cell fraction and training buys
    nothing (measured, BENCH/BASELINE.md §ivf); on a clustered corpus a
    trained quantizer lifts recall ~2.3x at the same candidate fraction
    (tests/test_textops.py::test_ivf_trained_recall_on_clustered_corpus).

    The 100-TB shape: the corpus is hashed once into a NARROW (id, cell)
    relation feeding the single probe join, candidates
    per query ~ nprobe * N / n_centroids instead of N; queries broadcast;
    vectors join back once for the exact re-rank.  Returns (query_id,
    neighbor_id, cosine, rank)."""
    cents = (
        centroids if centroids is not None else _ivf_centroids(n_centroids, dim)
    )
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    # r8: no checkpoint — the (id, cell) relation feeds exactly one join
    # (the probe), so materializing it only added a job barrier
    base = _ivf_cells(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"))
        .repartition(par),
        "v",
        cents,
        nprobe=1,
    )
    q = _ivf_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("v")),
        "v",
        cents,
        nprobe,
    )
    cand = (
        F.broadcast(q)
        .join(base, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    )
    nv = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    scored = with_cosine(cand.join(qv, "query_id").join(nv, "neighbor_id"), "qvec", "nvec")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_candidate_pairs(
    embeddings: DataFrame,
    bits: int | None = None,
    tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 32,
) -> DataFrame:
    """Distinct SRP-LSH candidate pairs (id_a < id_b) — the blocking stage
    shared by :func:`lsh_near_dup_pairs` (and testable on its own: with
    ``bits=None`` the candidate count grows ~linearly in N, not N^2).

    The bucketed relation is NARROW (id, tbl, bucket) and checkpointed so
    the Arrow matmul runs once, not once per self-join side."""
    n_corpus = None
    if bits is None:
        n_corpus = embeddings.count()
        bits = adaptive_bits(n_corpus, target_bucket)
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    b = _table_buckets(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .repartition(par),
        "v",
        bits,
        tables,
        dim,
    ).localCheckpoint(eager=True)
    x = b.select(F.col("id").alias("id_a"), "tbl", "bucket")
    y = b.select(F.col("id").alias("id_b"), "tbl", "bucket")
    if n_corpus is not None and n_corpus * tables <= 2_000_000:
        # the bucketed relation is a few MB at this size: broadcasting one
        # self-join side turns the (tbl, bucket) equi-join map-side and
        # drops both its exchanges (guide §3.1); the shuffle join stands
        # at corpus scale
        y = F.broadcast(y)
    return (
        x.join(y, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bits: int | None = None,
    tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 32,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at corpus scale: SRP-LSH
    bucket candidates (union over ``tables`` hash tables), exact cosine
    verify >= threshold.

    This is the 100-TB shape for near-dup detection — candidates come from
    bucket equi-joins, never an all-pairs self-join, and ``bits=None``
    (recommended at scale) sizes the hash via :func:`adaptive_bits` so
    expected candidates stay ~linear in N (fixed bits is quadratic:
    ~tables * N^2 / 2^bits).  Recall is probabilistic: a pair at angle θ
    collides in one table with prob (1 - θ/π)^bits; at near-dup
    thresholds (>= 0.9, θ <= 26°) eight 4-bit tables miss < 1% — raise
    ``tables`` with bits to hold recall (see :func:`adaptive_bits`).
    :func:`pairwise_near_dups` stays the exact (blocked) baseline.
    Returns (id_a, id_b, cosine)."""
    n_corpus = embeddings.count()
    cand = lsh_candidate_pairs(
        embeddings, bits, tables, dim, id_col, vec_col, target_bucket
    )
    # join the (narrow) distinct pairs back to the vectors once per side —
    # carrying vector payloads through the tables x collisions candidate
    # set would shuffle each vector up to `tables` times
    base = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    va = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    if n_corpus <= 1_000_000:
        # vector relation fits a broadcast: the (much larger) candidate
        # relation is never shuffled for the verify (guide §3.1)
        va, vb = F.broadcast(va), F.broadcast(vb)
    j = with_cosine(cand.join(va, "id_a").join(vb, "id_b"), "vec_a", "vec_b")
    return j.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def pairwise_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking column —
    exact within each block, O(n^2 / block): correct when block cardinality
    scales with the corpus; use :func:`lsh_near_dup_pairs` when it doesn't.

    r8 shape: one shuffle of the NARROW (block, id, vec) relation keyed by
    block, then each block's pair set comes from a numpy Gram matrix
    inside ``applyInPandas`` — the self-join previously materialized every
    candidate pair as a row carrying BOTH 64-dim vectors (n^2/block rows
    through an interpreted HOF cosine; 20M pairs at sf1.0 took ~70 s).
    The Gram accumulates column-by-column, i.e. the exact left-to-right
    per-dimension rounding sequence of the zip_with/aggregate cosine (see
    :func:`_cos_exact_np`), so emitted cosines — and threshold
    survivors — are bit-identical to the join formulation (pinned by
    tests/test_similarity_exact.py).  Only pairs >= threshold ever leave
    the UDF.  Memory stays bounded: the Gram is computed in row chunks of
    the block, O(chunk * n_block) doubles at a time."""
    bt = embeddings.schema[block_col].dataType.simpleString()
    it = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"block {bt}, id_a {it}, id_b {it}, cosine double"
    thr = float(threshold)

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        A = np.asarray(pdf["vec"].tolist(), dtype="f8")
        n = len(A)
        if n < 2:
            return pd.DataFrame(
                {"block": [], "id_a": [], "id_b": [], "cosine": []}
            ).astype({"cosine": "f8"})
        dim = A.shape[1]
        # exact norms, per-dimension accumulation (see _cos_exact_np)
        nrm = np.zeros(n)
        for d in range(dim):
            x = A[:, d]
            nrm = nrm + x * x
        nrm = np.sqrt(nrm)
        out_a, out_b, out_c = [], [], []
        chunk = max(1, min(n, (4 << 20) // max(n, 1)))  # ~32 MB of doubles
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            G = np.zeros((hi - lo, n))
            for d in range(dim):
                G += A[lo:hi, d, None] * A[None, :, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                C = G / (nrm[lo:hi, None] * nrm[None, :])
            # Spark SQL orders NaN above every double, so a NaN cosine
            # (zero-norm vector) PASSES `cosine >= threshold` in the join
            # formulation — replicate that
            rows, cols = np.nonzero((C >= thr) | np.isnan(C))
            keep = (rows + lo) < cols
            rows, cols = rows[keep], cols[keep]
            out_a.append(ids[rows + lo])
            out_b.append(ids[cols])
            out_c.append(C[rows, cols])
        blk = pdf[block_col].iloc[0]
        ra = np.concatenate(out_a) if out_a else np.array([], dtype=ids.dtype)
        return pd.DataFrame(
            {
                "block": np.repeat(blk, len(ra)),
                "id_a": ra,
                "id_b": np.concatenate(out_b) if out_b else ra,
                "cosine": np.concatenate(out_c) if out_c else np.array([], dtype="f8"),
            }
        )

    sel = embeddings.select(
        F.col(block_col),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    )
    return (
        sel.groupBy(block_col)
        .applyInPandas(_block_pairs, schema=out_schema)
        .select("block", "id_a", "id_b", "cosine")
    )
