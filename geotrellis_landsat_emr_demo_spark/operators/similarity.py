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

Every operator here is candidates -> exact cosine -> rank, and each step
has one implementation: :func:`_fold` is the one exact dot-product
kernel (bit-identical to the Catalyst fold), :func:`_scored` joins both
vector sides back onto narrow candidate pairs, :func:`_ranked_topk` is
the final ``row_number() <= k`` window, and the bucket self-join and
in-group pair scan come from :mod:`.pairs`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import gates
from . import pairs


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


def _fold(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """The one exact dot-product kernel: ``acc = acc + A[..., d] * B[..., d]``
    over the last axis, in dimension order, for any broadcastable leading
    shapes (pairs of rows, one query against a batch, a row chunk
    against a whole group).

    The Catalyst zip_with/aggregate expression folds LEFT-TO-RIGHT over
    dimensions the same way — one IEEE rounding per product, one per add,
    in dimension order — and numpy elementwise double ops, Java double
    ops and np/Math.sqrt are all IEEE-754 correctly rounded, so every dot
    product, norm and cosine built from it (including values at a
    caller's threshold boundary) is the same double the HOF expression
    produces."""
    acc = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    for d in range(A.shape[-1]):
        acc += A[..., d] * B[..., d]
    return acc


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


def _matrix(vecs: pd.Series) -> np.ndarray | None:
    """An Arrow list column as an (n, dim) float64 matrix, or None when
    its vectors are ragged or null (the callers' scalar fallback)."""
    try:
        M = np.asarray(vecs.tolist(), dtype="f8")
    except (ValueError, TypeError):
        return None
    return M if M.ndim == 2 else None


def _cos_batch(va: pd.Series, vb: pd.Series) -> pd.Series:
    A, B = _matrix(va), _matrix(vb)
    if A is not None and B is not None:
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(_fold(A, B) / (np.sqrt(_fold(A, A)) * np.sqrt(_fold(B, B))))
    return pd.Series([_cos_exact_rows(x, y) for x, y in zip(va, vb)], dtype="float64")


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    """Exact cosine between two array columns, vectorized through one
    Arrow batch per task (bit-identical to :func:`with_cosine_expr` —
    see :func:`_fold`).

    The pandas_udf handle is built per call: PySpark binds it to the
    SparkContext (and its accumulator server) active when it is first
    used, so a handle kept across sessions fails to report its tasks'
    accumulators in every later session.  It is marked non-deterministic:
    that stops the optimizer duplicating the UDF when a caller filters on
    the output column (guide §4.4 — filter pushdown splits one
    ArrowEvalPython into two); the function itself is deterministic."""
    cos = F.pandas_udf(_cos_batch, "double").asNondeterministic()
    return df.withColumn(out, cos(F.col(a), F.col(b)))


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
    qpdf: pd.DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    query_id_type: str,
) -> DataFrame:
    """Map-side two-phase top-k against a driver-collected query set.

    Phase 1 runs per Arrow batch inside ``mapInPandas``: every batch
    vector's cosine against every query via :func:`_fold` (identical
    IEEE sequence to the zip_with/aggregate fold, hence bit-identical
    cosines), then the
    batch-local top-k by the exact ``(desc cosine, asc neighbor)`` total
    order (:func:`_desc_cosine_key`).  Because neighbor ids are
    unique the order is total, so the global top-k is provably a subset
    of every batch's local top-k — the final window just re-ranks the
    ~k * n_batches survivors.  No query-vector bytes ever cross the
    shuffle and no Q x N pair relation is materialized."""
    qids = qpdf["query_id"].tolist()
    qvecs = qpdf["qvec"].tolist()
    Q = np.asarray([[float(x) for x in v] for v in qvecs], dtype="f8")
    nq = len(qids)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    schema = f"query_id {query_id_type}, neighbor_id {id_type}, cosine double"
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )

    qnorm = np.sqrt(_fold(Q, Q))

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            nid = pdf["neighbor_id"].to_numpy()
            V = _matrix(pdf["nvec"])
            if V is not None:
                vnorm = np.sqrt(_fold(V, V))
            outs = []
            for i in range(nq):
                if V is not None:
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = _fold(Q[i], V) / (qnorm[i] * vnorm)
                else:
                    # ragged / null vectors: scalar fallback, same roundings
                    cos = np.asarray(
                        [_cos_exact_rows(qvecs[i], v) for v in pdf["nvec"]], dtype="f8"
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

    return _ranked_topk(base.mapInPandas(batches, schema), k)


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """The top-k of every query: ``row_number()`` over
    (query_id) ordered by (desc cosine, asc neighbor_id), kept at rank <=
    k -> (query_id, neighbor_id, cosine, rank)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
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
) -> DataFrame:
    """Exact brute-force ANN baseline: queries x all vectors, cosine,
    two-phase top-k. Returns (query_id, neighbor_id, cosine, rank).

    r8 shape: when the query side is provably tiny (the bounded probe of
    the ``topk_collect_queries`` gate collects it — a driver read of a
    few KB of vectors, the kmeans-update precedent), phase 1 runs
    map-side inside ``mapInPandas`` against the collected query matrix
    (:func:`_cosine_topk_collected`): no broadcast crossJoin carrying
    both vectors per pair through Arrow, no repartition exchange, no
    per-partition window — measured 2x at sf1.0-scale.  Bit-exact: the
    per-dimension accumulation is the identical IEEE sequence, and the
    batch-local selection uses Double.compare's exact total order.  A
    query set over the cap takes the fully-lazy formulation below —
    results are pinned identical (tests/test_similarity_exact.py).

    The top-k is TWO-PHASE either way (the q_knn_points pattern): a
    local pass keyed by (query_id, scan partition) keeps k rows per
    query per partition, so no single window partition ever holds a
    whole query's N candidates; the final window then ranks only ~k * P
    rows per query."""
    qsel = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    if k >= 1:
        probe = gates.collect_upto(qsel, "topk_collect_queries")
        if probe is not None:
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
    # phase 1: top-k per (query, source partition) — bounded window groups
    w_local = Window.partitionBy("query_id", "pid").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    local = (
        j.withColumn("pid", F.spark_partition_id())
        .withColumn("lr", F.row_number().over(w_local))
        .filter(F.col("lr") <= k)
        .drop("pid", "lr")
    )
    # phase 2: global rank over the ~k * P survivors per query
    return _ranked_topk(local, k)


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
    # broadcast: the candidate side is not shuffled (guide §3.1)
    fits = n_corpus is not None and gates.fits("ann_broadcast_vectors", n_corpus)
    return _ranked_topk(
        _scored(cand, (queries, embeddings), id_col, vec_col, (True, fits)), k
    )


def _scored(cand: DataFrame, sides, id_col: str, vec_col: str, broadcast) -> DataFrame:
    """Narrow candidate pairs (two id columns) -> with their exact
    ``cosine`` (:func:`with_cosine`).  Each id column joins back once to
    the vectors of its side (``sides``: the relations its ids come from)
    — carrying vector payloads through the candidate fan-out would
    shuffle each vector once per collision.  ``broadcast`` holds the
    caller's decision per side: a broadcast side leaves the (larger)
    candidate relation unshuffled (guide §3.1)."""
    out = cand
    for name, src, hint in zip(cand.columns, sides, broadcast):
        v = src.select(F.col(id_col).alias(name), F.col(vec_col).alias(f"{name}_vec"))
        out = out.join(F.broadcast(v) if hint else v, name)
    a, b = cand.columns
    return with_cosine(out, f"{a}_vec", f"{b}_vec")


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
    return _ranked_topk(
        _scored(cand, (queries, embeddings), id_col, vec_col, (True, False)), k
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
    ``bits=None`` the candidate count grows ~linearly in N, not N^2)."""
    n_corpus = embeddings.count() if bits is None else None
    return _lsh_candidates(
        embeddings, n_corpus, bits, tables, dim, id_col, vec_col, target_bucket
    )


def _lsh_candidates(
    embeddings, n_corpus, bits, tables, dim, id_col, vec_col, target_bucket
):
    """:func:`lsh_candidate_pairs` given the corpus size ``n_corpus``,
    which sizes the hash (:func:`adaptive_bits`) and gates the bucket
    broadcast when ``bits`` is None; an explicit ``bits`` never
    broadcasts.

    The bucketed relation is NARROW (id, tbl, bucket) and checkpointed so
    the Arrow matmul runs once, not once per self-join side."""
    adaptive = bits is None
    if adaptive:
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
    fits = adaptive and gates.fits("lsh_broadcast_bucket_rows", n_corpus * tables)
    return pairs.self_join(
        b, ("tbl", "bucket"), ("id_a", "id_b"), "id", broadcast=fits
    ).distinct()


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
    cand = _lsh_candidates(
        embeddings, n_corpus, bits, tables, dim, id_col, vec_col, target_bucket
    )
    # broadcast: the (much larger) candidate relation is never shuffled
    # for the verify (guide §3.1)
    fits = gates.fits("lsh_broadcast_vectors", n_corpus)
    j = _scored(cand, (embeddings, embeddings), id_col, vec_col, (fits, fits))
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
    :func:`_fold`), so emitted cosines — and threshold
    survivors — are bit-identical to the join formulation (pinned by
    tests/test_similarity_exact.py).  Only pairs >= threshold ever leave
    the UDF.  Memory stays bounded: the Gram is computed in row chunks of
    the block (:func:`.pairs.upper_pairs`), O(chunk * n_block) doubles at
    a time."""
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
        nrm = np.sqrt(_fold(A, A))

        def cosines(lo, hi):
            with np.errstate(divide="ignore", invalid="ignore"):
                return _fold(A[lo:hi, None, :], A[None, :, :]) / (
                    nrm[lo:hi, None] * nrm[None, :]
                )

        # Spark SQL orders NaN above every double, so a NaN cosine
        # (zero-norm vector) PASSES `cosine >= threshold` in the join
        # formulation — replicate that
        ra, rb, rc = pairs.upper_pairs(
            ids, cosines, lambda C: (C >= thr) | np.isnan(C),
            max(1, (4 << 20) // n),  # ~32 MB of doubles
        )
        blk = np.repeat(pdf[block_col].iloc[0], len(ra))
        return pd.DataFrame({"block": blk, "id_a": ra, "id_b": rb, "cosine": rc})

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
