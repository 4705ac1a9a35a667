"""Round-8 optimization equivalence pins: the vectorized Arrow cosine
paths must be BIT-IDENTICAL to the Catalyst higher-order-function
formulations they replaced (same IEEE rounding sequence — see
similarity._fold).  These tests compare the two implementations
on real corpus data and on adversarial synthetic vectors (zero vectors,
float32 inputs, threshold-straddling pairs)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotrellis_landsat_emr_demo_spark import gates
from geotrellis_landsat_emr_demo_spark.operators import similarity as sim

SF_DIR = "/root/testdata/sf0.01"


def _pairs_df(spark, n=120, dim=16, seed=7, dtype="f4"):
    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, dim)).astype(dtype)
    pdf = pd.DataFrame(
        {"id": np.arange(n, dtype="i8"), "vec": [v for v in V]}
    )
    df = spark.createDataFrame(pdf)
    a = df.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    b = df.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))


def test_with_cosine_bitexact_vs_hof(spark):
    j = _pairs_df(spark, n=90, dim=16)
    got = {
        (r.id_a, r.id_b): r.c
        for r in sim.with_cosine(j, "vec_a", "vec_b", "c").collect()
    }
    want = {
        (r.id_a, r.id_b): r.c
        for r in sim.with_cosine_expr(j, "vec_a", "vec_b", "c").collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        if w is None or (isinstance(w, float) and math.isnan(w)):
            assert g is None or math.isnan(g), k
        else:
            assert g == w, (k, g.hex(), w.hex())  # bitwise double equality


def test_with_cosine_bitexact_on_corpus(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a")
    )
    n = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    j = q.crossJoin(n).filter(F.col("id_a") != F.col("id_b"))
    got = sim.with_cosine(j, "vec_a", "vec_b", "c").orderBy("id_a", "id_b").collect()
    want = (
        sim.with_cosine_expr(j, "vec_a", "vec_b", "c").orderBy("id_a", "id_b").collect()
    )
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (g.id_a, g.id_b) == (w.id_a, w.id_b)
        assert g.c == w.c, (g.id_a, g.id_b, g.c.hex(), w.c.hex())


def _pairwise_join_reference(embeddings, threshold, block_col="label",
                             id_col="vec_id", vec_col="embedding"):
    """The pre-r8 self-join formulation of pairwise_near_dups, verbatim."""
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    x = embeddings.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
    ).repartition(par, "block")
    y = embeddings.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
    )
    j = x.join(y, "block").filter(F.col("id_a") < F.col("id_b"))
    j = sim.with_cosine_expr(j, "vec_a", "vec_b")
    return j.filter(F.col("cosine") >= threshold).select(
        "block", "id_a", "id_b", "cosine"
    )


@pytest.mark.parametrize("threshold", [0.3, 0.95])
def test_pairwise_near_dups_matches_join_formulation(spark, threshold):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {
        (r.block, r.id_a, r.id_b): r.cosine
        for r in sim.pairwise_near_dups(e, threshold=threshold).collect()
    }
    want = {
        (r.block, r.id_a, r.id_b): r.cosine
        for r in _pairwise_join_reference(e, threshold).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k] == w, (k, got[k].hex(), w.hex())


def test_pairwise_near_dups_zero_vector_yields_nan_pairs(spark):
    # The pre-r8 join formulation CRASHED on zero-norm vectors (ANSI
    # DIVIDE_BY_ZERO in the HOF norm product).  The Gram path instead
    # produces a NaN cosine, and — matching Spark SQL's NaN-sorts-highest
    # comparison semantics — keeps those pairs.  Pin that behavior.
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(4, dtype="i8"),
            "label": np.zeros(4, dtype="i8"),
            "embedding": [
                np.zeros(8, dtype="f4"),
                np.ones(8, dtype="f4"),
                (np.ones(8) * 0.5).astype("f4"),
                np.zeros(8, dtype="f4"),
            ],
        }
    )
    e = spark.createDataFrame(pdf)
    got = sim.pairwise_near_dups(e, threshold=0.99).collect()
    gk = sorted((r.id_a, r.id_b) for r in got)
    # pairs involving the zero vectors must be present (NaN cosine), and
    # the 1s-vs-0.5s pair (cosine exactly 1.0) survives the threshold
    assert (0, 1) in gk and (0, 3) in gk and (1, 2) in gk


def _topk_map(df):
    return {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in df.collect()
    }


def _assert_topk_equal(got, want):
    assert set(got) == set(want)
    for k, (wn, wc) in want.items():
        gn, gc = got[k]
        assert gn == wn, (k, gn, wn)
        if wc is None or (isinstance(wc, float) and math.isnan(wc)):
            assert gc is None or math.isnan(gc), (k, gc, wc)
        else:
            assert gc == wc, (k, gc.hex(), wc.hex())  # bitwise double equality


def _topk_capped(monkeypatch, gate_log, cap, branch, *args, **kwargs):
    """cosine_topk with the query-collect cap at ``cap`` (None: as set),
    checking that the gate took ``branch``."""
    gate_log.clear()
    with monkeypatch.context() as mp:
        if cap is not None:
            mp.setitem(gates.CAPS, "topk_collect_queries", cap)
        got = _topk_map(sim.cosine_topk(*args, **kwargs))
    assert gate_log.branches("topk_collect_queries") == {branch}
    return got


def test_cosine_topk_collected_matches_lazy_on_corpus(spark, monkeypatch, gate_log):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 7)
    got = _topk_capped(monkeypatch, gate_log, None, "fits", e, q, k=5)
    want = _topk_capped(monkeypatch, gate_log, 0, "over", e, q, k=5)
    _assert_topk_equal(got, want)


def test_cosine_topk_collected_matches_lazy_adversarial(spark, monkeypatch, gate_log):
    # zero vectors (NaN/null cosine ordering), exact duplicate vectors
    # (cosine ties broken by neighbor id), float32 inputs, self-exclusion
    rng = np.random.default_rng(11)
    V = rng.standard_normal((40, 8)).astype("f4")
    V[5] = 0.0
    V[17] = 0.0
    V[9] = V[3]           # duplicate -> tied cosines vs every query
    V[21] = V[3]
    pdf = pd.DataFrame({"vec_id": np.arange(40, dtype="i8"), "embedding": [v for v in V]})
    e = spark.createDataFrame(pdf)
    q = e.filter(F.col("vec_id").isin([0, 3, 5]))  # incl. a zero-vector query
    for excl in (True, False):
        got = _topk_capped(
            monkeypatch, gate_log, None, "fits", e, q, k=6, exclude_self=excl
        )
        want = _topk_capped(
            monkeypatch, gate_log, 0, "over", e, q, k=6, exclude_self=excl
        )
        _assert_topk_equal(got, want)


def test_cosine_topk_cap_falls_back_to_lazy(spark, monkeypatch, gate_log):
    # a query side above the cap must keep the fully-lazy formulation
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 9)
    got = _topk_capped(monkeypatch, gate_log, 4, "over", e, q, k=3)
    assert gate_log.decisions("topk_collect_queries") == [
        ("topk_collect_queries", 5, 4, "over")
    ]
    want = _topk_capped(monkeypatch, gate_log, 0, "over", e, q, k=3)
    _assert_topk_equal(got, want)
