"""Round-8 equivalence pins for rewritten __spark_entry__ queries.

Each rewritten query is compared row-for-row (exact values, including
doubles bitwise) against the pre-r8 formulation, reproduced verbatim
here, on the sf0.01 and sf0.1 corpora.  The DuckDB oracle gate
(tools/check_entry.py) checks the same queries against oracle_sql();
these tests additionally pin equality on the larger tier the gate
doesn't run."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as entry
import bench

SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _rows_equal(got, want, sort_cols):
    g = sorted([tuple(r) for r in got])
    w = sorted([tuple(r) for r in want])
    assert len(g) == len(w)
    for a, b in zip(g, w):
        assert len(a) == len(b)
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                assert (math.isnan(x) and math.isnan(y)) or x == y, (a, b)
            else:
                assert x == y, (a, b)


# ----------------------------------------------------- reference (pre-r8) --


def _ref_knn_points(spark, sf_dir):
    pts = entry._points(spark, sf_dir)
    q = F.broadcast(
        spark.createDataFrame(
            entry._QPTS, "query_id string, qlng double, qlat double"
        )
    )
    j = q.crossJoin(pts).withColumn(
        "dist_sq",
        (F.col("lng") - F.col("qlng")) ** 2 + (F.col("lat") - F.col("qlat")) ** 2,
    )
    wl = Window.partitionBy("query_id", "part").orderBy("dist_sq", "event_id")
    local = (
        j.withColumn("part", F.spark_partition_id())
        .withColumn("lrn", F.row_number().over(wl))
        .filter(F.col("lrn") <= 3)
    )
    w = Window.partitionBy("query_id").orderBy("dist_sq", "event_id")
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "event_id", "rank")
    )


def _ref_kmeans_assign(spark, sf_dir):
    cents = entry._kmeans_cents()
    k, dim = cents.shape
    e = entry._t(spark, sf_dir, "embeddings")
    r6 = F.transform(F.col("embedding"), lambda x: F.round(x.cast("double"), 6))
    base = e.select("vec_id", r6.alias("v"))

    def dot_lit(vcol, arr):
        return F.aggregate(
            F.zip_with(
                vcol,
                F.array(*[F.lit(float(c)) for c in arr]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    a0 = base.withColumn(
        "cluster",
        F.array_min(
            F.array(
                *[
                    F.struct(
                        (-dot_lit(F.col("v"), cents[j])).alias("nd"),
                        F.lit(j).alias("j"),
                    )
                    for j in range(k)
                ]
            )
        )["j"],
    )
    upd = (
        a0.select("cluster", F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(
            F.sum(F.col("val").cast("decimal(27,6)")).cast("double").alias("s"),
            F.count("*").alias("n"),
        )
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda t: t["s"]
            ).alias("sarr"),
            F.first("n").alias("n"),
        )
    )
    scored = base.crossJoin(F.broadcast(upd)).withColumn(
        "score",
        F.aggregate(
            F.zip_with(F.col("v"), F.col("sarr"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / F.col("n"),
    )
    return scored.groupBy("vec_id").agg(
        F.min_by(
            "cluster", F.struct((-F.col("score")).alias("ns"), F.col("cluster"))
        ).alias("cluster")
    )


def _ref_merge_first_wins(spark, sf_dir):
    l = entry._t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    winners = l.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return winners.groupBy("l_returnflag").agg(
        F.count("*").alias("n_winners"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _ref_pyramid_rollup(spark, sf_dir):
    base = entry._cells(spark, sf_dir, 6).select("cx", "cy", "event_id")
    levels = []
    cur = base
    for zoom in (6, 5, 4):
        levels.append(
            cur.groupBy("cx", "cy")
            .agg(F.count("*").alias("n_points"))
            .withColumn("zoom", F.lit(zoom))
        )
        cur = cur.select(
            (F.col("cx") / 2).cast("long").alias("cx"),
            (F.col("cy") / 2).cast("long").alias("cy"),
            "event_id",
        )
    out = levels[0]
    for l in levels[1:]:
        out = out.unionByName(l)
    return out.groupBy("zoom").agg(
        F.count("*").alias("n_cells"), F.sum("n_points").alias("n_points")
    )


# ------------------------------------------------------------------ tests --


@pytest.mark.parametrize("sf_dir", SFS)
def test_knn_points_equiv(spark, sf_dir):
    _rows_equal(
        entry.q_knn_points(spark, sf_dir).collect(),
        _ref_knn_points(spark, sf_dir).collect(),
        ("query_id", "rank"),
    )


@pytest.mark.parametrize("sf_dir", SFS)
def test_kmeans_assign_equiv(spark, sf_dir):
    _rows_equal(
        entry.q_kmeans_assign(spark, sf_dir).collect(),
        _ref_kmeans_assign(spark, sf_dir).collect(),
        ("vec_id",),
    )


@pytest.mark.parametrize("sf_dir", SFS)
def test_merge_first_wins_equiv(spark, sf_dir):
    _rows_equal(
        entry.q_merge_first_wins(spark, sf_dir).collect(),
        _ref_merge_first_wins(spark, sf_dir).collect(),
        ("l_returnflag",),
    )


@pytest.mark.parametrize("sf_dir", SFS)
def test_pyramid_rollup_equiv(spark, sf_dir):
    _rows_equal(
        entry.q_pyramid_rollup(spark, sf_dir).collect(),
        _ref_pyramid_rollup(spark, sf_dir).collect(),
        ("zoom",),
    )


def test_pyramid_rollup_reuses_leaf_exchange(spark):
    """The three levels share the leaf aggregate's exchange: the final
    adaptive plan scans the events once and reuses the exchange twice."""
    df = entry.q_pyramid_rollup(spark, os.path.join(os.path.dirname(bench.SF_DIR), "sf0.001"))
    df.collect()
    final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert final.count("ReusedExchange") == 2, final
    assert final.count("FileScan") == 1, final
