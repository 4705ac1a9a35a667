"""Connected components / dedup-cluster collapse (operators.graph)."""

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geotrellis_landsat_emr_demo_spark import gates
from geotrellis_landsat_emr_demo_spark.operators import graph, textops

SF = "/root/testdata/sf0.001"

# caps closed to force each connected_components path, and the decision
# that proves the path ran
PATHS = {
    "driver": ({}, ("cc_driver_edges", "fits")),
    "contract": ({"cc_driver_edges": 0}, ("cc_contracted_edges", "fits")),
    "star": ({"cc_driver_edges": 0, "cc_contract_nodes": 0}, ("cc_contract_nodes", "over")),
}


def _components(monkeypatch, gate_log, df, caps, proof):
    gate, branch = proof
    gate_log.clear()
    with monkeypatch.context() as mp:
        for name, cap in caps.items():
            mp.setitem(gates.CAPS, name, cap)
        got = {r.node: r.component for r in graph.connected_components(df).collect()}
    assert gate_log.branches(gate) == {branch}, (caps, gate_log.decisions(gate))
    return got


def _uf_components(edges):
    """Driver-side union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_random_graphs(spark, monkeypatch, gate_log):
    """Random sparse graphs: star/star result == union-find, including the
    component-min labeling."""
    rng = np.random.default_rng(5)
    for trial in range(3):
        n, m = 200, 150
        a = rng.integers(0, n, m)
        b = rng.integers(0, n, m)
        edges = [(int(x), int(y)) for x, y in zip(a, b) if x != y]
        df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
        expect = _uf_components(edges)
        # ALL THREE execution paths: the adaptive driver union-find
        # (default at this size), the r8 star-contraction path and the
        # distributed star/star loop must agree with the oracle
        # bit-for-bit
        for path in PATHS:
            got = _components(monkeypatch, gate_log, df, *PATHS[path])
            assert got == expect, f"trial {trial} path={path}"
            # labels are component minima
            assert all(v <= k for k, v in got.items())


def test_connected_components_long_path(spark, monkeypatch, gate_log):
    """A 500-node path is the adversarial case for naive label propagation
    (diameter rounds); star/star must converge within the O(log^2 n) cap
    and label every node with the path's minimum."""
    edges = [(i, i + 1) for i in range(500)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = _components(monkeypatch, gate_log, df, *PATHS["star"])
    assert got == {i: 0 for i in range(501)}
    # the path graph is also the LOW-contraction adversary for the r8
    # contraction route (m(i) = i-1 keeps ~all edges): must still be exact
    got_c = _components(monkeypatch, gate_log, df, *PATHS["contract"])
    assert got_c == {i: 0 for i in range(501)}
    # and the edge-cap fallback to the star loop must be exact too
    got_f = _components(
        monkeypatch,
        gate_log,
        df,
        {"cc_driver_edges": 0, "cc_contracted_edges": 10},
        ("cc_contracted_edges", "over"),
    )
    assert got_f == {i: 0 for i in range(501)}


def test_dedup_clusters_end_to_end(spark):
    """pairs -> clusters over the documents corpus: transitive closure
    (A~B, B~C => one cluster), min-id keeper, singletons kept."""
    d = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    rows = d.collect()
    # planted chain: 9001 dups doc 0, 9002 dups 9001 (transitively doc 0)
    extra = pd.DataFrame(
        [
            dict(doc_id=9001, text=rows[0].text, lang=rows[0].lang, source="dup",
                 n_chars=rows[0].n_chars),
            dict(doc_id=9002, text=rows[0].text + " tail", lang=rows[0].lang,
                 source="dup", n_chars=rows[0].n_chars + 5),
        ]
    )
    docs = d.unionByName(spark.createDataFrame(extra))
    pairs = textops.ngram_jaccard_pairs(docs, bucket_col="lang", min_jaccard=0.6)
    out = graph.dedup_clusters(docs, pairs).toPandas()
    assert len(out) == 32
    by_id = out.set_index("doc_id")
    # the chain collapsed into doc 0's cluster
    assert by_id.loc[9001].cluster == 0 and by_id.loc[9002].cluster == 0
    assert bool(by_id.loc[0].is_keeper)
    assert not bool(by_id.loc[9001].is_keeper)
    # every cluster has exactly one keeper, the min doc_id
    for c, grp in out.groupby("cluster"):
        assert grp.is_keeper.sum() == 1
        assert grp[grp.is_keeper].doc_id.iloc[0] == grp.doc_id.min() == c
    # keeper count == corpus size minus collapsed dups
    n_clusters = out.cluster.nunique()
    assert out.is_keeper.sum() == n_clusters


def test_pairs_memo_keeps_one_application(spark, monkeypatch):
    """The dedup entries' shared pair relation is memoized per
    application: storing a new application's entry drops the entries of
    the old ones, whose checkpoints belong to a stopped context."""
    from pyspark import SparkContext

    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "_PAIRS_MEMO", {})
    for app in ("app-1", "app-2"):
        monkeypatch.setattr(
            SparkContext, "applicationId", property(lambda self, app=app: app)
        )
        entry._shared_jaccard_pairs(spark, SF)
    assert list(entry._PAIRS_MEMO) == [("app-2", SF)]
    entry.drop_pairs_memo()


def test_pairs_memo_removes_dropped_checkpoints(spark, monkeypatch):
    """Each memo entry checkpoints into its own directory, which is
    removed when the entry is dropped: by a later application's entry or
    by ``drop_pairs_memo``."""
    from pyspark import SparkContext

    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "_PAIRS_MEMO", {})
    dirs = []
    for app in ("app-1", "app-2"):
        monkeypatch.setattr(
            SparkContext, "applicationId", property(lambda self, app=app: app)
        )
        pairs = entry._shared_jaccard_pairs(spark, SF)
        d = entry._PAIRS_MEMO[(app, SF)][1]
        assert os.path.basename(d).startswith("spark-graft-ckpt-") and os.listdir(d)
        dirs.append(d)
    assert dirs[0] != dirs[1]
    assert not os.path.exists(dirs[0]) and os.path.isdir(dirs[1])
    assert pairs.count() > 0  # app-2's checkpoint still reads
    entry.drop_pairs_memo()
    assert entry._PAIRS_MEMO == {} and not os.path.exists(dirs[1])
