"""Distributed connected components — the dedup-cluster collapse stage.

Near-dup detection (MinHash/SimHash/Jaccard/embedding-LSH, operators.
textops / operators.similarity) emits PAIRS; deduplication needs the
transitive closure: every document labeled with its duplicate-cluster id
and one canonical keeper per cluster.  At 100 TB that closure is a
connected-components problem on a graph with billions of edges.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce and
Beyond", SoCC 2014) — converges in O(log^2 n) rounds on any graph (in
practice a handful), each round two shuffles (a groupBy-min and a join),
no adjacency list is ever collected (hot nodes are handled by the
groupBy's map-side combine, not a per-node list):

- large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u})
- small-star(u): connect every neighbor v <= u (and u) to
  m = min({v in N(u): v <= u} ∪ {u})

Fixpoint: every node points directly at its component's minimum id.
Per-round ``localCheckpoint`` truncates the lineage (an iterative
DataFrame chain otherwise re-plans the whole history each round and
overwhelms the optimizer at depth ~10+).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import gates


def _sym(edges: DataFrame) -> DataFrame:
    """Both directions, self-loops dropped: (u, v).

    NOT deduped — safe because every consumer is duplicate-insensitive:
    groupBy-min ignores multiplicity, and the join fan-out from a
    duplicated edge is collapsed by the ``.distinct()`` that already
    follows each star.  (After round 1 ``e`` is distinct and oriented
    src > dst, so the two union branches are disjoint and there are no
    duplicates anyway; in round 1 only mirrored input pairs (a,b)/(b,a)
    produce any.)  Dropping the dedup here saves a shuffle per round."""
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return fwd.unionByName(
        fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).filter(F.col("u") != F.col("v"))


def _large_star(e: DataFrame) -> DataFrame:
    """(v, m(u)) for every neighbor v > u; m(u) = min over N(u) ∪ {u}."""
    m = (
        e.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return (
        e.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """(v, m) for neighbors v <= u plus (u, m); m = min over small
    neighbors ∪ {u}.

    ``e`` must already be ORIENTED src > dst (large-star output always is:
    every edge it emits is (v, m) with m <= u < v).  For such an input,
    symmetrizing then filtering v <= u recovers exactly the original
    orientation — so the _sym + filter of the textbook formulation is a
    no-op here and is skipped, saving a union + distinct shuffle per
    round."""
    small = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    m = (
        small.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    pairs = small.join(m, "u").select(F.col("v").alias("src"), F.col("m").alias("dst"))
    self_edges = m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return pairs.unionByName(self_edges)


def _driver_components(spark, e: DataFrame) -> DataFrame:
    """Vectorized min-label union-find on the driver for SMALL edge sets —
    the adaptive small-side path (same idea as Spark's broadcast-join
    threshold: below a size cutoff, local beats a multi-round distributed
    loop whose cost is all scheduling latency).  Produces bit-identical
    output to the distributed loop (tested side by side).

    Pure numpy (no per-edge Python loop): hook each edge's larger root to
    the smaller (``np.minimum.at`` resolves collisions by min), then
    pointer-jump (``parent = parent[parent]``) to full compression;
    repeat until every edge's endpoints share a root.  ``parent`` is
    non-increasing and bounded by the component minimum, so the fixpoint
    labels every node with its component's min id — the same label the
    distributed loop produces.  ~2M edges resolve in a few hundred ms."""
    import numpy as np

    pdf = e.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame(
            pd.DataFrame({"node": [], "component": []}),
            schema="node long, component long",
        )
    src = pdf["src"].to_numpy(dtype="int64")
    dst = pdf["dst"].to_numpy(dtype="int64")
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = inv[: len(src)], inv[len(src) :]
    # nodes is ascending, so index order == id order: min index == min id
    parent = np.arange(nodes.size, dtype=np.int64)
    while True:
        pu, pv = parent[u], parent[v]
        mask = pu != pv
        if not mask.any():
            break
        np.minimum.at(parent, np.maximum(pu, pv)[mask], np.minimum(pu, pv)[mask])
        while True:  # pointer jumping: parent[x] <= x keeps this monotone
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    out = pd.DataFrame({"node": nodes, "component": nodes[parent]})
    return spark.createDataFrame(out, schema="node long, component long")


def _contracted_components(spark, e: DataFrame, m: DataFrame):
    """Single star-contraction + tiny driver union-find (r8).

    ``m`` maps every node u to ``m(u) = min(N(u) ∪ {u})``.  Contracting
    each edge (u, m(u)) — every one an edge of the graph or a self-loop —
    preserves components EXACTLY (edge contraction never changes
    connectivity), so components of G are the components of the contracted
    multigraph {(m(u), m(v)) : (u,v) ∈ E} lifted back through m.  The
    component MINIMUM also survives: the min node x of a component has
    m(x) = x, stays a contraction root, and remains the smallest root of
    its contracted component — so the final labels are identical to the
    star loop's.

    Cost shape: the edge set is only ever traversed MAP-SIDE — two
    broadcast hash joins attach m(u)/m(v), the self-pairs are filtered
    before the exchange, and the distinct dedups the few surviving
    cross-root pairs.  No O(E) shuffle, no O(rounds) jobs.  Returns None
    if the contracted graph unexpectedly exceeds the ``cc_contracted_edges``
    cap (degenerate low-contraction graphs) — caller falls back to the
    star loop."""
    import numpy as np

    ms = F.broadcast(m.select(F.col("u").alias("src"), F.col("m").alias("cu")))
    md = F.broadcast(m.select(F.col("u").alias("dst"), F.col("m").alias("cv")))
    contracted = (
        e.join(ms, "src")
        .join(md, "dst")
        .filter(F.col("cu") != F.col("cv"))
        .select("cu", "cv")
        .distinct()
    )
    cpdf = gates.collect_upto(contracted, "cc_contracted_edges")
    if cpdf is None:
        return None
    mpdf = m.toPandas()
    node = mpdf["u"].to_numpy(dtype="int64")
    mu = mpdf["m"].to_numpy(dtype="int64")
    # union-find over the contraction roots only (tiny)
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(
        cpdf["cu"].to_numpy(dtype="int64"), cpdf["cv"].to_numpy(dtype="int64")
    ):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    if parent:
        label = {r: find(r) for r in list(parent)}
        comp = np.array([label.get(int(x), int(x)) for x in mu], dtype="int64")
    else:
        comp = mu
    out = pd.DataFrame({"node": node, "component": comp})
    return spark.createDataFrame(out, schema="node long, component long")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    assume_distinct: bool = False,
) -> DataFrame:
    """Label every node of the (undirected) edge set with its component's
    MINIMUM node id.  Returns (node, component); every node appearing in
    ``edges`` gets a row (isolated nodes never enter the edge set — union
    them in at the call site if needed).

    Convergence is detected by the edge multiset reaching a fixpoint
    (checksum + count — two cheap aggregations per round, the same
    O(rounds) driver actions any iterative algorithm needs).  Raises if
    ``max_iter`` rounds don't converge (O(log^2 n) expected; default 30
    covers graphs far beyond any realistic corpus).

    Three paths, chosen by the size gates of ``gates.CAPS``:

    - ``cc_driver_edges``: at or below this edge count the closure runs
      as a driver-local vectorized union-find instead of the distributed
      loop (the broadcast-join-style adaptive cutoff — below it the
      loop's cost is pure per-round job latency; 2M edges resolve in
      numpy in a few hundred ms, vs seconds of round latency).
    - ``cc_contract_nodes`` (r8): when the edge set is too big for the
      driver but the NODE count fits a broadcast, one exact
      star-contraction collapses the graph map-side — the edges are never
      shuffled — and a driver union-find finishes on the tiny contracted
      graph (see :func:`_contracted_components`; at sf1.0 the 25.8M-edge
      near-clique pair graph contracts to a few hundred edges: 13-25 s of
      star rounds became ~4 s).  Driver state is O(nodes), not O(edges);
      a contracted graph over ``cc_contracted_edges`` falls through.
    - otherwise (billions of NODES) the distributed star loop runs.

    All three paths are tested identical."""
    # checkpoint the entry edges ONCE: _sym references them twice (union
    # of both orientations), and the caller's edge relation is typically
    # an expensive LSH-pairs pipeline — without this it is planned and
    # executed twice in round 1 (the r2 recomputed-subtree anti-pattern).
    # ``assume_distinct`` (r8): a caller whose pair relation is ALREADY
    # distinct and materialized (e.g. the shared checkpointed jaccard
    # pairs) skips the redundant O(E) dedup shuffle + re-checkpoint —
    # re-scanning its checkpoint per reference is cheaper than rewriting
    # the relation.
    sel = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    if assume_distinct:
        e = sel
        entry_ckpt = None
    else:
        e = sel.distinct().localCheckpoint(eager=True)
        entry_ckpt = e
    # adaptive small-side path: the count is a cheap aggregation over the
    # materialized checkpoint
    if gates.fits("cc_driver_edges", e.count()):
        out = _driver_components(edges.sparkSession, e)
        if entry_ckpt is not None:
            entry_ckpt.unpersist()
        return out
    # node-count gate: m is one map-side-combinable aggregation; its row
    # count IS the node count
    m = (
        _sym(e)
        .groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
        .localCheckpoint(eager=True)
    )
    if gates.fits("cc_contract_nodes", m.count()):
        out = _contracted_components(edges.sparkSession, e, m)
        if out is not None:
            m.unpersist()
            if entry_ckpt is not None:
                entry_ckpt.unpersist()
            return out
    m.unpersist()

    def _sig(df: DataFrame):
        # count + xor of row hashes: an order-insensitive set signature
        # (xor, not sum — sum overflows bigint under ANSI mode)
        r = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        return r.n, r.h

    prev = None
    # seeded with the entry checkpoint so its blocks are freed as soon as
    # round 1 materializes (nothing references the raw edges after that)
    prev_ckpts: list[DataFrame] = [c for c in (entry_ckpt,) if c is not None]
    for _ in range(max_iter):
        # both star outputs are eagerly checkpointed: each feeds the next
        # star's multiple references (min + join), and a lazy persist in
        # place of the first checkpoint measured ~30% slower per round
        # (BENCH/BASELINE.md negative results).  Small-star consumes the
        # large-star output directly (already src>dst oriented — see
        # _small_star), so only large-star pays the _sym union+distinct.
        lg = _large_star(_sym(e)).distinct().localCheckpoint(eager=True)
        # LAZY checkpoint: the _sig aggregation below is the materializing
        # action, so checkpoint-write and convergence-check share ONE
        # Spark job instead of two (eager ckpt + collect) — measured ~25%
        # off round latency at sf0.1.  (Distinct from the recorded
        # negative result on lazily persisting lg: lg has TWO downstream
        # consumers inside the same round, e has one action then reuse.)
        e = _small_star(lg).distinct().localCheckpoint(eager=False)
        cur = _sig(e)
        # this round is materialized — free the previous round's blocks
        # (and the intermediate) so executor storage stays O(1) rounds,
        # not O(rounds) (lingering blocks inflated later bench queries)
        for old in prev_ckpts:
            old.unpersist()
        lg.unpersist()
        prev_ckpts = [e]
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # at the fixpoint every edge is (node, component-min); nodes that ARE
    # a component min appear only as dst — give them their own label
    nodes = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    mins = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return (
        nodes.unionByName(mins)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    **cc_kwargs,
) -> DataFrame:
    """Collapse near-dup PAIRS into clusters over the full corpus: every
    doc gets (doc_id, cluster, is_keeper).  Docs in no pair form singleton
    clusters; the keeper is the cluster's min doc_id (first-wins, matching
    exact_dedup / tile-merge semantics).  This is the last stage of the
    dedup pipeline: filter ``is_keeper`` to materialize the deduplicated
    corpus."""
    comp = connected_components(pairs, src=a_col, dst=b_col, **cc_kwargs)
    out = docs.select(F.col(id_col).alias("node")).join(comp, "node", "left")
    return out.select(
        F.col("node").alias(id_col),
        F.coalesce("component", "node").alias("cluster"),
        (F.coalesce("component", "node") == F.col("node")).alias("is_keeper"),
    )
