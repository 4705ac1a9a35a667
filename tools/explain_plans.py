"""Dump physical plans for the flagship queries and check the properties
that matter at 100 TB: filter/projection pushdown into the parquet scan,
broadcast joins on the small side, whole-stage codegen coverage, partial
aggregation.  Writes EXPLAINS.md with annotated plan excerpts."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

CHECKS = {
    "scan_filter_project": [r"PushedFilters: \[IsNotNull\(o_orderdate\)", "ReadSchema"],
    # PII scrub: JVM regexp expressions only (no Python workers); the
    # r8 A/B-won scan spread adds exactly ONE round-robin Exchange so the
    # 6 regex passes run on all cores instead of the single-row-group
    # scan's one task (OPTIMIZATION_r08.md §8) — a no-op at production
    # partition counts
    "pii_scrub": [
        "!InPandas|!BatchEvalPython",
        "count<=1:Exchange \\(\\d",
        "count<=2:Scan parquet",  # ONE scan: tree + detail line each list it
    ],
    # stratified sampling: a pushed-down-able narrow filter, nothing else
    "stratified_sample": ["!InPandas|!BatchEvalPython", "!Exchange"],
    # paragraph dedup: one Window keyed by paragraph (first occurrence) +
    # one reassembly aggregation; all JVM-side
    "paragraph_dedup": [
        "Window",
        "HashAggregate|ObjectHashAggregate|SortAggregate",
        "!InPandas|!BatchEvalPython",
    ],
    # range-predicate join -> broadcast nested-loop with the tiny AOI side
    # as build (correct: no equi-key exists; the cell-key variant in
    # operators.joins.pip_join turns this into a BroadcastHashJoin)
    "envelope_pip_join": ["BroadcastNestedLoopJoin Inner BuildRight"],
    "zonal_group_mean": ["BroadcastHashJoin", "partial_avg|partial_"],
    # two HashAggregates around one Exchange = partial+final (map-side combine)
    "cell_assign_agg": [r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"],
    # r8 two-phase top-k: phase 1 per Arrow batch inside MapInPandas
    # (no Q x N pair relation, no crossJoin), one Exchange for the global
    # survivor rank (OPTIMIZATION_r08.md §3 / session-2 cosine_topk)
    "knn_points": [
        "MapInPandas",
        "Window",
        "!BroadcastNestedLoopJoin",
        "count<=1:Exchange \\(\\d",
    ],
    "embedding_knn": [
        "MapInPandas",
        "Window",
        "!BroadcastNestedLoopJoin",
        "count<=1:Exchange \\(\\d",
    ],
    "merge_first_wins": ["Window", "HashAggregate"],
    "topk_orders": ["TakeOrderedAndProject"],
    # exact-jaccard pairs: either the prefix-filtered inverted-index
    # EQUI join (web-scale corpora) or, when the measured-vocabulary gate
    # fires (OPTIMIZATION_r08.md §9 — this corpus), the dense-bitset
    # per-bucket pass (FlatMapGroupsInPandas popcounts, no candidate
    # join at all); NEVER a nested-loop/cartesian all-pairs plan
    "ngram_jaccard": [
        "FlatMapGroupsInPandas|SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!CartesianProduct",
        "!BroadcastNestedLoopJoin",
        "ExistingRDD",
        "count<=0:Scan parquet",
    ],
    # portable MinHash pipeline: entirely JVM-side (no Python workers in
    # the plan); the signature aggregation runs ONCE (checkpointed), so
    # banded + both verify sides read ExistingRDD — zero parquet re-scans
    "minhash_lsh_pairs": [
        "!InPandas|!BatchEvalPython",
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "ExistingRDD",
        "count<=0:Scan parquet",
    ],
    # Catalyst SimHash: the 64-vote aggregation runs ONCE (checkpointed);
    # block rows fan out via a single posexplode Generate, not a 4-way
    # union of re-aggregations — zero parquet re-scans in the plan
    "simhash_near_pairs": [
        "!InPandas|!BatchEvalPython",
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "ExistingRDD",
        "count<=0:Scan parquet",
    ],
    # IVF: corpus hashed once into lists (checkpointed — never re-assigned
    # in-plan); the in-plan Arrow nodes are the query-side cell assign plus
    # the r8 vectorized exact-cosine re-rank (with_cosine, bit-identical to
    # the HOF fold it replaced — OPTIMIZATION_r08.md §7)
    "embedding_ivf_topk": [
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "Window",
        "count<=3:ArrowEvalPython \\(\\d+\\)",
    ],
    # near-dups: BOTH self-join sides read the checkpointed bucket
    # relation — no Arrow bucket UDF in the plan; the single allowed Arrow
    # node is the r8 vectorized exact-cosine verify (with_cosine)
    "embedding_lsh_near_dups": [
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "!CartesianProduct",
        "count<=1:ArrowEvalPython \\(\\d+\\)",
    ],
    # ANN top-k: corpus buckets checkpointed; in-plan Arrow nodes are the
    # (tiny) query-side hashing plus the r8 vectorized exact-cosine re-rank
    "ann_lsh_topk": [
        "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
        "count<=3:ArrowEvalPython \\(\\d+\\)",
    ],
    # decontamination: hashed-shingle EQUI join, JVM-only, never all-pairs
    "contamination_scan": [
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!CartesianProduct",
        "!InPandas|!BatchEvalPython",
    ],
    # one unrolled Lloyd iteration (r8 shape, OPTIMIZATION_r08.md §4):
    # the exact decimal partial+final aggregation runs at CONSTRUCTION
    # (its 8x64 sums collect to the driver, the kmeans_fit precedent), so
    # the returned plan is just the checkpointed rounded base through the
    # vectorized scorer — zero Exchange, zero joins, no row-at-a-time
    # Python (ArrowEvalPython is the vectorized pandas UDF)
    "kmeans_assign": [
        "ArrowEvalPython",
        "!BatchEvalPython",
        "!Exchange",
        "ExistingRDD",
        "count<=0:Scan parquet",
    ],
    # connected components: the returned plan reads the converged edge
    # fixpoint (checkpointed per round) — ExistingRDD, no parquet re-scan
    # adaptive: at sf0.01 the edge count is within the cc_driver_edges
    # cap (gates.CAPS), so the plan is the small-side union-find result
    # (LocalTableScan); the distributed star/star loop (ExistingRDD
    # checkpoints) is forced and verified in tests/test_graph.py by
    # closing that cap
    "dedup_components": ["ExistingRDD|LocalTableScan", "count<=0:Scan parquet"],
    # incremental probe: batch signatures checkpointed once (ExistingRDD),
    # banded equi-joins, all JVM (md5 min-aggregation)
    "incremental_minhash": [
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!InPandas|!BatchEvalPython",
        "ExistingRDD",
    ],
}


def banded_probe_df(spark):
    """The stored-index incremental probe (round-4 O(|new|) shape):
    corpus signatures + pre-banded index in a catalog, a small batch
    probing it.  The plan must show the corpus entering ONLY as parquet
    scans (one for the banded index, one for the verify semi-join) — no
    corpus-wide banded explode, no corpus union+distinct aggregation."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.operators import sigstore, textops

    root = os.path.join(tempfile.gettempdir(), "explain-sigstore")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).localCheckpoint(eager=True)
    sigs = textops.minhash_portable_signatures(corpus, 8).localCheckpoint(eager=True)
    cat.commit(
        {
            sigstore.SIG_BANDS_TABLE: sigstore.stage_sig_bands(
                cat, textops._minhash_banded(sigs, 4, 2), 1024
            ),
            "doc_sigs": cat.stage_spark_write(sigs, "doc_sigs"),
        }
    )
    corpus_sigs = cat.read_spark(spark, "doc_sigs")
    new_sigs = textops.minhash_portable_signatures(batch, 8).localCheckpoint(eager=True)
    nb = textops._minhash_banded(new_sigs, 4, 2)
    pruned = sigstore.probe_sig_bands(spark, cat, nb, 1024)
    return textops.incremental_minhash_pairs(
        batch, corpus_sigs, 8, 4, 0.5, corpus_bands=pruned, new_sigs=new_sigs
    )


# checks for the catalog-backed probe plan (built via banded_probe_df, not
# an entry): corpus touched only via pruned parquet scans; candidates and
# the verify base reach it through broadcast joins (corpus never shuffled)
BANDED_PROBE_CHECKS = [
    # candidates AND the verify base are checkpointed before the returned
    # plan, so the final est-join reads only ExistingRDDs — the corpus was
    # touched exactly once per stored table during their materialization
    "count<=0:Scan parquet  \\(\\d",
    "ExistingRDD",
    "BroadcastHashJoin",
    "!CartesianProduct",
    "!InPandas|!BatchEvalPython",
]


def ngram_pairs_df(spark):
    """The ngram_jaccard entry returns the SHARED pairs checkpoint
    (__spark_entry__._shared_jaccard_pairs), so its own plan collapses to
    an ExistingRDD scan.  Build the underlying prefix-filtered join
    directly (same parameters, no memo) so the equi-join shape is
    visible to the checks."""
    import __spark_entry__ as entry
    from geotrellis_landsat_emr_demo_spark.operators.textops import (
        ngram_jaccard_pairs,
    )

    d = entry._t(spark, SF_DIR, "documents")
    return ngram_jaccard_pairs(
        d, bucket_col="source", min_jaccard=0.7, lowercase=False,
        split_pattern=" ", round_to=3,
    )


def cog_prefilter_df(spark):
    """COG source over a persisted inventory (sources/cog.cog_scenes):
    the AOI envelope predicate must appear as a Catalyst Filter BELOW the
    MapInPandas scan — non-intersecting files are pruned before any file
    I/O happens (SURVEY §2.1 S11)."""
    import __spark_entry__ as entry
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    paths = entry._cog_entry_archive()
    inv = cogsrc.cog_inventory(spark, paths).localCheckpoint(eager=True)
    return cogsrc.cog_scenes(spark, inv, aoi=entry._cog_entry_aoi())


# the envelope prefilter (Catalyst Filter on mxmin/mxmax/...) must sit
# under the python source stage; the scan itself is Python by design
# (RangeReader I/O), so InPandas IS expected here
COG_PREFILTER_CHECKS = [
    r"Filter[\s\S]{0,400}?mxmin",
    "MapInPandas|FlatMapGroupsInPandas|InPandas",
    "!CartesianProduct",
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from geotrellis_landsat_emr_demo_spark.session import build_session

    import __spark_entry__ as entry

    spark = build_session(master="local[8]", shuffle_partitions=8)
    qs = entry.queries()
    out = ["# EXPLAINS — physical-plan evidence\n"]
    out.append(
        "Generated by tools/explain_plans.py. For each flagship query: the\n"
        "plan properties asserted (pushdown / broadcast / codegen / partial\n"
        "agg) and the formatted plan head.\n"
    )
    import re

    ok_all = True
    named = list(CHECKS.items()) + [
        ("incremental_minhash_banded (stored-index probe)", BANDED_PROBE_CHECKS),
        ("cog_scenes_prefilter (inventory envelope pruning)", COG_PREFILTER_CHECKS),
    ]
    for name, patterns in named:
        if name.startswith("incremental_minhash_banded"):
            df = banded_probe_df(spark)
        elif name.startswith("cog_scenes_prefilter"):
            df = cog_prefilter_df(spark)
        elif name == "ngram_jaccard":
            df = ngram_pairs_df(spark)  # un-memoized: join shape visible
        else:
            df = qs[name](spark, SF_DIR)
        plan = plan_of(df)
        out.append(f"\n## {name}\n")
        for pat in patterns:
            if pat.startswith("count<="):
                # "count<=N:pattern": at most N occurrences in the plan —
                # the exchange-reuse evidence (an expensive subtree must
                # appear once, or not at all when checkpointed)
                bound, _, sub = pat[7:].partition(":")
                n = len(re.findall(sub, plan))
                hit = n <= int(bound)
                out.append(
                    f"- `{sub}` x{n} (bound <= {bound}): "
                    f"{'ok' if hit else '**EXCEEDED**'}"
                )
            elif pat.startswith("!"):
                # negated property: pattern (sans '!' markers) must be ABSENT
                neg = "|".join(p.lstrip("!") for p in pat.split("|"))
                hit = not re.search(neg, plan)
                out.append(f"- `NOT {neg}`: {'ABSENT (ok)' if hit else '**PRESENT**'}")
            else:
                hit = bool(re.search(pat, plan))
                out.append(f"- `{pat}`: {'PRESENT' if hit else '**MISSING**'}")
            ok_all &= hit
        head = "\n".join(plan.splitlines()[:40])
        out.append(f"\n```\n{head}\n```\n")
    with open(os.path.join(REPO, "EXPLAINS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAINS.md; all checks present:", ok_all)


if __name__ == "__main__":
    main()
