"""Size gates (gates.py): every cap, forced open and forced closed on a
small input, gives the same output, and the decision record shows which
branch ran.  A static check keeps each cap named at exactly one call site
of the package, so a gate cannot be copied inline or left untested."""

from __future__ import annotations

import ast
import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import bench
from conftest import SCRATCH
from geotrellis_landsat_emr_demo_spark import fixtures, gates
from geotrellis_landsat_emr_demo_spark.catalog import Catalog
from geotrellis_landsat_emr_demo_spark.operators import graph, ingest, similarity, textops

SF = os.path.join(os.path.dirname(bench.SF_DIR), "sf0.001")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "geotrellis_landsat_emr_demo_spark")
OPEN, CLOSED = 1 << 20, 0


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _cosine_topk(spark):
    e = _emb(spark)
    return similarity.cosine_topk(e, e.filter(F.col("vec_id") < 5), k=3)


def _lsh_topk(spark):
    e = _emb(spark)
    return similarity.lsh_topk(e, e.filter(F.col("vec_id") < 5), k=3)


def _lsh_near_dups(spark):
    return similarity.lsh_near_dup_pairs(_emb(spark), threshold=0.3)


def _minhash(spark):
    return textops.minhash_portable_pairs(_docs(spark), threshold=0.3)


def _simhash(spark):
    return textops.simhash_near_pairs(_docs(spark), max_hamming=12)


def _jaccard(spark):
    return textops.ngram_jaccard_pairs(_docs(spark), "source", 0.5, round_to=3)


def _components(spark):
    # a 40-node path (whose star contraction keeps cross-root edges) plus
    # a random sparse graph
    rng = np.random.default_rng(3)
    edges = [(i, i + 1) for i in range(40)] + [
        (int(a), int(b)) for a, b in rng.integers(100, 300, (120, 2)) if a != b
    ]
    return graph.connected_components(
        spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    )


def _pyramid(spark):
    # t-small into an empty catalog, z13 leaves and the pyramid to z9
    root = os.path.join(SCRATCH, "gate-pyramid")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    fixtures.write_all(cat, "t-small")
    ingest.ingest_images(spark, cat, "landsat", max_zoom=13, min_zoom=9)
    return cat.read_spark(spark, "tiles").select(
        "zoom", "x", "y", "ts", "tile", "image_id", "caption", "n_frags"
    )


# cap -> (operator on a small input, caps that make the run reach the gate)
_NO_DENSE = {"jaccard_dense_doc_tokens": CLOSED}
CASES = {
    "topk_collect_queries": (_cosine_topk, {}),
    "ann_broadcast_vectors": (_lsh_topk, {}),
    "lsh_broadcast_bucket_rows": (_lsh_near_dups, {}),
    "lsh_broadcast_vectors": (_lsh_near_dups, {}),
    "minhash_broadcast_band_rows": (_minhash, {}),
    "minhash_broadcast_signatures": (_minhash, {}),
    "simhash_broadcast_block_rows": (_simhash, {}),
    "jaccard_key_fanout": (_jaccard, _NO_DENSE),
    "jaccard_hot_tokens": (_jaccard, {**_NO_DENSE, "jaccard_key_fanout": 1}),
    "jaccard_dense_doc_tokens": (_jaccard, {}),
    "jaccard_dense_vocab": (_jaccard, {}),
    "jaccard_dense_bucket_docs": (_jaccard, {}),
    "jaccard_broadcast_docs": (_jaccard, _NO_DENSE),
    "cc_driver_edges": (_components, {}),
    "cc_contract_nodes": (_components, {"cc_driver_edges": CLOSED}),
    "cc_contracted_edges": (_components, {"cc_driver_edges": CLOSED}),
    "pyramid_group_levels": (_pyramid, {}),
}


def test_every_cap_has_a_case():
    assert set(CASES) == set(gates.CAPS)


def _run(spark, monkeypatch, gate_log, name, cap):
    """The operator's sorted rows with cap ``name`` at ``cap``, and the
    decisions that show its branch."""
    op, reach = CASES[name]
    gate_log.clear()
    with monkeypatch.context() as mp:
        for other, value in {**reach, name: cap}.items():
            mp.setitem(gates.CAPS, other, value)
        rows = sorted(tuple(r) for r in op(spark).collect())
    # the key fan-out is an in-plan bound, not a driver decision: it shows
    # in the size of the hot-token set
    shown_by = "jaccard_hot_tokens" if name == "jaccard_key_fanout" else name
    return rows, gate_log.decisions(shown_by)


@pytest.mark.parametrize("name", sorted(CASES))
def test_gate_branches_give_equal_output(spark, monkeypatch, gate_log, name):
    opened, open_log = _run(spark, monkeypatch, gate_log, name, OPEN)
    closed, closed_log = _run(spark, monkeypatch, gate_log, name, CLOSED)
    assert opened == closed and opened, name
    if name == "jaccard_key_fanout":
        # no token is hot when open, every one when closed
        assert [d[1] for d in open_log] == [0], open_log
        assert len(closed_log) == 1 and closed_log[0][1] > 0, closed_log
        return
    assert open_log and {d[3] for d in open_log} == {"fits"}, open_log
    over = "capped" if name == "jaccard_hot_tokens" else "over"
    assert closed_log and {d[3] for d in closed_log} == {over}, closed_log


def test_lsh_near_dups_count_the_corpus_once(spark, monkeypatch, gate_log):
    """A ``bits=None`` near-dup call counts its input once: the one count
    sizes the hash and decides both broadcast gates.  An explicit ``bits``
    never broadcasts the buckets, so it makes no bucket decision."""
    emb = _emb(spark)
    n = emb.count()
    counted, frame, count = [], type(emb), type(emb).count
    monkeypatch.setattr(frame, "count", lambda df: counted.append(df) or count(df))
    gate_log.clear()
    _lsh_near_dups(spark)
    assert len(counted) == 1
    tables, caps = 8, gates.CAPS
    assert gate_log.decisions("lsh_broadcast_bucket_rows") == [
        ("lsh_broadcast_bucket_rows", n * tables, caps["lsh_broadcast_bucket_rows"], "fits")
    ]
    assert gate_log.decisions("lsh_broadcast_vectors") == [
        ("lsh_broadcast_vectors", n, caps["lsh_broadcast_vectors"], "fits")
    ]
    gate_log.clear()
    similarity.lsh_near_dup_pairs(_emb(spark), threshold=0.3, bits=6)
    assert len(counted) == 2
    assert gate_log.decisions("lsh_broadcast_bucket_rows") == []
    assert [d[3] for d in gate_log.decisions("lsh_broadcast_vectors")] == ["fits"]


def _package_sources():
    for dirpath, _, filenames in os.walk(PACKAGE):
        for f in filenames:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    yield path, ast.parse(fh.read(), filename=path)


def test_each_cap_named_at_one_call_site_and_no_inline_probe():
    sites = {name: [] for name in gates.CAPS}
    probes = []
    for path, tree in _package_sources():
        if os.path.basename(path) == "gates.py":
            continue
        rel = os.path.relpath(path, ROOT)
        for n in ast.walk(tree):
            if isinstance(n, ast.Constant) and n.value in sites:
                sites[n.value].append(f"{rel}:{n.lineno}")
            # a size probe of its own: .limit(<expr> + 1)
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "limit"
                and n.args
                and isinstance(n.args[0], ast.BinOp)
                and isinstance(n.args[0].op, ast.Add)
            ):
                probes.append(f"{rel}:{n.lineno}")
    wrong = {name: where for name, where in sites.items() if len(where) != 1}
    assert not wrong, f"caps not named at exactly one call site: {wrong}"
    assert not probes, f"limit(n + 1) probes outside gates.py: {probes}"
