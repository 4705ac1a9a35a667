"""The in-group pair scan (operators/pairs.upper_pairs) across its chunk
seams.

Both dense near-duplicate paths score a group in row chunks: the cosine
scan of similarity.pairwise_near_dups 2**22 // n rows at a time, the
bitset Jaccard scan of textops.ngram_jaccard_pairs 2**21 // n.  One
group of 3,000 rows makes both scan more than one chunk (3 and 5), with
near-duplicate families spread over every chunk, and each result must
equal an unchunked reference."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geotrellis_landsat_emr_demo_spark import gates
from geotrellis_landsat_emr_demo_spark.operators import similarity, textops

N = 3000


def _families(rng, n_families, size):
    """Row -> family for N rows, family members scattered over the id
    range (so over every chunk)."""
    return rng.permutation(np.repeat(np.arange(n_families), size))[:N]


def _every_chunk_emits(pairs, chunk):
    """Each chunk of rows (ids are row numbers) emits some pair."""
    return {a // chunk for a, _ in pairs} == set(range(-(-N // chunk)))


def test_cosine_scan_chunks_equal_unchunked(spark):
    rng = np.random.default_rng(5)
    fam = _families(rng, 300, 10)
    centers = rng.standard_normal((300, 16))
    V = (centers[fam] + 0.15 * rng.standard_normal((N, 16))).astype("f4")
    V[[17, 2222]] = 0  # zero vectors: NaN cosines pass the threshold
    pdf = pd.DataFrame({"label": "one", "vec_id": np.arange(N), "embedding": list(V)})
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.pairwise_near_dups(
            spark.createDataFrame(pdf), threshold=0.95
        ).collect()
    }
    # unchunked: the whole Gram at once, the same exact fold
    A = V.astype("f8")
    nrm = np.sqrt(similarity._fold(A, A))
    with np.errstate(divide="ignore", invalid="ignore"):
        C = similarity._fold(A[:, None, :], A[None, :, :]) / (nrm[:, None] * nrm[None, :])
    a, b = np.nonzero(np.triu((C >= 0.95) | np.isnan(C), k=1))
    want = {(int(i), int(j)): C[i, j] for i, j in zip(a, b)}
    assert got.keys() == want.keys()
    assert _every_chunk_emits(want, (4 << 20) // N)
    for k, c in want.items():
        g = got[k]
        # a NaN cosine may arrive as null
        assert g == c or (np.isnan(c) and (g is None or np.isnan(g))), (k, g, c)


def test_jaccard_scan_chunks_equal_ppjoin(spark, monkeypatch, gate_log):
    rng = np.random.default_rng(6)
    fam = _families(rng, 300, 10)
    base = [rng.choice(200, 12, replace=False) for _ in range(300)]
    texts = []
    for f in fam:
        toks = base[f].copy()
        # a member swaps up to two of its family's tokens
        toks[rng.integers(12, size=rng.integers(3))] = rng.integers(200, 256)
        texts.append(" ".join(f"t{t}" for t in toks))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(N), "source": "web", "text": texts})
    ).withColumn("doc_id", F.col("doc_id").cast("long"))

    def pairs():
        return {
            (r.doc_a, r.doc_b): r.jaccard
            for r in textops.ngram_jaccard_pairs(docs, "source", 0.5).collect()
        }

    dense = pairs()
    assert gate_log.branches("jaccard_dense_bucket_docs") == {"fits"}
    gate_log.clear()
    monkeypatch.setitem(gates.CAPS, "jaccard_dense_doc_tokens", 0)
    ppjoin = pairs()
    assert gate_log.branches("jaccard_dense_doc_tokens") == {"over"}
    assert dense == ppjoin
    assert _every_chunk_emits(dense, (2 << 20) // N)
