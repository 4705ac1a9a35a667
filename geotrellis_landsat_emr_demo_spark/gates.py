"""Size gates: the one place the engine chooses between a driver-side or
broadcast fast path and its distributed fallback, or bounds how much one
task takes on (``pyramid_group_levels``).

Every gate is a cap in :data:`CAPS`, named after what it bounds, and is
decided by one of three calls (``jaccard_key_fanout`` alone is a bound
inside the plan, shown by the size of the hot-token set it defines):

- :func:`fits` tests an already measured size (``n <= cap``);
- :func:`collect_upto` owns the ``limit(cap + 1)`` probe: it collects a
  relation to the driver only while it stays within its cap;
- :func:`take` is the truncating read of an ordered relation whose
  fallback is the truncated set itself.

Each decision is one DEBUG record on this module's logger:
``gate=<name> n=<measured size> cap=<cap> branch=<fits|over|capped>``
(``record.args`` holds the same four values).  Tests force a branch with
``monkeypatch.setitem(gates.CAPS, name, value)``.

The caps keep the values the operators were tuned with; the byte figures
are the worst case a cap admits at the engine's data shapes (ids and
hashes int64, 64-dim embeddings).
"""

from __future__ import annotations

import logging

log = logging.getLogger(__name__)

CAPS: dict[str, int] = {
    # -- operators.similarity --
    # query rows collected for cosine_topk's map-side top-k
    # (256 x 64-dim vectors: ~130 KB on the driver)
    "topk_collect_queries": 256,
    # corpus vectors broadcast for lsh_topk's exact re-rank
    "ann_broadcast_vectors": 1_000_000,
    # (id, table, bucket) rows broadcast as one side of
    # lsh_candidate_pairs' bucket self-join: corpus size x tables
    "lsh_broadcast_bucket_rows": 2_000_000,
    # corpus vectors broadcast for lsh_near_dup_pairs' cosine verify
    "lsh_broadcast_vectors": 1_000_000,
    # -- operators.textops --
    # (doc, band, bucket) rows broadcast as one side of
    # minhash_portable_pairs' band self-join: docs x bands
    "minhash_broadcast_band_rows": 2_000_000,
    # signature rows broadcast for minhash_portable_pairs' estimate join
    "minhash_broadcast_signatures": 500_000,
    # (doc, block) rows broadcast as one side of simhash_near_pairs'
    # block self-join: docs x blocks
    "simhash_broadcast_block_rows": 2_000_000,
    # document frequency a cold token may have: tokens above it sort last
    # in ngram_jaccard_pairs' prefix order, bounding every cold join key's
    # fan-out
    "jaccard_key_fanout": 256,
    # hot tokens kept as in-plan literals, hottest first (10k x 8 B)
    "jaccard_hot_tokens": 10_000,
    # the dense bitset path needs every doc within this many tokens,
    "jaccard_dense_doc_tokens": 256,
    # the global vocabulary within this many tokens (1024 x 8 B collected,
    # 16 words of bitmask per doc),
    "jaccard_dense_vocab": 1024,
    # and every bucket within this many docs
    "jaccard_dense_bucket_docs": 200_000,
    # token-set rows broadcast for ngram_jaccard_pairs' verify join
    "jaccard_broadcast_docs": 500_000,
    # -- operators.graph --
    # edges connected_components resolves by a driver union-find
    # (2M edges: 32 MB collected)
    "cc_driver_edges": 2_000_000,
    # nodes whose star-contraction map is broadcast and collected
    # (2M nodes: 32 MB per copy)
    "cc_contract_nodes": 2_000_000,
    # contracted edges collected for the driver union-find
    # (5M edges: 80 MB collected)
    "cc_contracted_edges": 5_000_000,
    # -- operators.ingest --
    # pyramid levels ingest_images builds per shuffle; 0 or 1 builds one
    # level per shuffle.  Not a driver bound but a task bound: one
    # (ancestor, ts) group holds up to 4^k child tiles, at k = 4 that is
    # 256 x ~0.66 MB of decoded u16 (5 bands) plus their Arrow payloads,
    # ~340 MB per task
    "pyramid_group_levels": 4,
}


def _record(name: str, n: int, cap: int, branch: str) -> None:
    log.debug("gate=%s n=%d cap=%d branch=%s", name, n, cap, branch)


def fits(name: str, n: int) -> bool:
    """Whether a measured size ``n`` is within the cap ``name``."""
    cap = CAPS[name]
    ok = n <= cap
    _record(name, n, cap, "fits" if ok else "over")
    return ok


def collect_upto(df, name: str):
    """``df`` as a pandas frame, or None when it holds more rows than the
    cap ``name``.  Only ``cap + 1`` rows ever reach the driver."""
    pdf = df.limit(CAPS[name] + 1).toPandas()
    return pdf if fits(name, len(pdf)) else None


def take(df, name: str) -> list:
    """The first ``cap`` rows of the ordered relation ``df``.  The record
    says ``capped`` when the read came back full, i.e. rows past the cap
    may have been dropped."""
    cap = CAPS[name]
    rows = df.limit(cap).collect()
    _record(name, len(rows), cap, "fits" if len(rows) < cap else "capped")
    return rows
