"""Candidate pairs: the two shapes every near-duplicate operator of
:mod:`.similarity` and :mod:`.textops` builds its candidates with.

- :func:`self_join` — the bucket self-join: a relation joined to its own
  alias on blocking keys with ``a < b`` (the reference's map-to-keys,
  equi-join, refine-exactly join; SURVEY §2.3);
- :func:`upper_pairs` — the in-group pair scan: every pair of one
  group's rows scored in row chunks against the whole group, inside an
  ``applyInPandas`` (the dense paths that replace the self-join when a
  group is small enough to score all-pairs).

Both take their differences as arguments (keys, extra predicates,
carried columns, the broadcast decision; the score, the keep rule and
the chunk size), never the name of the operator that calls them.
"""

from __future__ import annotations

import functools
import operator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def self_join(
    df: DataFrame,
    keys,
    ids=("doc_a", "doc_b"),
    id_col: str = "doc_id",
    on=(),
    carry=(),
    broadcast: bool = False,
) -> DataFrame:
    """Every pair of ``df`` rows (aliased ``x`` and ``y``) equal on
    ``keys`` with ``x.id_col < y.id_col`` and every predicate of ``on``
    (columns over the two aliases) -> (ids[0], ids[1], then each
    ``carry`` column of x and of y, suffixed ``_a`` / ``_b``).  One row
    per matching row pair: callers that need distinct pairs add their own
    ``.distinct()``.  ``broadcast`` (a caller's gate decision) hints the
    ``y`` side, which keeps the equi-join map-side and drops both its
    exchanges (guide §3.1)."""
    x, y = df.alias("x"), df.alias("y")
    if broadcast:
        y = F.broadcast(y)
    cond = [F.col(f"x.{k}") == F.col(f"y.{k}") for k in keys]
    cond += [F.col(f"x.{id_col}") < F.col(f"y.{id_col}"), *on]
    return x.join(y, functools.reduce(operator.and_, cond)).select(
        F.col(f"x.{id_col}").alias(ids[0]),
        F.col(f"y.{id_col}").alias(ids[1]),
        *[F.col(f"{s}.{c}").alias(f"{c}_{t}") for c in carry for s, t in (("x", "a"), ("y", "b"))],
    )


def upper_pairs(ids: np.ndarray, score, keep, chunk: int):
    """The in-group pair scan over one group of ``n >= 1`` rows sorted
    by ``ids``: ``score(lo, hi)`` gives the (hi - lo, n) scores of rows
    lo..hi-1 against every row, ``keep`` the boolean mask of the scores
    to emit, and ``chunk`` the rows scored at a time (which bounds the
    scan's memory to chunk x n scores).  Returns the kept pairs of the
    upper triangle as arrays (a, b, score), a < b in the sorted order."""
    out_a, out_b, out_s = [], [], []
    for lo in range(0, len(ids), chunk):
        S = score(lo, min(lo + chunk, len(ids)))
        rows, cols = np.nonzero(keep(S))
        upper = (rows + lo) < cols
        rows, cols = rows[upper], cols[upper]
        out_a.append(ids[rows + lo])
        out_b.append(ids[cols])
        out_s.append(S[rows, cols])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_s)
