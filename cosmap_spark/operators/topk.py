"""The engine's ONE local-top-k kernel — the total-order contract in
a single place.

Every bounded-exchange top-k in the engine (the ADC scorer's per-batch
partial, ``knn_ivfpq``'s scorer partial, ``grouped_topk``, the MaxSim
kernels) follows the same discipline: a per-batch LOCAL
top-k prunes each partition to ≤ groups·k candidates before the keyed
window ranks globally, so the shuffle carries O(partitions·groups·k)
rows instead of every row.  That is exact ONLY when the local prune
uses the SAME TOTAL order as the global window: under a partial order
a batch keeps an arbitrary member of each boundary tie, and the window
cannot recover a candidate a batch already dropped — results become
partition-layout dependent (the repo-wide local-top-k rule, learned
once per kernel before this module unified them).

Two forms, one contract:

* :func:`topk_pandas` — the general pandas form: any column mix,
  Spark's NULL ordering (asc → nulls first, desc → nulls last)
  reproduced via SUCCESSIVE stable sorts least-significant key first,
  because pandas ``sort_values`` has ONE ``na_position`` for ALL sort
  columns and a window mixing ``desc_nulls_last`` with
  ``asc_nulls_first`` ties cannot be expressed in one call (the
  ``grouped_topk`` fix, CLAUDE.md).
* :func:`topk_indices` — the numpy fast path for all-ascending
  NUMERIC orders inside per-query inner loops (the ADC scorer), where
  building a pandas frame per call would dominate: one ``lexsort``,
  no NULL handling (callers guarantee non-null numerics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def topk_pandas(
    pdf: pd.DataFrame,
    group_keys: list[str],
    order: list[tuple[str, bool]],
    k: int,
) -> pd.DataFrame:
    """Top-``k`` rows (per group when ``group_keys``) under the TOTAL
    order given by ``order`` = [(column, ascending), ...] most-
    significant first.  The caller must make the order total (include
    a unique tie column) — that requirement is the whole point of
    this module.  NULLs follow Spark's window default: ascending →
    nulls first, descending → nulls last, per column.  NULL group
    keys form their own group (``dropna=False``) — mind the Arrow
    int64-with-nulls→float64 widening caveat (CLAUDE.md)."""
    for col, asc in reversed(order):
        pdf = pdf.sort_values(
            col, ascending=asc,
            na_position="first" if asc else "last", kind="stable",
        )
    if group_keys:
        return pdf.groupby(group_keys, sort=False, dropna=False).head(k)
    return pdf.head(k)


def topk_indices(order_arrays: tuple[np.ndarray, ...], k: int) -> np.ndarray:
    """Indices of the k smallest rows under the all-ASCENDING total
    order over ``order_arrays`` (most-significant array FIRST —
    lexsort's convention is reversed internally).  Numeric non-null
    arrays only; the inner-loop twin of :func:`topk_pandas`."""
    return np.lexsort(tuple(reversed(order_arrays)))[:k]
