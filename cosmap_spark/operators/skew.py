"""Skew-mitigation operators: salted aggregation and salted broadcast join.

AQE's skew-join splitting handles most shuffle skew at runtime; these
explicit tools cover the two cases AQE cannot:

* ``salted_agg`` — a groupBy where a handful of hot keys dominate (the
  classic zipfian user_id): pre-aggregate on (key, salt) first, then
  combine the ≤ n_salts partials per key.  Two small shuffles instead of
  one skewed one; correct for any algebraic aggregate (sum/count/min/max
  — pass the combine expressions).
* ``replicated_broadcast_join`` — a broadcast join where the STREAM side
  is skewed is already fine (no shuffle); the problem case is a shuffle
  join with hot keys.  We replicate the small side n_salts× and salt the
  big side, so one hot key spreads over n_salts reducers.

* ``grouped_topk`` — top-k per key with a BOUNDED exchange: an Arrow
  per-batch local top-k (under a caller-supplied TOTAL order) prunes
  each partition to ≤ groups·k candidates before the keyed window —
  the reusable form of the ADC scorer's partial-top-k discipline.

Exposed for user pipelines over zipfian data; the engine's own ledger
plans avoid these shuffles by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, Column]],
    *,
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column name → (partial_agg_expr, final_agg_expr)
    where the partial runs per (keys, salt) and the final combines the
    partials per keys, e.g.::

        salted_agg(ev, ["user_id"], {
            "n":     (F.count("*"),      F.sum("n")),
            "total": (F.sum("value"),    F.sum("total")),
            "mx":    (F.max("value"),    F.max("mx")),
        })

    ``salt_source`` defaults to a deterministic hash of all columns is
    not possible generically, so we use a per-row uniform derived from
    ``spark_partition_id`` + monotonic id — even spread, no extra input.
    """
    salt = (
        F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts))
        if salt_source
        else F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*[expr.alias(name) for name, (expr, _) in aggs.items()])
    )
    return partial.groupBy(*keys).agg(
        *[final.alias(name) for name, (_, final) in aggs.items()]
    )


def replicated_broadcast_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the big side, replicate the small side.

    big gets ``salt = hash(row) % n``; small explodes to all n salts; the
    join key becomes (on, salt) — a hot key's rows land on n different
    reducers instead of one.  With the small side also broadcast, this
    composes into a skew-proof broadcast join for when the small side is
    near the broadcast limit and Catalyst falls back to shuffle.

    Only left-preserving joins are valid: each big row carries exactly
    ONE salt, so inner/left/semi/anti semantics are unchanged — but an
    unmatched small-side row exists once PER REPLICA, so right/full outer
    joins would emit it n_salts times.  Those are rejected."""
    allowed = {
        "inner", "left", "leftouter", "left_outer",
        "semi", "leftsemi", "left_semi",
        "anti", "leftanti", "left_anti",
    }
    if how.lower() not in allowed:
        raise ValueError(
            f"replicated_broadcast_join supports left-preserving joins only "
            f"(inner/left/semi/anti); got how={how!r} — a right/full outer "
            f"join would duplicate unmatched small-side rows per salt replica"
        )
    big_s = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salts)]))
    )
    out = big_s.join(F.broadcast(small_s), [on, "__salt"], how)
    return out.drop("__salt")


def grouped_topk(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    *,
    k: int,
    ascending: bool = False,
    tie_cols: list[str],
    rn_col: str = "rn",
) -> DataFrame:
    """Top-``k`` rows per key group with a BOUNDED exchange — the
    reusable form of the engine's partial-top-k discipline (the ADC
    scorer / ``pq.knn_ivfpq`` scorer pattern): an Arrow per-batch local
    top-k prunes each partition to ≤ groups·k candidate rows BEFORE
    the keyed window ranks globally, so the shuffle carries
    O(partitions·groups·k) rows instead of every row.  A plain
    ``row_number() ≤ k`` window shuffles the entire table; at 100 TB
    with k=10 that is the difference between a bounded exchange and
    the full corpus.

    ``tie_cols`` is REQUIRED and must make (order_col, *tie_cols) a
    TOTAL order (e.g. a unique id): a local top-k under a partial
    order keeps an arbitrary member of each boundary tie, and the
    global window cannot recover a candidate a batch already dropped —
    results would become partition-layout dependent (the repo-wide
    local-top-k rule).  Ties always rank ascending.

    NULL discipline: a NULL ``order_col`` sorts FIRST when ascending
    and LAST when descending in BOTH the local prune and the global
    window (Spark's default null ordering, mirrored via pandas
    ``na_position``), so the prune never drops a row the window would
    keep.  NULL keys form their own group (``dropna=False``) — but
    note the Arrow widening caveat: an int64 key column CONTAINING
    nulls arrives in pandas as float64, which collapses distinct keys
    above 2⁵³ (the ``heavy_hitters_sketch`` hazard; cast such keys to
    string first).  Returns the input columns plus ``rn_col``."""
    if not tie_cols:
        raise ValueError(
            "grouped_topk needs tie_cols making (order_col, *tie_cols) a "
            "total order — without it the local prune is partition-layout "
            "dependent on ties; pass a unique id column"
        )
    from cosmap_spark.operators.topk import topk_pandas

    order = [(order_col, ascending)] + [(t, True) for t in tie_cols]

    def prune(batches):
        # successive stable sorts least-significant key first (the
        # shared topk_pandas kernel): pandas' na_position is one value
        # for ALL sort columns, but the window orders tie_cols
        # asc_nulls_FIRST while a descending order_col is
        # desc_nulls_LAST — a single sort_values call cannot express
        # that mix, and using the order col's na_position for the tie
        # columns made the prune drop NULL-tie rows the window ranks
        # first (partition-layout-dependent results on such ties)
        for pdf in batches:
            if not len(pdf):
                continue
            yield topk_pandas(pdf, keys, order, k)

    pruned = df.mapInPandas(prune, df.schema)
    # a DISTINCT name from the kernel's captured `order` list: PySpark
    # happens to pickle the UDF eagerly at the mapInPandas call, but a
    # deferred serialization would hand the closure this Column and
    # break the local prune — never rebind what a kernel captured
    win_order = (
        F.col(order_col).asc_nulls_first()
        if ascending
        else F.col(order_col).desc_nulls_last()
    )
    w = Window.partitionBy(*keys).orderBy(
        win_order, *[F.col(c).asc() for c in tie_cols]
    )
    return pruned.withColumn(rn_col, F.row_number().over(w)).where(
        F.col(rn_col) <= k
    )
