"""Skew-mitigation operator tests: salted aggregation and replicated
broadcast join must be RESULT-identical to their plain counterparts
(salting changes the shuffle layout, never the answer), plus the capped
shingle candidate generation and the planner's choice of cone-join plan."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cosmap_spark.operators.skew import replicated_broadcast_join, salted_agg
from cosmap_spark.tables import load_table


def test_salted_agg_equals_plain_agg(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    plain = {
        (r["user_id"]): (r["n"], round(r["total"], 4), r["mx"])
        for r in ev.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("mx"),
        ).collect()
    }
    salted = {
        (r["user_id"]): (r["n"], round(r["total"], 4), r["mx"])
        for r in salted_agg(
            ev, ["user_id"],
            {
                "n": (F.count("*"), F.sum("n")),
                "total": (F.sum("value"), F.sum("total")),
                "mx": (F.max("value"), F.max("mx")),
            },
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_replicated_broadcast_join_equals_plain(spark):
    o = load_table(spark, "/root/testdata/sf0.001", "orders").withColumnRenamed(
        "o_custkey", "k"
    )
    c = load_table(spark, "/root/testdata/sf0.001", "customer").withColumnRenamed(
        "c_custkey", "k"
    )
    plain = sorted(
        (r["o_orderkey"], r["c_name"])
        for r in o.join(c, "k").select("o_orderkey", "c_name").collect()
    )
    salted = sorted(
        (r["o_orderkey"], r["c_name"])
        for r in replicated_broadcast_join(o, c, "k", n_salts=4)
        .select("o_orderkey", "c_name").collect()
    )
    assert salted == plain


def test_ngram_cap_keeps_jaccard_exact(spark):
    """With a DF cap no shingle actually exceeds (this corpus: max df
    ≈ 11 < 50), the capped path must be byte-identical to the uncapped
    exact Jaccard — the ledger-binding regime.  (When hot shingles DO
    exist they are dropped from both sides of the ratio; that regime is
    covered by test_ngram_cap_stop_shingle_semantics.)"""
    from cosmap_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs = docs.unionByName(
        docs.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        )
    )
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.9, max_shingle_df=50).collect()
    }
    # exact copies (jaccard 1.0) survive the cap and keep exact scores
    for i in range(5):
        assert capped.get((i, i + 10000)) == 1.0
    for pair, j in capped.items():
        assert full[pair] == j


def _r2_sky(spark, n):
    """``n`` catalog points area-uniform on the sphere (the R2
    low-discrepancy sequence in (ra, sin dec))."""
    return spark.range(1, n + 1).selectExpr(
        "id AS object_id",
        "(id * 0.7548776662466927D) % 1.0D * 360.0D AS ra",
        "degrees(asin(2.0D * ((id * 0.5698402909980532D) % 1.0D) - 1.0D)) AS dec",
    )


def test_cone_search_join_is_the_planners_choice(spark):
    """The cone join carries no hint, so the planner builds whichever
    side is smaller (the exploded samples at benchmark size, the
    catalog when the cones outnumber it) and falls back to a shuffled
    join on the (zone, sector) cell when broadcasting is off.  Every
    regime returns exactly the brute-force pairs and separations."""
    from cosmap_spark.operators.cone_search import cone_search, cone_search_bruteforce
    from cosmap_spark.operators.sampler import uniform_sphere_samples

    keys = r"\[__zone#\d+L, __sector#\d+L\], \[__s_zone#\d+L, __s_sector#\d+L\], Inner"
    few_cones = (_r2_sky(spark, 20_000), uniform_sphere_samples(spark, 40, seed=3, radius_deg=2.0))
    many_cones = (_r2_sky(spark, 300), uniform_sphere_samples(spark, 5_000, seed=4, radius_deg=2.0))
    regimes = [
        ("samples smaller", few_cones, "10485760", rf"BroadcastHashJoin {keys}, BuildRight"),
        ("catalog smaller", many_cones, "10485760", rf"BroadcastHashJoin {keys}, BuildLeft"),
        ("no broadcast", many_cones, "-1", rf"(SortMergeJoin|ShuffledHashJoin) {keys}"),
    ]

    def triples(df):
        return sorted((r["sample_id"], r["object_id"], r["sep_deg"]) for r in df.collect())

    conf = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for name, (cat, smp), threshold, plan_shape in regimes:
            want = triples(cone_search_bruteforce(cat, smp))
            for k in conf:
                spark.conf.set(k, threshold)
            joined = cone_search(cat, smp)
            assert want and triples(joined) == want, name
            plan = joined._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
            assert re.search(plan_shape, plan), (name, plan)
            assert "NestedLoop" not in plan and "Cartesian" not in plan, name
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_HEAP_CAP_RUN = """
import sys
from cosmap_spark.operators.cone_search import cone_search
from cosmap_spark.operators.sampler import _hash_uniform_sql, uniform_sphere_samples
from cosmap_spark.session import get_spark

catalog_path, pairs_path = sys.argv[1:]
spark = get_spark("cone-heap-cap", master="local[4]", extra_conf={
    "spark.driver.memory": "1g", "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "4",
})
spark.sparkContext.setLogLevel("ERROR")
spark.range(400_000).selectExpr(
    "id AS object_id",
    f"{_hash_uniform_sql('id', 11, 1)} * 360.0D AS ra",
    f"degrees(asin({_hash_uniform_sql('id', 11, 2)} * 2.0D - 1.0D)) AS dec",
).write.parquet(catalog_path)
samples = uniform_sphere_samples(spark, 3_000_000, seed=1, radius_deg=0.5, dec_bounds=(-20.0, 20.0))
cone_search(spark.read.parquet(catalog_path), samples).select(
    "sample_id", "object_id"
).write.parquet(pairs_path)
"""


def test_cone_search_3m_cones_complete_at_1g_heap(spark, tmp_path):
    """3M cones of 0.5° against a 400k-object catalog, at a 1 GiB
    driver heap on local[4]: the exploded samples side does not fit a
    broadcast there, and with no hint the planner builds the catalog
    side instead, so the run completes.  A seeded subset of 50 samples
    returns exactly the brute-force pairs."""
    import os
    import random
    import subprocess
    import sys

    from cosmap_spark.operators.cone_search import cone_search_bruteforce
    from cosmap_spark.operators.sampler import uniform_sphere_samples

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    catalog_path, pairs_path = str(tmp_path / "catalog"), str(tmp_path / "pairs")
    proc = subprocess.run(
        [sys.executable, "-c", _HEAP_CAP_RUN, catalog_path, pairs_path],
        cwd=root, env={**os.environ, "PYTHONPATH": root},
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    subset = random.Random(12).sample(range(3_000_000), 50)
    samples = uniform_sphere_samples(
        spark, 3_000_000, seed=1, radius_deg=0.5, dec_bounds=(-20.0, 20.0)
    ).where(F.col("sample_id").isin(subset))
    want = sorted(
        (r["sample_id"], r["object_id"])
        for r in cone_search_bruteforce(spark.read.parquet(catalog_path), samples).collect()
    )
    got = sorted(
        (r["sample_id"], r["object_id"])
        for r in spark.read.parquet(pairs_path).where(F.col("sample_id").isin(subset)).collect()
    )
    assert want and got == want


def test_replicated_join_rejects_right_preserving_how(spark):
    """Right/full outer would emit unmatched small-side rows once per
    salt replica — the operator must refuse instead of silently
    multiplying output rows."""
    import pytest

    o = load_table(spark, "/root/testdata/sf0.001", "orders").withColumnRenamed(
        "o_custkey", "k"
    )
    c = load_table(spark, "/root/testdata/sf0.001", "customer").withColumnRenamed(
        "c_custkey", "k"
    )
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            replicated_broadcast_join(o, c, "k", how=how)
    # left-preserving joins still work
    n_semi = replicated_broadcast_join(o, c, "k", how="leftsemi").count()
    assert n_semi == o.join(c, "k", "leftsemi").count()


def test_ngram_cap_stop_shingle_semantics(spark):
    """When a shingle's document frequency exceeds the cap it is a STOP
    shingle: excluded from both the intersection and the union, so the
    reported value is the exact Jaccard of the capped shingle sets."""
    from cosmap_spark.operators.dedup import ngram_jaccard_pairs

    # "w x y z" contributes shingles shared by ALL 4 docs (df=4 > cap=3);
    # the distinct tails make each pair's rare overlap empty except 1<->2
    docs = spark.createDataFrame(
        [
            (1, "w x y z a1 b1 c1 d1"),
            (2, "w x y z a1 b1 c1 d2"),
            (3, "w x y z a3 b3 c3 d3"),
            (4, "w x y z a4 b4 c4 d4"),
        ],
        "doc_id long, text string",
    )
    capped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(docs, threshold=0.01, max_shingle_df=3).collect()
    }
    # doc1/doc2 rare shingles: doc1 tail {z a1 b1, a1 b1 c1, b1 c1 d1},
    # doc2 tail {z a1 b1, a1 b1 c1, b1 c1 d2} plus the df<=3 boundary
    # shingles "y z a1" (df=2, kept): intersection {y z a1, z a1 b1,
    # a1 b1 c1} = 3, union = 3 + 1 + 1 = 5
    assert capped == {(1, 2): 0.6}
    # uncapped exact includes the hot shingles: inter 5 of 8/8 → many pairs
    full = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    assert len(full) == 6  # every pair shares the hot prefix


# --- pair metrics / threshold sweep (operators/report.py) -----------------


def test_pair_metrics_counts(spark):
    from cosmap_spark.operators.report import pair_metrics

    cand = spark.createDataFrame(
        [(1, 2), (3, 4), (6, 5), (7, 8)], "id_a long, id_b long"
    )
    truth = spark.createDataFrame(
        [(2, 1), (5, 6), (9, 10)], "id_a long, id_b long"
    )
    r = pair_metrics(cand, truth).collect()[0]
    assert (r["tp"], r["fp"], r["fn"]) == (2, 2, 1)
    assert r["precision"] == 0.5 and r["recall"] == pytest.approx(2 / 3)
    assert r["f1"] == pytest.approx(2 * 0.5 * (2 / 3) / (0.5 + 2 / 3), abs=1e-6)


def test_pair_metrics_orientation_and_dupes(spark):
    from cosmap_spark.operators.report import pair_metrics

    cand = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2)], "id_a long, id_b long"
    )
    truth = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = pair_metrics(cand, truth).collect()[0]
    assert r["n_candidates"] == 1 and r["precision"] == 1.0


def test_threshold_sweep_one_pass(spark):
    from cosmap_spark.operators.report import threshold_sweep

    scored = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.7), (5, 6, 0.5), (7, 8, 0.3)],
        "id_a long, id_b long, score double",
    )
    truth = spark.createDataFrame(
        [(1, 2), (5, 6)], "id_a long, id_b long"
    )
    rows = threshold_sweep(
        scored, truth, [0.2, 0.6, 0.8]
    ).collect()
    by_t = {r["threshold"]: r for r in rows}
    assert by_t[0.2]["kept"] == 4 and by_t[0.2]["recall"] == 1.0
    assert by_t[0.6]["kept"] == 2 and by_t[0.6]["tp"] == 1
    assert by_t[0.8]["kept"] == 1 and by_t[0.8]["precision"] == 1.0
    # recall is non-increasing as the cut tightens
    rs = [r["recall"] for r in rows]
    assert rs == sorted(rs, reverse=True)
    # distance-style scores: lower is better flips the direction
    rows_lo = threshold_sweep(
        scored, truth, [0.4], higher_is_better=False
    ).collect()
    assert rows_lo[0]["kept"] == 1 and rows_lo[0]["tp"] == 0


def test_sweep_tunes_a_real_operator(spark):
    """End-to-end: sweep SemDeDup thresholds against brute-force truth
    on planted twins — the tuning loop this tool exists for."""
    from cosmap_spark.functions.vectors import cosine_similarity
    from cosmap_spark.operators.knn import semantic_dedup_pairs
    from cosmap_spark.operators.report import threshold_sweep
    from cosmap_spark.queries.llm_ops import _with_planted_twins
    from cosmap_spark.tables import load_table

    emb = _with_planted_twins(
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ).cache()
    a, b = emb.alias("a"), emb.alias("b")
    truth = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_similarity(
                F.col("a.embedding"), F.col("b.embedding")
            ).alias("sim"),
        )
        .where(F.col("sim") >= 0.9)
    )
    pairs = semantic_dedup_pairs(emb, threshold=0.9, nlist=8).select(
        "id_a", "id_b", F.col("sim").alias("score")
    )
    rows = threshold_sweep(pairs, truth, [0.9, 0.95, 0.99]).collect()
    assert rows[0]["precision"] == 1.0  # exact-cosine verify: no FPs
    assert rows[0]["recall"] > 0.5 and rows[0]["tp"] > 0


def test_grouped_topk_matches_window_and_bounds_exchange(spark):
    """grouped_topk equals the plain keyed-window top-k exactly —
    duplicate order values (ties) and NULL order values included,
    across partition layouts — and the window's input is PRUNED to
    candidate rows, never the full table."""
    from cosmap_spark.operators.skew import grouped_topk

    rows = spark.range(6_000).select(
        (F.col("id") % 7).alias("g"),
        # heavy ties: only 10 distinct scores; some NULLs
        F.when(F.col("id") % 41 == 0, None)
        .otherwise((F.col("id") % 10).cast("double")).alias("score"),
        F.col("id").alias("uid"),
    )

    from pyspark.sql import Window

    def plain(df, asc):
        order = (F.col("score").asc_nulls_first() if asc
                 else F.col("score").desc_nulls_last())
        w = Window.partitionBy("g").orderBy(order, F.col("uid").asc())
        return df.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= 5
        )

    for asc in (False, True):
        want = sorted(map(tuple, plain(rows, asc).collect()))
        for nparts in (1, 13):
            got = sorted(map(tuple, grouped_topk(
                rows.repartition(nparts), ["g"], "score",
                k=5, ascending=asc, tie_cols=["uid"],
            ).collect()))
            assert got == want, (asc, nparts)
    out = grouped_topk(
        rows.repartition(13), ["g"], "score", k=5, tie_cols=["uid"]
    )
    assert out.count() == 7 * 5
    # the plan prunes BEFORE the window: an ArrowEvalPython/ MapInPandas
    # node sits below the window sort, so the exchange carries candidate
    # rows (≤ partitions·groups·k), never the full table
    plan = out._jdf.queryExecution().executedPlan().toString()         .split("== Initial Plan ==")[0]
    assert "MapInPandas" in plan and "Window" in plan
    assert plan.index("Window") < plan.index("MapInPandas")  # Window ABOVE
    with pytest.raises(ValueError, match="tie_cols"):
        grouped_topk(rows, ["g"], "score", k=5, tie_cols=[])


def test_grouped_topk_null_tie_descending_layout_independent(spark):
    """Descending order with NULLs in the TIE column: the local prune
    must keep the row the global window ranks first (tie cols sort
    asc_nulls_first regardless of the order col's direction)."""
    from cosmap_spark.operators.skew import grouped_topk

    rows = [(1, 5.0, None), (1, 5.0, 1), (1, 3.0, 2), (2, 7.0, 3)]
    df = spark.createDataFrame(rows, "g long, x double, tid int")
    want = [(1, 5.0, None), (2, 7.0, 3)]
    for layout in (df.repartition(4), df.repartition(1), df.repartition(2, "tid")):
        got = sorted(
            ((r["g"], r["x"], r["tid"])
             for r in grouped_topk(
                 layout, ["g"], "x", k=1, ascending=False, tie_cols=["tid"]
             ).collect()),
            key=lambda t: t[0],
        )
        assert got == want, got


def test_shared_topk_kernel_contract():
    """operators.topk — the one local-top-k: NULL placement mirrors
    Spark's window defaults per column (asc→first, desc→last), string
    ids order by code point, and the numpy fast path agrees with the
    pandas form on numeric all-ascending orders."""
    import numpy as np
    import pandas as pd

    from cosmap_spark.operators.topk import topk_indices, topk_pandas

    pdf = pd.DataFrame({
        "g": [1, 1, 1, 1, 2, 2],
        "s": [5.0, None, 5.0, 1.0, 2.0, None],
        "t": ["b", "a", "a", "c", "x", "y"],
    })
    # desc score (nulls last), tie asc: group 1 keeps the two 5.0s,
    # tied rows resolved by t asc ("a" before "b"); NULL s never beats
    # a real score
    out = topk_pandas(pdf, ["g"], [("s", False), ("t", True)], 2)
    got = [(r.g, r.s, r.t) for r in out.itertuples()]
    assert (1, 5.0, "a") in got and (1, 5.0, "b") in got
    assert (2, 2.0, "x") in got
    assert all(not (g == 1 and pd.isna(s)) for g, s, _ in got)
    # asc with nulls-first: the NULL row wins ascending order
    out2 = topk_pandas(pdf, ["g"], [("s", True), ("t", True)], 1)
    assert [(r.g, r.t) for r in out2.itertuples() if r.g == 1] == [(1, "a")]
    # ungrouped + numpy twin
    d = np.array([3.0, 1.0, 1.0, 2.0])
    i = np.array([9, 7, 4, 1])
    idx = topk_indices((d, i), 2)
    assert list(idx) == [2, 1]  # dist 1.0 tie -> smaller id first
    flat = topk_pandas(
        pd.DataFrame({"d": d, "i": i}), [], [("d", True), ("i", True)], 2
    )
    assert [(r.d, r.i) for r in flat.itertuples()] == [(1.0, 4), (1.0, 7)]
