"""Sampler properties: partition-independence (the determinism hazard
rand(seed) has and our hash-seeding avoids), area-uniformity on the
sphere (the reference's stated invariant,
src/cosmap/analysis/sampler.py:87-101 comments), and frame shrinking."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cosmap_spark.operators.sampler import uniform_sphere_samples


def test_deterministic_across_partitionings(spark):
    a = uniform_sphere_samples(spark, 2000, seed=42, num_partitions=1).collect()
    b = uniform_sphere_samples(spark, 2000, seed=42, num_partitions=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_seed_changes_stream(spark):
    a = uniform_sphere_samples(spark, 100, seed=1).collect()
    b = uniform_sphere_samples(spark, 100, seed=2).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, b))


def test_area_uniform_over_sphere(spark):
    """Split the sphere into 10 equal-area dec bands (equal sin(dec)
    slices): expected n/10 per band; allow 5σ binomial deviation."""
    n = 20_000
    df = uniform_sphere_samples(spark, n, seed=42, shrink_frame=False)
    bands = (
        df.select(
            F.floor((F.sin(F.radians("dec")) + 1.0) / 0.2).alias("band")
        )
        .groupBy("band").count().collect()
    )
    counts = {r["band"]: r["count"] for r in bands}
    # band index 10 only for sin(dec)==1 exactly — fold into band 9
    counts[9] = counts.get(9, 0) + counts.pop(10, 0)
    expect = n / 10
    sigma = math.sqrt(n * 0.1 * 0.9)
    assert set(counts) == set(range(10))
    for band, c in counts.items():
        assert abs(c - expect) < 5 * sigma, (band, c)


def test_ra_uniform(spark):
    n = 20_000
    df = uniform_sphere_samples(spark, n, seed=7, shrink_frame=False)
    counts = {
        r["b"]: r["count"]
        for r in df.select(F.floor(F.col("ra") / 36.0).alias("b")).groupBy("b").count().collect()
    }
    expect, sigma = n / 10, math.sqrt(n * 0.1 * 0.9)
    for b, c in counts.items():
        assert abs(c - expect) < 5 * sigma, (b, c)


def test_frame_shrink_keeps_cones_inside(spark):
    df = uniform_sphere_samples(
        spark, 5000, seed=3, radius_deg=5.0,
        ra_bounds=(30.0, 60.0), dec_bounds=(-10.0, 40.0),
    )
    row = df.agg(
        F.min("ra").alias("ra_lo"), F.max("ra").alias("ra_hi"),
        F.min("dec").alias("dec_lo"), F.max("dec").alias("dec_hi"),
    ).collect()[0]
    assert row["ra_lo"] >= 35.0 and row["ra_hi"] <= 55.0
    assert row["dec_lo"] >= -5.0 and row["dec_hi"] <= 35.0


def test_radec_in_range(spark):
    df = uniform_sphere_samples(spark, 2000, seed=11, shrink_frame=False)
    row = df.agg(
        F.min("ra").alias("r0"), F.max("ra").alias("r1"),
        F.min("dec").alias("d0"), F.max("dec").alias("d1"),
    ).collect()[0]
    assert 0.0 <= row["r0"] and row["r1"] < 360.0
    assert -90.0 <= row["d0"] and row["d1"] <= 90.0


def test_deterministic_sample_partition_independent(spark):
    from cosmap_spark.operators.sampler import deterministic_sample
    from cosmap_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id")
    a = {r["doc_id"] for r in deterministic_sample(docs, 0.3, key_cols=["doc_id"]).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(7), 0.3, key_cols=["doc_id"]).collect()
    }
    assert a == b                       # layout-independent
    n = docs.count()
    assert 0.2 * n < len(a) < 0.4 * n   # fraction in tolerance
    # nested-subsample property: smaller fraction is a subset
    c = {r["doc_id"] for r in deterministic_sample(docs, 0.1, key_cols=["doc_id"]).collect()}
    assert c <= a


def test_stratified_sample_rebalances(spark):
    from cosmap_spark.operators.sampler import stratified_sample
    from cosmap_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = stratified_sample(
        docs, {"en": 0.25, "fr": 1.0}, strata_col="lang", key_cols=["doc_id"]
    )
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"en", "fr"}          # absent strata dropped
    assert counts["fr"] == full["fr"]            # fraction 1.0 keeps all
    assert counts["en"] < 0.5 * full["en"]       # dominant stratum downsampled


def test_box_sample_containment_and_determinism(spark):
    from cosmap_spark.operators.sampler import uniform_box_samples

    a = uniform_box_samples(
        spark, 5000, seed=3, width_deg=4.0, height_deg=2.0,
        ra_bounds=(30.0, 60.0), dec_bounds=(-10.0, 40.0), num_partitions=1,
    )
    b = uniform_box_samples(
        spark, 5000, seed=3, width_deg=4.0, height_deg=2.0,
        ra_bounds=(30.0, 60.0), dec_bounds=(-10.0, 40.0), num_partitions=16,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # frame shrink: every WHOLE box inside the requested patch
    row = a.agg(
        F.min("ra_min").alias("r0"), F.max("ra_max").alias("r1"),
        F.min("dec_min").alias("d0"), F.max("dec_max").alias("d1"),
    ).collect()[0]
    assert row["r0"] >= 30.0 and row["r1"] <= 60.0
    assert row["d0"] >= -10.0 and row["d1"] <= 40.0
    # bounds are consistent with the declared extents
    bad = a.where(
        (F.col("ra_max") - F.col("ra_min") - 4.0).cast("double") > 1e-9
    ).count()
    assert bad == 0


def test_box_sample_centers_area_uniform(spark):
    """Centers follow the same (ra, sin dec) area-uniform law as cones."""
    from cosmap_spark.operators.sampler import uniform_box_samples

    n = 20_000
    df = uniform_box_samples(
        spark, n, seed=42, width_deg=0.0, height_deg=0.0, shrink_frame=False
    )
    counts = {
        r["band"]: r["count"]
        for r in df.select(
            F.floor((F.sin(F.radians("dec")) + 1.0) / 0.2).alias("band")
        ).groupBy("band").count().collect()
    }
    counts[9] = counts.get(9, 0) + counts.pop(10, 0)
    expect, sigma = n / 10, math.sqrt(n * 0.1 * 0.9)
    for band, c in counts.items():
        assert abs(c - expect) < 5 * sigma, (band, c)


def test_temperature_mixture_flattens(spark):
    from cosmap_spark.operators.sampler import temperature_mixture

    # 3 sources, 8000 / 1000 / 500 rows — a skewed natural mixture
    df = (
        spark.range(9500)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 8000, "web")
            .when(F.col("id") < 9000, "books")
            .otherwise("code")
            .alias("source"),
        )
    )
    out = temperature_mixture(
        df, source_col="source", key_cols=["doc_id"], alpha=0.5, seed=7
    )
    got = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    # smallest source kept whole; expected kept_s = n_s * (n_min/n_s)^(1-a)
    # = sqrt(n_s * n_min) for alpha = .5  (post sizes ∝ sqrt(n_s))
    assert got["code"] == 500
    for s, n in (("web", 8000), ("books", 1000)):
        expect = math.sqrt(n * 500)
        assert abs(got[s] - expect) < 4 * math.sqrt(expect), (s, got[s], expect)
    # deterministic: same seed -> same surviving rows
    again = temperature_mixture(
        df, source_col="source", key_cols=["doc_id"], alpha=0.5, seed=7
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_epoch_shuffle_permutes_deterministically(spark):
    from cosmap_spark.operators.sampler import epoch_shuffle

    df = spark.range(5000).select(F.col("id").alias("doc_id"))

    def order(epoch, parts):
        out = epoch_shuffle(
            df, key_cols=["doc_id"], epoch=epoch, num_partitions=parts
        )
        return [r["doc_id"] for r in out.collect()]

    e0, e0b, e1 = order(0, 8), order(0, 8), order(1, 8)
    assert e0 == e0b, "same epoch must reproduce the same order"
    assert e0 != e1, "different epochs must permute differently"
    assert sorted(e0) == list(range(5000)) == sorted(e1), "a permutation"
    # ordering is global across partition index, never a 1-task sort
    out = epoch_shuffle(df, key_cols=["doc_id"], epoch=0, num_partitions=8)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_epoch_shuffle_key_drives_packing(spark):
    """pack_offsets re-orders by order_col — packing on the kept epoch
    key must yield a different (valid) packing per epoch."""
    from cosmap_spark.operators.packing import pack_offsets
    from cosmap_spark.operators.sampler import epoch_shuffle

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit(10).cast("long").alias("n_toks")
    )

    def starts(epoch):
        o = epoch_shuffle(
            docs, key_cols=["doc_id"], epoch=epoch, num_partitions=4,
            key_col_out="k",
        )
        p = pack_offsets(o, capacity=64, order_col="k", num_shards=4)
        return {r["doc_id"]: r["start"] for r in p.collect()}

    s0, s1 = starts(0), starts(1)
    assert set(s0.values()) == set(range(0, 2000, 10)) == set(s1.values())
    assert s0 != s1, "different epochs must pack in different orders"


def test_weighted_sample_probability_and_determinism(spark):
    from cosmap_spark.operators.sampler import weighted_sample

    df = spark.range(12000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 2000, 0.0)      # never kept
        .when(F.col("id") < 4000, 1.0)       # always kept
        .when(F.col("id") < 8000, 0.25)
        .otherwise(0.75)
        .alias("w"),
    )
    out = weighted_sample(df, weight_col="w", key_cols=["doc_id"], seed=5)
    got = {r["doc_id"] for r in out.collect()}
    assert not any(i < 2000 for i in got)
    assert all(i in got for i in range(2000, 4000))
    n25 = sum(1 for i in got if 4000 <= i < 8000)
    n75 = sum(1 for i in got if i >= 8000)
    assert abs(n25 - 1000) < 5 * (4000 * 0.25 * 0.75) ** 0.5
    assert abs(n75 - 3000) < 5 * (4000 * 0.75 * 0.25) ** 0.5
    # partition-layout independence
    again = {
        r["doc_id"]
        for r in weighted_sample(
            df.repartition(13), weight_col="w", key_cols=["doc_id"], seed=5
        ).collect()
    }
    assert got == again
    # monotone in weight: doubling every weight only ADDS rows
    boosted = {
        r["doc_id"]
        for r in weighted_sample(
            df.withColumn("w", F.col("w") * 2), weight_col="w",
            key_cols=["doc_id"], seed=5,
        ).collect()
    }
    assert got <= boosted
    # NULL and NaN weights are both dropped (a failed score must not
    # survive by default — unguarded NaN would clamp to 1.0 and flood)
    broken = df.withColumn(
        "w",
        F.when(F.col("doc_id") % 2 == 0, F.lit(float("nan"))).otherwise(
            F.lit(None).cast("double")
        ),
    )
    assert weighted_sample(
        broken, weight_col="w", key_cols=["doc_id"], seed=5
    ).count() == 0


def test_select_to_token_budget(spark):
    from cosmap_spark.operators.sampler import select_to_token_budget

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, 100) / 100.0).alias("quality"),
        (F.pmod(F.col("id") * 13, 50) + 10).alias("n_toks"),
    )
    total = docs.agg(F.sum("n_toks")).collect()[0][0]
    budget = int(total * 0.4)
    sel = select_to_token_budget(
        docs, budget=budget, priority_col="quality", token_col="n_toks",
        key_cols=["doc_id"], seed=3,
    )
    rows = sel.collect()
    got_toks = sum(r["n_toks"] for r in rows)
    assert abs(got_toks - budget) < 0.05 * budget, (got_toks, budget)
    # the selection is top-priority-first: every selected bucket's
    # quality >= every excluded doc's quality except the boundary bucket
    sel_ids = {r["doc_id"] for r in rows}
    q_min_sel = min(round(r["quality"], 4) for r in rows)
    dropped_above = [
        r for r in docs.collect()
        if r["doc_id"] not in sel_ids and round(r["quality"], 4) > q_min_sel
    ]
    assert not dropped_above, "a higher-priority bucket was cut"
    # monotone: doubling the budget only adds documents
    bigger = {
        r["doc_id"]
        for r in select_to_token_budget(
            docs, budget=2 * budget, priority_col="quality",
            token_col="n_toks", key_cols=["doc_id"], seed=3,
        ).collect()
    }
    assert sel_ids <= bigger


def test_negative_pairs_uniform_never_self_excludable(spark):
    from cosmap_spark.operators.sampler import negative_pairs

    docs = spark.range(500).select(F.col("id").alias("doc_id"))
    pairs = negative_pairs(docs, k=4, seed=11).collect()
    # colliding draws collapse (birthday effect): at most k per anchor,
    # expected ~3 collisions over 500x4 draws at n=500
    assert 1990 <= len(pairs) <= 2000
    assert len({(r["anchor_id"], r["negative_id"]) for r in pairs}) == len(
        pairs
    )
    by_anchor = {}
    for r in pairs:
        assert r["negative_id"] != r["anchor_id"], "self-negative"
        by_anchor.setdefault(r["anchor_id"], set()).add(r["neg_rank"])
    assert set(by_anchor) == set(range(500))
    # ranks stay contiguous from 0 after collapsing
    assert all(
        ranks == set(range(len(ranks))) and 1 <= len(ranks) <= 4
        for ranks in by_anchor.values()
    )
    # negatives cover the corpus roughly uniformly (no hot partner)
    from collections import Counter

    hits = Counter(r["negative_id"] for r in pairs)
    assert max(hits.values()) <= 20  # mean 4, loose binomial ceiling
    # deterministic
    again = negative_pairs(docs, k=4, seed=11).collect()
    assert sorted(map(tuple, pairs)) == sorted(map(tuple, again))
    # known false negatives are excluded
    dups = spark.createDataFrame(
        [(r["anchor_id"], r["negative_id"]) for r in pairs[:50]],
        "id_a long, id_b long",
    )
    cleaned = negative_pairs(docs, k=4, seed=11, exclude_pairs=dups).collect()
    banned = {(r["id_a"], r["id_b"]) for r in dups.collect()}
    for r in cleaned:
        key = (min(r["anchor_id"], r["negative_id"]),
               max(r["anchor_id"], r["negative_id"]))
        norm_banned = {(min(a, b), max(a, b)) for a, b in banned}
        assert key not in norm_banned
    assert len(cleaned) <= 2000 - 50 + 10  # duplicates in the ban list


def test_exact_k_per_group(spark):
    from cosmap_spark.operators.sampler import exact_k_per_group

    df = spark.createDataFrame(
        [(i, ["en", "fr", "de"][i % 3]) for i in range(300)]
        + [(1000, "zh")],  # undersized group passes through whole
        "doc_id long, lang string",
    )
    got = exact_k_per_group(df, k=10, group_cols=["lang"], key_cols=["doc_id"])
    by_lang = {r["lang"]: 0 for r in got.collect()}
    for r in got.collect():
        by_lang[r["lang"]] += 1
    assert by_lang == {"en": 10, "fr": 10, "de": 10, "zh": 1}
    # deterministic + partition independent
    a = sorted((r["doc_id"], r["lang"]) for r in got.collect())
    b = sorted(
        (r["doc_id"], r["lang"])
        for r in exact_k_per_group(
            df.repartition(13), k=10, group_cols=["lang"], key_cols=["doc_id"]
        ).collect()
    )
    assert a == b
    # a different seed draws a (near-)disjoint en-sample
    c = {
        r["doc_id"]
        for r in exact_k_per_group(
            df, k=10, group_cols=["lang"], key_cols=["doc_id"], seed=5
        ).collect()
        if r["lang"] == "en"
    }
    assert c != {x for x, l in a if l == "en"}


def test_exact_k_per_group_rejects_reserved_name(spark):
    import pytest
    from cosmap_spark.operators.sampler import exact_k_per_group

    df = spark.createDataFrame([(1, "a", 0)], "doc_id long, lang string, __rn long")
    with pytest.raises(ValueError, match="__rn"):
        exact_k_per_group(df, k=1, group_cols=["lang"], key_cols=["doc_id"])


def test_key_hash_null_slot_disambiguation(spark):
    """('x', NULL) and (NULL, 'x') must hash differently — bare
    xxhash64 skips NULL slots so their sampling fates were perfectly
    correlated for every seed (CLAUDE.md row-hash rule)."""
    from cosmap_spark.operators.sampler import _key_hash_sql

    df = spark.createDataFrame(
        [("x", None), (None, "x")], "a string, b string"
    )
    h = [r[0] for r in df.select(F.expr(_key_hash_sql(["a", "b"]))).collect()]
    assert h[0] != h[1]


def test_sphere_sampler_rejects_oversized_radius(spark):
    import pytest

    from cosmap_spark.operators.sampler import uniform_sphere_samples

    with pytest.raises(ValueError, match="does not fit the patch"):
        uniform_sphere_samples(
            spark, 5, radius_deg=10.0, dec_bounds=(-5.0, 5.0),
            ra_bounds=(0.0, 40.0),
        )


@pytest.mark.parametrize(
    "kwargs, name",
    [
        ({"radius_deg": float("nan")}, "radius_deg"),
        ({"radius_deg": float("inf")}, "radius_deg"),
        ({"ra_bounds": (0.0, float("nan"))}, "ra_bounds"),
        ({"dec_bounds": (float("-inf"), 10.0)}, "dec_bounds"),
        ({"seed": 1.5}, "seed"),
        ({"seed": True}, "seed"),
        ({"seed": 1 << 63}, "seed"),
        ({"box": True, "width_deg": float("nan")}, "width_deg"),
        ({"box": True, "height_deg": float("inf")}, "height_deg"),
        ({"box": True, "seed": False}, "seed"),
        ({"box": True, "ra_bounds": (float("nan"), 5.0)}, "ra_bounds"),
    ],
)
def test_sky_samplers_refuse_bad_arguments_by_name(spark, kwargs, name):
    """A NaN radius used to draw rows with dec = NaN and no error, and
    a float or bool seed hashed as a different literal type: each is
    refused by name when the plan is built."""
    from cosmap_spark.operators.sampler import uniform_box_samples

    kwargs = dict(kwargs)
    sampler = uniform_box_samples if kwargs.pop("box", False) else uniform_sphere_samples
    with pytest.raises(ValueError, match=rf"^{name} must be"):
        sampler(spark, 3, **kwargs)


def test_negative_pairs_never_duplicates(spark):
    """Colliding offset draws (guaranteed at k > n-1) collapse: no
    (anchor, negative) pair may repeat under different ranks."""
    from cosmap_spark.operators.sampler import negative_pairs

    df = spark.createDataFrame([(i,) for i in range(3)], "doc_id long")
    out = negative_pairs(df, k=4).collect()
    pairs = [(r["anchor_id"], r["negative_id"]) for r in out]
    assert len(pairs) == len(set(pairs))
    assert all(a != n for a, n in pairs)
    # every anchor keeps at most n-1 = 2 distinct negatives
    from collections import Counter

    assert max(Counter(a for a, _ in pairs).values()) <= 2


def test_weighted_k_sample_reference_and_monotone(spark):
    """weighted_k_sample (round 9, Efraimidis–Spirakis A-ES): equals a
    python replay of its own rank definition over collected uniforms
    (top-k by -ln(u)/w, ties by key); exactly k rows; invalid weights
    (NULL/NaN/<=0) never sample; raising one row's weight never evicts
    it (monotone in own weight); layout-independent."""
    import math

    from pyspark.sql import functions as F

    from cosmap_spark.operators.sampler import (
        _HASH_BUCKETS, _key_hash_sql, weighted_k_sample,
    )

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % 17 + 1) / 17.0).alias("w"),
    )
    got = sorted(r["doc_id"] for r in weighted_k_sample(
        df, k=40, weight_col="w", key_cols=["doc_id"], seed=9
    ).collect())
    assert len(got) == 40

    # python replay from the same hash stream
    us = {
        r["doc_id"]: ((r["h"] % _HASH_BUCKETS) + 1.0) / (_HASH_BUCKETS + 1.0)
        for r in df.select(
            "doc_id",
            F.pmod(F.expr(_key_hash_sql(["doc_id"], 9, 7)),
                   F.lit(_HASH_BUCKETS)).alias("h"),
        ).collect()
    }
    ws = {r["doc_id"]: r["w"] for r in df.collect()}
    ranked = sorted(
        (-math.log(us[d]) / ws[d], d) for d in ws
    )
    want = sorted(d for _, d in ranked[:40])
    assert got == want

    # invalid weights never sample; k clamps to the valid rows
    bad = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, float("nan")), (4, 0.0), (5, -1.0)],
        "doc_id long, w double",
    )
    kept = sorted(r["doc_id"] for r in weighted_k_sample(
        bad, k=5, weight_col="w", key_cols=["doc_id"]
    ).collect())
    assert kept == [1]

    # monotone in own weight: boost one UNSAMPLED row far enough and it
    # enters; no SAMPLED row is ever evicted by raising its own weight
    out = set(got)
    loser = next(d for d in ws if d not in out)
    boosted = df.withColumn(
        "w", F.when(F.col("doc_id") == loser, 1e6).otherwise(F.col("w"))
    )
    got2 = {r["doc_id"] for r in weighted_k_sample(
        boosted, k=40, weight_col="w", key_cols=["doc_id"], seed=9
    ).collect()}
    assert loser in got2

    # layout independence
    got3 = sorted(r["doc_id"] for r in weighted_k_sample(
        df.repartition(13), k=40, weight_col="w", key_cols=["doc_id"],
        seed=9
    ).collect())
    assert got3 == got


def test_keyed_sampler_bits_are_pinned(spark):
    """Exact outputs of every keyed sampler and of DSIR's Gumbel draw,
    taken when the hashes were built one ``F.*`` call at a time: an
    anchor slot typed differently (a seed as INT vs BIGINT, the isnull
    flag as BOOLEAN) or a reordered argument changes a bit here.  The
    key has a NULL slot every fifth row."""
    from cosmap_spark.operators.dsir import dsir_sample
    from cosmap_spark.operators.sampler import (
        deterministic_sample, epoch_shuffle, exact_k_per_group, exact_k_sample,
        group_kfold_assign, kfold_assign, stratified_sample, weighted_k_sample,
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else ("en", "de", "fr")[i % 3], (i % 7) / 6.0)
         for i in range(40)],
        "doc_id long, lang string, w double",
    )
    keys = ["doc_id", "lang"]

    def ids(out):
        return sorted(r["doc_id"] for r in out.collect())

    assert ids(deterministic_sample(df, 0.5, key_cols=keys, seed=7)) == [
        0, 1, 2, 4, 6, 16, 17, 18, 23, 27, 28, 29, 30, 31, 33, 34, 35, 36]
    assert ids(stratified_sample(
        df, {"en": 0.8, "de": 0.3, None: 0.5}, strata_col="lang", key_cols=keys, seed=7
    )) == [4, 9, 12, 15, 16, 18, 19, 20, 21, 22, 25, 27, 30, 33, 34, 36]
    assert ids(weighted_sample(df, weight_col="w", key_cols=keys, seed=7)) == [
        1, 3, 6, 9, 11, 12, 13, 15, 17, 19, 20, 22, 24, 25, 26, 27, 32, 33, 34, 38, 39]
    assert ids(weighted_k_sample(df, k=10, weight_col="w", key_cols=keys, seed=7)) == [
        3, 6, 13, 18, 19, 20, 24, 29, 34, 38]
    assert ids(exact_k_sample(df, k=8, key_cols=keys, seed=7)) == [
        16, 17, 19, 21, 23, 24, 35, 38]
    assert ids(exact_k_per_group(df, k=3, group_cols=["lang"], key_cols=keys, seed=7)) == [
        6, 15, 16, 17, 19, 21, 23, 24, 25, 34, 35, 38]
    folds = kfold_assign(df, key_cols=keys, k=5, seed=7).orderBy("doc_id").collect()
    assert [r["fold"] for r in folds] == [
        0, 3, 0, 1, 4, 3, 1, 2, 3, 4, 3, 4, 3, 3, 2, 4, 2, 2, 2, 1,
        3, 3, 1, 1, 1, 1, 3, 3, 4, 3, 4, 0, 3, 1, 4, 0, 1, 0, 4, 1]
    groups = group_kfold_assign(df, group_col="lang", k=5, seed=7).orderBy("doc_id").collect()
    assert [r["fold"] for r in groups[:6]] == [1, 4, 2, 2, 4, 1]
    shuffled = epoch_shuffle(
        df, key_cols=keys, epoch=3, seed=7, num_partitions=4, key_col_out="k"
    ).collect()
    assert [r["doc_id"] for r in shuffled] == [
        0, 3, 32, 36, 29, 9, 17, 7, 1, 18, 35, 15, 6, 22, 10, 16, 24, 14, 5, 31,
        19, 23, 28, 27, 39, 38, 12, 21, 33, 26, 34, 30, 37, 13, 25, 2, 8, 11, 20, 4]
    assert [r["k"] for r in sorted(shuffled, key=lambda r: r["doc_id"])[:4]] == [
        -8917539707202822124, -5602729023965579301,
        7893969840188614141, -8685416548637260633]

    raw = spark.createDataFrame(
        [(i, f"w{i % 5} x{i % 3} shared {'sci' if i % 2 else 'web'}") for i in range(30)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100 + i, f"sci shared x{i % 3}") for i in range(10)], "doc_id long, text string"
    )
    got = [
        (r["id"], r["log_w"].hex(), r["gumbel_key"].hex())
        for r in dsir_sample(raw, target, k=5, buckets=64).collect()
    ]
    assert got == [
        (19, "-0x1.9df2239e6ab9bp+1", "0x1.816134ce3de61p+1"),
        (25, "-0x1.be1d323fee2cap+1", "-0x1.8740357a35504p+1"),
        (21, "-0x1.98835dedf1e08p+2", "-0x1.9c42f1ed17c5fp+1"),
        (22, "-0x1.881f85d744f5dp+2", "-0x1.abb8c32a8c9b8p+1"),
        (1, "-0x1.0b86ad2dcb146p+2", "-0x1.ecaf2d7f950b9p+1"),
    ]


def test_stratified_and_weighted_k_build_as_sql_text(spark):
    """``stratified_sample`` and ``weighted_k_sample`` build their plans
    as SQL text: a warm build costs at most 10 and 40 py4j round trips
    (measured: 1 and 29), against 144 and 242 when every stratum and
    every step of the rank was an ``F.*`` call.  The sampled ids are the
    ones that ``F.*`` form gave, for an INT and a BIGINT seed, string
    and int strata; a stratum key holding a quote, a backslash and a
    non-ASCII letter matches its rows."""
    from cosmap_spark.operators.sampler import stratified_sample, weighted_k_sample
    from tests.conftest import jvm_round_trips

    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else ("en", "de", "fr")[i % 3], (i % 7) / 6.0, i % 4)
         for i in range(100)],
        "doc_id long, lang string, w double, g int",
    )
    keys = ["doc_id", "lang"]
    fractions = {"en": 0.8, "de": 0.3, None: 0.5, "it's\\": 1.0}
    builds = {
        "stratified_sample": (10, lambda: stratified_sample(
            df, fractions, strata_col="lang", key_cols=keys, seed=7)),
        "weighted_k_sample": (40, lambda: weighted_k_sample(
            df, k=10, weight_col="w", key_cols=keys, seed=7)),
    }
    for name, (budget, build) in builds.items():
        build()  # first call pays one-off JVM lookups
        with jvm_round_trips() as n:
            build()
        assert n[0] <= budget, f"{name} build took {n[0]} round trips"

    def ids(out):
        return sorted(r["doc_id"] for r in out.collect())

    pinned = {
        1: (
            [0, 3, 4, 6, 9, 12, 15, 16, 18, 21, 22, 24, 27, 33, 34, 37, 39, 40, 42, 48,
             51, 52, 54, 55, 57, 61, 65, 66, 67, 69, 70, 72, 75, 78, 81, 82, 87, 91, 93,
             95, 96, 99],
            [1, 3, 4, 7, 13, 15, 16, 17, 19, 21, 25, 29, 31, 33, 37, 41, 43, 45, 47, 48,
             49, 53, 57, 59, 61, 65, 67, 69, 71, 77, 79, 80, 81, 83, 84, 85, 88, 89, 91,
             93],
            [22, 27, 39, 48, 54, 61, 73, 76, 81, 88, 90, 93],
        ),
        2**40: (
            [0, 1, 6, 7, 10, 12, 18, 20, 21, 22, 25, 27, 35, 39, 40, 42, 48, 51, 54, 57,
             61, 63, 64, 65, 66, 67, 69, 72, 75, 76, 78, 80, 84, 85, 87, 99],
            [1, 3, 7, 9, 11, 13, 15, 16, 17, 19, 21, 23, 25, 29, 31, 33, 41, 43, 45, 47,
             49, 51, 53, 59, 61, 63, 67, 69, 71, 73, 75, 77, 81, 85, 87, 88, 89, 91, 92,
             93, 95, 97],
            [2, 6, 24, 46, 50, 62, 65, 69, 79, 81, 82, 89],
        ),
    }
    for seed, (strat, strat_int, wks) in pinned.items():
        assert ids(stratified_sample(
            df, fractions, strata_col="lang", key_cols=keys, seed=seed)) == strat
        assert ids(stratified_sample(
            df, {0: 0.2, 1: 0.9, 3: 0.6}, strata_col="g", key_cols=["doc_id"], seed=seed
        )) == strat_int
        assert ids(weighted_k_sample(
            df, k=12, weight_col="w", key_cols=keys, seed=seed)) == wks

    odd = spark.createDataFrame(
        [(1, "it's \\ é"), (2, "it's \\ e"), (3, "its \\ é")], "doc_id long, lang string"
    )
    assert ids(stratified_sample(
        odd, {"it's \\ é": 1.0}, strata_col="lang", key_cols=["doc_id"])) == [1]
    with pytest.raises(ValueError, match="fractions key"):
        stratified_sample(odd, {("en",): 1.0}, strata_col="lang", key_cols=["doc_id"])
