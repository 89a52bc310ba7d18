"""Spatial-join correctness: the zone/bbox-pruned cone search must equal
the brute-force haversine theta-join everywhere — including the poles and
the RA=0 wraparound (SURVEY.md §7 hard part 1), the cases the reference
delegated to external libraries and never tested."""

from __future__ import annotations

import math
import os
import re

import pytest

from pyspark.sql import functions as F

from cosmap_spark.functions.spherical import sep_deg_sql
from cosmap_spark.functions.sqlargs import double_sql
from cosmap_spark.operators.cone_search import cone_search, cone_search_bruteforce
from cosmap_spark.tables import catalog_df, samples_df


def _pairs(df):
    return sorted((r["sample_id"], r["object_id"]) for r in df.collect())


def test_zone_join_equals_bruteforce_on_fixtures(spark):
    cat = catalog_df(spark, "/root/testdata/sf0.001")
    smp = samples_df(spark, "/root/testdata/sf0.001")
    assert _pairs(cone_search(cat, smp)) == _pairs(cone_search_bruteforce(cat, smp))


@pytest.fixture()
def pole_catalog(spark):
    rows = [
        # (object_id, ra, dec): hand-placed pole + wraparound points
        (1, 0.1, 89.9), (2, 359.9, 89.9), (3, 180.0, 89.95), (4, 90.0, 89.5),
        (5, 0.1, -89.9), (6, 359.9, -89.9), (7, 180.0, -89.95),
        (8, 0.5, 0.0), (9, 359.5, 0.0), (10, 180.0, 0.0),
        (11, 0.0, -90.0), (12, 33.0, 45.0),
    ]
    return spark.createDataFrame(rows, "object_id long, ra double, dec double")


@pytest.fixture()
def pole_samples(spark):
    rows = [
        # centers at the poles, straddling RA=0, and mid-latitude
        (100, 0.0, 90.0, 1.0), (101, 0.0, -90.0, 1.0),
        (102, 359.95, 0.0, 1.0), (103, 0.05, 0.0, 1.0),
        (104, 0.0, 89.0, 2.0), (105, 180.0, -89.0, 2.0),
        (106, 33.0, 45.0, 0.5),
    ]
    return spark.createDataFrame(
        rows, "sample_id long, ra double, dec double, radius_deg double"
    )


def test_pole_and_wraparound(spark, pole_catalog, pole_samples):
    got = _pairs(cone_search(pole_catalog, pole_samples))
    want = _pairs(cone_search_bruteforce(pole_catalog, pole_samples))
    assert got == want
    # sanity on specific geometry: both wraparound points are within 1°
    # of both near-RA-0 equator centers
    assert (102, 8) in got and (102, 9) in got
    assert (103, 8) in got and (103, 9) in got
    # pole cones catch all high-|dec| points regardless of RA
    assert {(100, 1), (100, 2), (100, 3)}.issubset(set(got))
    assert {(101, 5), (101, 6), (101, 7), (101, 11)}.issubset(set(got))


def test_haversine_known_values(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 90.0), (0.0, 0.0, 180.0, 0.0), (10.0, 0.0, 190.0, 0.0),
         (0.0, 45.0, 180.0, 45.0), (359.9, 0.0, 0.1, 0.0)],
        "ra1 double, dec1 double, ra2 double, dec2 double",
    )
    seps = [
        r["s"] for r in df.select(
            F.expr(sep_deg_sql("ra1", "dec1", "ra2", "dec2")).alias("s")
        ).collect()
    ]
    assert seps[0] == pytest.approx(90.0, abs=1e-9)
    assert seps[1] == pytest.approx(180.0, abs=1e-9)
    assert seps[2] == pytest.approx(180.0, abs=1e-9)
    assert seps[3] == pytest.approx(90.0, abs=1e-9)   # across the pole
    assert seps[4] == pytest.approx(0.2, abs=1e-9)    # RA wraparound


def test_haversine_matches_vincenty_reference(spark):
    """Cross-check against a numpy Vincenty implementation (the formula
    astropy's separation uses) on random pairs."""
    import numpy as np

    rng = np.random.default_rng(0)
    ra1, ra2 = rng.uniform(0, 360, 200), rng.uniform(0, 360, 200)
    dec1, dec2 = rng.uniform(-90, 90, 200), rng.uniform(-90, 90, 200)
    l1, l2 = np.radians(dec1), np.radians(dec2)
    dl = np.radians(ra2 - ra1)
    num = np.hypot(
        np.cos(l2) * np.sin(dl),
        np.cos(l1) * np.sin(l2) - np.sin(l1) * np.cos(l2) * np.cos(dl),
    )
    den = np.sin(l1) * np.sin(l2) + np.cos(l1) * np.cos(l2) * np.cos(dl)
    want = np.degrees(np.arctan2(num, den))
    rows = [
        (float(a), float(b), float(c), float(d))
        for a, b, c, d in zip(ra1, dec1, ra2, dec2)
    ]
    df = spark.createDataFrame(rows, "ra1 double, dec1 double, ra2 double, dec2 double")
    got = [
        r["s"] for r in df.select(
            F.expr(sep_deg_sql("ra1", "dec1", "ra2", "dec2")).alias("s")
        ).collect()
    ]
    assert np.allclose(got, want, atol=1e-8)


def test_zone_partitioned_ingest_roundtrip(spark, tmp_path):
    from cosmap_spark.sources.readers import ingest_catalog

    cat = catalog_df(spark, "/root/testdata/sf0.001")
    smp = samples_df(spark, "/root/testdata/sf0.001")
    ingest_catalog(cat, str(tmp_path / "zoned"))
    back = spark.read.parquet(str(tmp_path / "zoned")).drop("zone")
    assert _pairs(cone_search(back, smp)) == _pairs(cone_search_bruteforce(cat, smp))


def _scan_metric(df, name):
    """A SQL metric of the one file scan in ``df``'s executed plan, after
    collecting ``df`` (e.g. ``numPartitions``: partitions the scan read)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    scans = [n for n in scans if n.nodeName().startswith("Scan parquet")]
    assert len(scans) == 1, [n.nodeName() for n in scans]
    return scans[0].metrics().apply(name).value()


def test_zone_partition_pruning_reads_fewer_files(spark, tmp_path):
    """Scale evidence: a dec-band query over the zone-partitioned catalog
    must touch only that band's files (partition pruning)."""
    from cosmap_spark.sources.readers import ingest_catalog

    cat = catalog_df(spark, "/root/testdata/sf0.001")
    ingest_catalog(cat, str(tmp_path / "zoned"))
    back = spark.read.parquet(str(tmp_path / "zoned"))
    pruned = back.where(F.col("zone").between(28, 32))  # -6° <= dec < 9°
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "(zone" in plan, plan
    # the executed scan read at most the 5 selected partitions, of the
    # many more the fixture fills
    assert back.select("zone").distinct().count() > 20
    assert 1 <= _scan_metric(pruned, "numPartitions") <= 5
    band = cat.where((F.col("dec") >= -6.0) & (F.col("dec") < 9.0))
    assert pruned.count() == band.count() > 0


def test_sample_agg_matches_loop_semantics(spark):
    """The ONE-JOIN inversion must equal the reference's per-sample-loop
    semantics: for each sample independently, a cone query + aggregate.
    Checked by running each sample's cone as its own filter."""
    cat = catalog_df(spark, "/root/testdata/sf0.001")
    smp = samples_df(spark, "/root/testdata/sf0.001").limit(5)
    joined = cone_search(cat, smp)
    got = {
        r["sample_id"]: r["n"]
        for r in joined.groupBy("sample_id").agg(F.count("*").alias("n")).collect()
    }
    for s in smp.collect():
        n = (
            cat.where(
                F.expr(sep_deg_sql(double_sql("ra", s["ra"]), double_sql("dec", s["dec"]), "ra", "dec"))
                <= s["radius_deg"]
            ).count()
        )
        assert got.get(s["sample_id"], 0) == n


def test_zone_partitions_prune_dynamically(spark, tmp_path):
    """Runtime (dynamic) partition pruning: joining the zone-partitioned
    catalog to a dimension with a selective filter injects a runtime
    zone filter into the scan — partitions for unmatched zones are never
    read.  Static pruning (literal predicates) is covered above; this is
    the join-driven variant that matters when the touched zones are only
    known at run time."""
    from cosmap_spark.sources.readers import ingest_catalog
    from cosmap_spark.tables import catalog_df

    d = str(tmp_path / "zoned")
    ingest_catalog(catalog_df(spark, "/root/testdata/sf0.001"), d)
    part = spark.read.parquet(d)
    dim = (
        spark.range(60)
        .select(F.col("id").alias("zone"), (F.col("id") % 7).alias("family"))
        .where(F.col("family") == 3)
    )
    joined = part.join(dim, "zone")
    joined.count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


# --- zone catalogs: sidecar read and Analysis.build zone pruning ---------


def _sky(spark, n=6000):
    """A deterministic sky: ``n`` points area-uniform on the sphere (the
    R2 low-discrepancy sequence in (ra, sin dec)), plus points on both
    poles and either side of RA 0."""
    k = F.col("id").cast("double")
    points = spark.range(1, n + 1).select(
        F.col("id").alias("object_id"),
        ((k * 0.7548776662466927) % 1.0 * 360.0).alias("ra"),
        F.degrees(F.asin(2.0 * ((k * 0.5698402909980532) % 1.0) - 1.0)).alias("dec"),
    )
    edges = [(0.0, 90.0), (180.0, -90.0), (0.1, 89.9), (359.9, -89.9),
             (0.2, 0.5), (359.8, -0.5), (359.99, 3.0), (0.01, -3.0)]
    return points.unionByName(spark.createDataFrame(
        [(n + 1 + i, ra, dec) for i, (ra, dec) in enumerate(edges)],
        "object_id long, ra double, dec double",
    ))


@pytest.fixture(scope="module")
def zone_catalogs(spark, tmp_path_factory):
    """The sky, and its zone catalog at each of two heights."""
    from cosmap_spark.sources.readers import ingest_catalog

    sky = _sky(spark)
    paths = {}
    for h in (3.0, 1.0):
        paths[h] = str(tmp_path_factory.mktemp("zones") / f"h{h}")
        ingest_catalog(sky, paths[h], zone_height_deg=h)
    return sky, paths


def _with_jobs(spark, group, fn):
    """``fn()`` and the Spark jobs it launched, found by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _has_zone_filter(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.search(r"PartitionFilters: \[[^\]]*zone", plan) is not None


def _zone_analysis(sampling):
    from cosmap_spark.pipeline.analysis import Analysis

    return Analysis(
        {
            "sampling_parameters": {"n_samples": 40, "seed": 11, **sampling},
            "dataset_parameters": {"columns": ["object_id"]},
        },
        {"t": {"needed-data": ["catalog"], "is-output": True}},
        {"t": lambda catalog: catalog},
    )


def _default_samples(spark, analysis):
    from cosmap_spark.operators.sampler import uniform_sphere_samples

    sp = analysis.config.sampling_parameters
    return uniform_sphere_samples(
        spark, sp.n_samples, seed=sp.seed, radius_deg=sp.sample_dimensions,
        ra_bounds=tuple(sp.ra_bounds), dec_bounds=tuple(sp.dec_bounds),
    )


def test_sidecar_read_launches_no_job(spark, zone_catalogs):
    from pyspark.sql.types import LongType

    from cosmap_spark.operators.cone_search import ZONE_HEIGHT_KEY
    from cosmap_spark.sources.readers import read_catalog_source

    _, paths = zone_catalogs
    fast, jobs = _with_jobs(spark, "sidecar-read", lambda: read_catalog_source(spark, paths[3.0]))
    assert jobs == []
    # the same directory without the sidecar's help lists and infers
    # with jobs, so the check above can see a job
    plain, jobs = _with_jobs(spark, "plain-read", lambda: spark.read.parquet(paths[3.0]))
    assert jobs
    assert fast.schema["zone"].dataType == LongType()
    assert fast.schema["zone"].metadata == {ZONE_HEIGHT_KEY: 3.0}
    assert [(f.name, f.dataType, f.nullable) for f in fast.schema.fields if f.name != "zone"] == [
        (f.name, f.dataType, f.nullable) for f in plain.schema.fields if f.name != "zone"
    ]
    assert fast.columns == plain.columns
    assert fast.count() == plain.count()
    # the listing threshold is raised for the read only
    assert spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "32"


@pytest.mark.parametrize(
    "sampling,height",
    [
        ({"dec_bounds": [-20.0, 20.0], "sample_dimensions": 2.0}, 3.0),
        ({"dec_bounds": [60.0, 90.0], "sample_dimensions": 2.0}, 3.0),
        ({"sample_dimensions": 3.0}, 3.0),
        ({"ra_bounds": [-30.0, 30.0], "dec_bounds": [-10.0, 10.0], "sample_dimensions": 2.0}, 3.0),
        # the height is read from the sidecar, not assumed: at the
        # default 3° this band's zones are 32..40, at 1° they are 98..121
        ({"dec_bounds": [10.0, 30.0], "sample_dimensions": 1.5}, 1.0),
    ],
    ids=["equator", "pole", "full_sky", "ra_wrap", "height_1deg"],
)
def test_zone_pruned_analysis_equals_bruteforce(spark, zone_catalogs, sampling, height):
    from cosmap_spark.sources.readers import read_catalog_source

    sky, paths = zone_catalogs
    analysis = _zone_analysis(sampling)
    built = analysis.build(spark, read_catalog_source(spark, paths[height]))
    assert _has_zone_filter(built)
    want = _pairs(cone_search_bruteforce(sky, _default_samples(spark, analysis)))
    assert want and _pairs(built) == want


def test_zone_pruning_off_without_sidecar_or_with_sampler_plugin(spark, zone_catalogs, tmp_path):
    import shutil

    from cosmap_spark.pipeline import plugins
    from cosmap_spark.sources.readers import CATALOG_SIDECAR, read_catalog_source

    sky, paths = zone_catalogs
    analysis = _zone_analysis({"dec_bounds": [-20.0, 20.0], "sample_dimensions": 2.0})
    want = _pairs(cone_search_bruteforce(sky, _default_samples(spark, analysis)))

    bare = str(tmp_path / "bare")
    shutil.copytree(paths[3.0], bare)
    os.remove(os.path.join(bare, CATALOG_SIDECAR))
    built = analysis.build(spark, read_catalog_source(spark, bare))
    assert not _has_zone_filter(built)
    assert _pairs(built) == want

    # a sampler plugin may draw cones outside dec_bounds: no zone filter
    plugins.register("generate_samples", lambda spark_, sp: _default_samples(spark_, analysis))
    try:
        built = analysis.build(spark, read_catalog_source(spark, paths[3.0]))
        assert not _has_zone_filter(built)
        assert _pairs(built) == want
    finally:
        plugins.unregister("generate_samples")


def test_file_uri_catalog_takes_fast_path(spark, zone_catalogs):
    from cosmap_spark.operators.cone_search import ZONE_HEIGHT_KEY
    from cosmap_spark.sources.readers import read_catalog_source

    sky, paths = zone_catalogs
    catalog, jobs = _with_jobs(
        spark, "uri-read", lambda: read_catalog_source(spark, "file://" + paths[1.0])
    )
    assert jobs == []
    assert catalog.schema["zone"].metadata == {ZONE_HEIGHT_KEY: 1.0}
    analysis = _zone_analysis({"dec_bounds": [-20.0, 20.0], "sample_dimensions": 2.0})
    built = analysis.build(spark, catalog)
    assert _has_zone_filter(built)
    assert _pairs(built) == _pairs(cone_search_bruteforce(sky, _default_samples(spark, analysis)))


def test_reingest_rewrites_sidecar_and_zones(spark, tmp_path):
    """Re-ingesting at another height leaves only the new zones and a
    sidecar naming the new height, even under a session's dynamic
    partition overwrite mode."""
    import json

    from cosmap_spark.sources.readers import CATALOG_SIDECAR, ingest_catalog, read_catalog_source

    sky = _sky(spark, 500)
    d = str(tmp_path / "zoned")
    ingest_catalog(sky, d, zone_height_deg=3.0)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        ingest_catalog(sky, d, zone_height_deg=1.0)
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    with open(os.path.join(d, CATALOG_SIDECAR)) as f:
        assert json.load(f)["zone_height_deg"] == 1.0
    back = read_catalog_source(spark, d)
    assert back.count() == sky.count()
    want = sky.select(F.floor((F.col("dec") + 90.0) / 1.0).cast("long").alias("zone")).distinct()
    assert sorted(r[0] for r in back.select("zone").distinct().collect()) == sorted(
        r[0] for r in want.collect()
    )


@pytest.mark.parametrize("height", [0, -3.0, float("nan"), float("inf")])
def test_zone_height_must_be_finite_and_positive(spark, tmp_path, height):
    """A negative height reverses every zone range and a zero or NaN one
    has no zones: both ingest and the cone join refuse it by name."""
    from cosmap_spark.sources.readers import ingest_catalog

    cat = _sky(spark, 100)
    with pytest.raises(ValueError, match="zone_height_deg"):
        ingest_catalog(cat, str(tmp_path / "zoned"), zone_height_deg=height)
    assert not (tmp_path / "zoned").exists()
    samples = spark.createDataFrame(
        [(1, 10.0, 5.0, 2.0)], "sample_id long, ra double, dec double, radius_deg double"
    )
    with pytest.raises(ValueError, match="zone_height_deg"):
        cone_search(cat, samples, zone_height_deg=height)


# --- catalog×catalog crossmatch --------------------------------------------


def _jittered(cat, *, arcsec, id_shift):
    """A displaced twin catalog: every object moved ~arcsec in dec (and
    id-shifted), so each twin's nearest true counterpart is its source."""
    return cat.select(
        (F.col("object_id") + id_shift).alias("object_id"),
        F.pmod(F.col("ra") + F.lit(arcsec / 3600.0 / 2.0), F.lit(360.0)).alias("ra"),
        (F.col("dec") + F.lit(arcsec / 3600.0)).alias("dec"),
    )


def test_crossmatch_matches_bruteforce(spark):
    from cosmap_spark.operators.cone_search import crossmatch

    cat = catalog_df(spark, "/root/testdata/sf0.001").cache()
    twin = _jittered(cat, arcsec=5.0, id_shift=1_000_000).cache()
    got = {
        (r["l_id"], r["r_id"], round(r["sep_arcsec"], 4))
        for r in crossmatch(
            cat, twin, radius_arcsec=30.0, best_match=True
        ).collect()
    }
    # brute force: exact nearest within radius per left row
    a, b = cat.alias("a"), twin.alias("b")
    sep = F.expr(sep_deg_sql("a.ra", "a.dec", "b.ra", "b.dec")) * 3600.0
    from pyspark.sql import Window

    pairs = (
        a.crossJoin(b)
        .select(
            F.col("a.object_id").alias("l_id"),
            F.col("b.object_id").alias("r_id"),
            sep.alias("s"),
        )
        .where(F.col("s") <= 30.0)
    )
    w = Window.partitionBy("l_id").orderBy(F.col("s").asc(), F.col("r_id").asc())
    want = {
        (r["l_id"], r["r_id"], round(r["s"], 4))
        for r in pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1).collect()
    }
    assert got == want and len(want) >= cat.count()


def test_crossmatch_all_pairs_and_self(spark):
    from cosmap_spark.operators.cone_search import crossmatch

    cat = catalog_df(spark, "/root/testdata/sf0.001").cache()
    self_pairs = crossmatch(
        cat, cat, radius_arcsec=1.0, best_match=False, exclude_self=True
    )
    # the synthetic catalog has no sub-arcsec coincident objects
    assert self_pairs.count() == 0
    ident = crossmatch(cat, cat, radius_arcsec=1.0, best_match=True)
    rows = ident.collect()
    assert len(rows) == cat.count()
    assert all(r["l_id"] == r["r_id"] and r["sep_arcsec"] == 0.0 for r in rows)


def test_crossmatch_ra_wraparound(spark):
    from cosmap_spark.operators.cone_search import crossmatch

    l = spark.createDataFrame(
        [(1, 359.9995, 10.0), (2, 180.0, -45.0)], "object_id long, ra double, dec double"
    )
    r = spark.createDataFrame(
        [(71, 0.0005, 10.0), (72, 180.001, -45.0)], "object_id long, ra double, dec double"
    )
    got = {
        (x["l_id"], x["r_id"])
        for x in crossmatch(l, r, radius_arcsec=10.0).collect()
    }
    assert got == {(1, 71), (2, 72)}  # pair 1 spans the RA seam


def test_crossmatch_plan_symmetric(spark):
    """No nested loop, no cartesian: the match is a hash-based
    equi-join on (zone, sector) cells.  Catalyst is free to BROADCAST
    a side it can prove tiny (it does at this toy scale) — the
    structural claim is that crossmatch never FORCES one, so at survey
    scale the same plan degrades gracefully to a shuffled cell join."""
    from cosmap_spark.operators.cone_search import crossmatch
    from cosmap_spark.operators.report import plan_summary

    cat = catalog_df(spark, "/root/testdata/sf0.001")
    twin = _jittered(cat, arcsec=5.0, id_shift=1_000_000)
    s = plan_summary(crossmatch(cat, twin, radius_arcsec=30.0))
    assert s["cartesian_products"] == 0 and s["nested_loop_joins"] == 0
    assert (
        s["broadcast_joins"] + s["sortmerge_joins"]
        + s["shuffled_hash_joins"] >= 1
    )


def test_non_divisor_sector_width_equals_bruteforce(spark):
    """sector_width_deg that doesn't divide 360 (7 deg -> 51.4 sectors)
    used to leave the last partial sector reachable only from the
    catalog side: rows near ra=360 silently missed every sample.  The
    width now rounds to an exact tiling; equality with brute force must
    hold with matches planted in the wrap sector."""
    cat = spark.createDataFrame(
        [(i, 355.0 + i * 0.5, 0.0, 20.0) for i in range(10)]
        + [(100 + i, float(i), 0.0, 20.0) for i in range(8)],
        "object_id long, ra double, dec double, mag_r double",
    )
    smp = spark.createDataFrame(
        [(0, 358.0, 0.0, 2.0), (1, 1.0, 0.5, 2.5)],
        "sample_id long, ra double, dec double, radius_deg double",
    )
    for w in (7.0, 11.0, 360.0 / 51.0):
        got = _pairs(cone_search(cat, smp, sector_width_deg=w))
        want = _pairs(cone_search_bruteforce(cat, smp))
        assert got == want, f"width={w}"


# --- the sky plan built as SQL text ------------------------------------------


@pytest.mark.parametrize("width", [0, -10.0, float("nan"), float("inf"), True])
def test_sector_width_must_be_finite_and_positive(spark, width):
    """A zero width divided by zero, NaN failed to convert, and a
    negative or infinite one silently became one 360° sector (right
    rows, no pruning): all are refused by name."""
    cat = _sky(spark, 100)
    samples = spark.createDataFrame(
        [(1, 10.0, 5.0, 2.0)], "sample_id long, ra double, dec double, radius_deg double"
    )
    with pytest.raises(ValueError, match="sector_width_deg"):
        cone_search(cat, samples, sector_width_deg=width)


@pytest.mark.parametrize("radius", [-1.0, float("nan"), float("inf"), True])
def test_crossmatch_radius_must_be_finite_and_positive(spark, radius):
    """A negative radius silently returned no rows, NaN failed with an
    unnamed "cannot convert float NaN to integer", inf failed inside a
    Spark job (COLLECTION_SIZE_LIMIT_EXCEEDED) and True ran as 1″: all
    are refused by name."""
    from cosmap_spark.operators.cone_search import crossmatch

    two = spark.createDataFrame(
        [(1, 10.0, 5.0), (2, 10.0001, 5.0)], "object_id long, ra double, dec double"
    )
    with pytest.raises(ValueError, match="radius_arcsec"):
        crossmatch(two, two, radius_arcsec=radius)


def test_cone_search_refuses_repeated_output_names(spark):
    """The projection is by name, so a column on both sides (or one
    named like ``sep_col``) is refused by name, not left ambiguous."""
    samples = spark.createDataFrame(
        [(1, 10.0, 5.0, 2.0)], "object_id long, ra double, dec double, radius_deg double"
    )
    with pytest.raises(ValueError, match="object_id"):
        cone_search(_sky(spark, 100), samples)
    with pytest.raises(ValueError, match="ra"):
        cone_search(_sky(spark, 100), samples.withColumnRenamed("object_id", "i"), sep_col="RA")


def test_sky_plan_bits_are_pinned(spark):
    """Exact bits of the sampler and of the cone join's separation,
    taken from the plan built one ``F.*`` call at a time: a literal
    typed differently (a seed as INT vs BIGINT, a double as DECIMAL)
    or a reordered operation changes a bit here."""
    from cosmap_spark.operators.sampler import uniform_sphere_samples

    want = {
        42: [("0x1.3c2e6f6fcc700p+7", "-0x1.a3ff0d8060049p+1"),
             ("0x1.6787f8dee5e80p+8", "0x1.23adaf9df08ddp+4"),
             ("0x1.47a289e3dd600p+7", "0x1.d20a0ba4922b4p+3")],
        2**31 - 1: [("0x1.5d6f13a84ea00p+7", "0x1.b456f93fefef6p+3"),
                    ("0x1.c705af611a700p+7", "0x1.8f1821b33b04ep+3"),
                    ("0x1.5f75e5fc8eb80p+8", "-0x1.091ff27a50e83p+4")],
        2**31: [("0x1.2e3e1ab17a100p+8", "0x1.dd087591bbdd7p+3"),
                ("0x1.4bd2291234f80p+8", "-0x1.d09a2b386ef60p+3"),
                ("0x1.1843f9d244380p+8", "-0x1.203695e990a0ep-1")],
    }
    for seed, rows in want.items():
        got = uniform_sphere_samples(
            spark, 3, seed=seed, radius_deg=0.5, dec_bounds=(-20.0, 20.0)
        ).orderBy("sample_id").collect()
        assert [(r["ra"].hex(), r["dec"].hex()) for r in got] == rows, seed
    cat = spark.createDataFrame(
        [(1, 0.1, 89.9), (2, 359.9, 0.3), (3, 0.4, -0.2), (4, 33.3, 45.1), (5, 180.0, -89.95)],
        "object_id long, ra double, dec double",
    )
    smp = spark.createDataFrame(
        [(10, 0.0, 90.0, 1.0), (11, 0.05, 0.0, 1.0), (12, 33.0, 45.0, 0.5), (13, 180.0, -89.0, 2.0)],
        "sample_id long, ra double, dec double, radius_deg double",
    )
    got = sorted(
        (r["sample_id"], r["object_id"], r["sep_deg"].hex())
        for r in cone_search(cat, smp).collect()
    )
    assert got == [
        (10, 1, "0x1.9999999999800p-4"), (11, 2, "0x1.5775b0b316ba0p-2"),
        (11, 3, "0x1.9cc9768602682p-2"), (12, 4, "0x1.dff48115412a4p-3"),
        (13, 5, "0x1.e666666666681p-1"),
    ]


def test_sky_plan_build_round_trip_budget(spark, zone_catalogs):
    """Building the sky plan costs tens of py4j round trips per
    operator, not hundreds (929 for cone_search and 254 for
    uniform_sphere_samples when every expression was an ``F.*`` call),
    and the plan keeps its shape: a broadcast hash join on the (zone,
    sector) cell over two Generate nodes."""
    from cosmap_spark.operators.sampler import uniform_sphere_samples
    from cosmap_spark.pipeline.analysis import Analysis
    from cosmap_spark.sources.readers import read_catalog_source
    from tests.conftest import jvm_round_trips

    class SqlDag:
        @staticmethod
        def with_sep(catalog):
            return catalog.selectExpr("*", "`sep_deg` * 3600.0D AS `sep_arcsec`")

        @staticmethod
        def per_sample(with_sep):
            return with_sep.groupBy("sample_id").agg(
                F.expr("count(*) AS n_objects"), F.expr("sum(`sep_arcsec`) AS sum_sep_arcsec")
            )

    catalog = read_catalog_source(spark, zone_catalogs[1][3.0])
    samples = uniform_sphere_samples(spark, 100, seed=1)
    analysis = Analysis(
        {
            "sampling_parameters": {
                "n_samples": 10_000, "sample_dimensions": 0.5,
                "dec_bounds": [-20.0, 20.0], "seed": 1,
            },
            "dataset_parameters": {"columns": ["object_id"]},
        },
        {
            "with_sep": {"needed-data": ["catalog"]},
            "per_sample": {"dependencies": {"with_sep": "with_sep"}, "is-output": True},
        },
        SqlDag,
    )
    builds = {
        "cone_search": (lambda: cone_search(catalog, samples), 100),
        "uniform_sphere_samples": (lambda: uniform_sphere_samples(spark, 10_000, seed=1), 30),
        "Analysis.build": (lambda: analysis.build(spark, catalog), 150),
    }
    for name, (build, budget) in builds.items():
        build()  # first call pays one-off JVM lookups
        with jvm_round_trips() as n:
            build()
        assert n[0] <= budget, f"{name} build took {n[0]} round trips"
    plan = cone_search(catalog, samples)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[__zone#\d+L, __sector#\d+L\]", plan), plan
    assert plan.count("Generate explode") == 2, plan
