"""Cone search — the engine's core spatial operator, as ONE distributed join.

Reference semantics: for each sample (cone center + angular radius), return
every catalog row within that radius (reference protocol ``cone_search``,
src/cosmap/dataset/__init__.py:20-27; executed there as N independent
index probes inside a per-sample Python loop,
src/cosmap/dataset/opencosmo.py:38-54).

Spark-first restatement: a single join ``samples ⋈ catalog`` on the
angular-distance predicate.  A raw theta-join would be a nested loop; we
make it an EQUI-join with 2-D sky bucketing:

1. catalog rows get ``zone = floor((dec+90)/h)`` (Zones algorithm, Gray
   et al. MSR-TR-2006-52) and ``sector = floor(ra/w)``;
2. each sample explodes to the (zone, sector) cells its cone's bounding
   box touches — a handful of rows (RA wraparound handled by pmod;
   pole-adjacent cones cover all sectors of their zones);
3. join on (zone, sector) equality, AND the exact RA/dec bounding box,
   AND the exact haversine predicate as residual.

Candidate pairs per catalog row are the samples in ITS cell only — at
10k samples / 2160 cells that's ~25× less residual work than 1-D
zoning.  The 100 TB catalog side is never nested-loop-scanned.  The
join computes each row's zone from dec, so it prunes no parquet
partition or row group by itself: scan pruning is the literal ``zone``
range filter that ``Analysis.build`` puts on a zone-partitioned catalog
(sources.ingest_catalog, read through sources.read_catalog_source).

The join carries no hint, so Catalyst picks the build side from its
size estimates, or a shuffled join on the (zone, sector) cell when
neither side is under ``spark.sql.autoBroadcastJoinThreshold``.  At 10k
cones it builds the samples side; at 3M it broadcasts the zone-pruned
catalog (estimated 7.7 MB) and completes at a 1 GiB driver heap.
Limit: the estimate for ``Generate`` ignores the explode (samples side
0.2, 20 and 60 MB at 10k, 1M and 3M cones; a few times that exploded),
so with a catalog over the threshold and samples estimated just under
it the samples are broadcast and the run can fail at the heap cap —
loudly: ``publish`` keeps the previous output.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cosmap_spark.functions.spherical import (
    ra_delta_sql,
    ra_diff_wrapped_sql,
    sep_deg_sql,
    zone_sql,
)
from cosmap_spark.functions.sqlargs import double_sql, quote, require_number

DEFAULT_ZONE_DEG = 3.0
DEFAULT_SECTOR_DEG = 10.0
#: field-metadata key marking a catalog's stored ``zone`` column with
#: the zone height it was written with (sources.read_catalog_source)
ZONE_HEIGHT_KEY = "cosmap.zone_height_deg"


def cone_search(
    catalog: DataFrame,
    samples: DataFrame,
    *,
    zone_height_deg: float = DEFAULT_ZONE_DEG,
    sector_width_deg: float = DEFAULT_SECTOR_DEG,
    sep_col: str | None = "sep_deg",
) -> DataFrame:
    """Join each sample region to the catalog rows inside its cone.

    ``catalog`` needs columns ``ra, dec``; ``samples`` needs
    ``ra, dec, radius_deg``.  All other columns pass through (sample
    coordinates surface as ``s_ra, s_dec``).  When ``sep_col`` is set,
    the output carries the exact separation under that name.
    ``zone_height_deg`` and ``sector_width_deg`` must be finite
    numbers > 0.

    ``sector_width_deg`` is rounded to the nearest width that tiles
    the circle with an INTEGER sector count: the wrap arithmetic
    (``pmod`` of the cone's sector span) assumes ``n_sectors · width
    == 360`` exactly — with a non-divisor width the last partial
    sector would be reachable from the catalog side (``floor(ra/w)``)
    but never from a sample's wrapped span, silently dropping in-cone
    rows near ra = 360.

    Output column names must be distinct, compared case-insensitively
    as Spark resolves them by default: a name on both sides (or equal to
    ``sep_col``) is refused by name.

    The plan is built as SQL text — five ``selectExpr`` calls and one
    string join condition, about 55 py4j round trips (929 when every
    expression was an ``F.*`` call).
    """
    zone_lo, zone_hi, zone_cat = (
        zone_sql(dec, zone_height_deg)
        for dec in ("`s_dec` - `radius_deg`", "`s_dec` + `radius_deg`", "`dec`")
    )
    n_sectors = max(1, int(round(
        360.0 / require_number("sector_width_deg", sector_width_deg, positive=True)
    )))
    w = double_sql("sector width", 360.0 / n_sectors)  # exact tiling (see docstring)

    # sample coordinates take their output names (s_ra, s_dec) up front,
    # so the join condition and the projection need no frame qualifiers
    cat_cols, smp_cols = catalog.columns, samples.columns
    s_names = [{"ra": "s_ra", "dec": "s_dec"}.get(c, c) for c in smp_cols]
    out_names = cat_cols + s_names + ([sep_col] if sep_col else [])
    n_lower = Counter(c.lower() for c in out_names)
    if len(n_lower) < len(out_names):
        raise ValueError(
            "cone_search output names must be distinct (sample ra/dec surface as "
            "s_ra/s_dec, then sep_col); repeated: "
            f"{sorted({c for c in out_names if n_lower[c.lower()] > 1})}"
        )
    out = [quote(c, "column") for c in out_names]

    # sectors the cone's RA span touches, wrapped onto [0, n_sectors);
    # a span ≥ 360° (pole-adjacent cone) covers every sector
    lo = f"CAST(floor((`s_ra` - `__ra_delta`) / {w}) AS BIGINT)"
    hi = (
        f"least({lo} + {n_sectors - 1}, "
        f"CAST(floor((`s_ra` + `__ra_delta`) / {w}) AS BIGINT))"
    )
    s = (
        samples.selectExpr(
            *[f"{quote(c, 'column')} AS {n}" for c, n in zip(smp_cols, out[len(cat_cols):])],
            f"{ra_delta_sql('`dec`', '`radius_deg`')} AS `__ra_delta`",
        )
        .selectExpr("*", f"explode(sequence({zone_lo}, {zone_hi})) AS `__s_zone`")
        .selectExpr(
            "*",
            f"explode(array_distinct(transform(sequence({lo}, {hi}), "
            f"x -> pmod(x, {n_sectors})))) AS `__s_sector`",
        )
    )

    cat = catalog.selectExpr(
        "*",
        f"{zone_cat} AS `__zone`",
        # pmod guards the ra = 360.0 float edge (floor would emit
        # n_sectors, unreachable from any sample span)
        f"pmod(CAST(floor(`ra` / {w}) AS BIGINT), {n_sectors}) AS `__sector`",
    )

    sep = sep_deg_sql("`s_ra`", "`s_dec`", "`ra`", "`dec`")
    cond = (
        "`__zone` = `__s_zone` AND `__sector` = `__s_sector`"
        # conservative bbox: cheap prefilter evaluated before the trig
        " AND abs(`dec` - `s_dec`) <= `radius_deg`"
        f" AND {ra_diff_wrapped_sql('`ra`', '`s_ra`')} <= `__ra_delta`"
        # exact predicate
        f" AND {sep} <= `radius_deg`"
    )
    if sep_col:
        out[-1] = f"{sep} AS {out[-1]}"
    return cat.join(s, F.expr(cond), "inner").selectExpr(*out)


def cone_search_bruteforce(catalog: DataFrame, samples: DataFrame,
                           sep_col: str = "sep_deg") -> DataFrame:
    """Reference implementation: pure theta-join, no cell/bbox pruning.

    Used by tests to prove the pruned plan loses no rows; never the
    production path (nested-loop at scale).
    """
    s = samples.withColumnRenamed("ra", "s_ra").withColumnRenamed("dec", "s_dec")
    sep = sep_deg_sql("`s_ra`", "`s_dec`", "`ra`", "`dec`")
    return (
        catalog.join(s, F.expr(f"{sep} <= `radius_deg`"), "inner")
        .withColumn(sep_col, F.expr(sep))
    )


def crossmatch(
    left: DataFrame,
    right: DataFrame,
    *,
    radius_arcsec: float,
    left_id: str = "object_id",
    right_id: str = "object_id",
    best_match: bool = True,
    exclude_self: bool = False,
) -> DataFrame:
    """Catalog×catalog positional crossmatch — the multi-survey
    operation the reference's per-sample cone loop cannot express:
    ``[left_id → l_id, right_id → r_id, sep_arcsec]`` for every right
    row within ``radius_arcsec`` of a left row (``best_match=True``
    keeps only each left row's nearest, ties broken by r_id).

    Same Zones machinery and unhinted join as :func:`cone_search` (a
    shuffled cell join when both surveys are large, a broadcast of a
    small one), with (zone, sector) cells SCALED TO THE MATCH RADIUS —
    at arcsec radii the 3° default zones would put ~10⁶ rows of a
    10⁹-row survey in one cell and the candidate pairing inside it
    would be quadratic; radius-scaled cells keep candidates per row at
    (survey density × cell area).  Exact haversine residual; RA
    wraparound and pole cells inherit cone_search's handling.

    Self-match (``left is right``): pass ``exclude_self=True`` to drop
    the trivial l_id == r_id pairs (ids must then share one space).
    ``radius_arcsec`` must be a finite number > 0."""
    radius_deg = require_number("radius_arcsec", radius_arcsec, positive=True) / 3600.0
    # cells ~4 radii wide: each left row explodes to ≤ 2×2 cells while
    # cell population stays density-bounded; floors keep the cell grid
    # sane for huge radii (falls back to the cone_search defaults)
    zone_h = min(max(4.0 * radius_deg, 1e-3), DEFAULT_ZONE_DEG)
    # sector width: radius-scaled but CAPPED at 360 sectors (1° wide).
    # Pole-adjacent rows (|dec|+r ≥ 80°, where the RA bbox degenerates
    # to 360°) explode to EVERY sector of their zones; at 10⁴ sectors
    # that 1.5% of a sky-uniform catalog dominated the whole join
    # (measured 7.7 s → 1.6 s at sf0.1).  Zones carry the fine-grained
    # pruning; 1° sectors already bound cell population at
    # density × (zone_h × 1°).
    n_sec = min(max(int(360.0 // zone_h), 36), 360)  # zone_h >= 1e-3
    sector_w = 360.0 / n_sec
    l = left.select(
        F.col(left_id).alias("l_id"), "ra", "dec",
        F.lit(radius_deg).alias("radius_deg"),
    )
    r = right.select(F.col(right_id).alias("r_id"), "ra", "dec")
    matched = cone_search(
        r, l,
        zone_height_deg=zone_h,
        sector_width_deg=sector_w,
        sep_col="__sep",
    ).select(
        "l_id", "r_id",
        (F.col("__sep") * 3600.0).alias("sep_arcsec"),
    )
    if exclude_self:
        matched = matched.where(F.col("l_id") != F.col("r_id"))
    if best_match:
        from pyspark.sql import Window

        w = Window.partitionBy("l_id").orderBy(
            F.col("sep_arcsec").asc(), F.col("r_id").asc()
        )
        matched = (
            matched.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    return matched
