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

Catalyst plans a BroadcastHashJoin when the exploded samples side is
small (the common case: samples ≈ 10³–10⁶) or a shuffled hash join
partitioned by cell otherwise.  Candidate pairs per catalog row are the
samples in ITS cell only — at 10k samples / 2160 cells that's ~25× less
residual work than 1-D zoning.  The 100 TB catalog side is never
nested-loop-scanned and, in the broadcast case, never shuffled.  The
join computes each row's ``__zone`` from dec, so it prunes no parquet
partition or row group by itself: scan pruning is the literal ``zone``
range filter that ``Analysis.build`` puts on a zone-partitioned catalog
(sources.ingest_catalog, read through sources.read_catalog_source).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cosmap_spark.functions.spherical import (
    angular_sep_deg,
    ra_delta_deg,
    ra_diff_wrapped,
    zone_of_dec,
)

DEFAULT_ZONE_DEG = 3.0
DEFAULT_SECTOR_DEG = 10.0
#: field-metadata key marking a catalog's stored ``zone`` column with
#: the zone height it was written with (sources.read_catalog_source)
ZONE_HEIGHT_KEY = "cosmap.zone_height_deg"


def _sector_of_ra(ra: Column, w: float) -> Column:
    return F.floor(ra / F.lit(w)).cast("long")


def cone_search(
    catalog: DataFrame,
    samples: DataFrame,
    *,
    zone_height_deg: float = DEFAULT_ZONE_DEG,
    sector_width_deg: float = DEFAULT_SECTOR_DEG,
    broadcast_samples: bool = True,
    sep_col: str | None = "sep_deg",
) -> DataFrame:
    """Join each sample region to the catalog rows inside its cone.

    ``catalog`` needs columns ``ra, dec``; ``samples`` needs
    ``ra, dec, radius_deg``.  All other columns pass through (sample
    coordinates surface as ``s_ra, s_dec``).  When ``sep_col`` is set,
    the output carries the exact separation under that name.
    ``zone_height_deg`` must be a finite number > 0.

    ``sector_width_deg`` is rounded to the nearest width that tiles
    the circle with an INTEGER sector count: the wrap arithmetic
    (``pmod`` of the cone's sector span) assumes ``n_sectors · width
    == 360`` exactly — with a non-divisor width the last partial
    sector would be reachable from the catalog side (``floor(ra/w)``)
    but never from a sample's wrapped span, silently dropping in-cone
    rows near ra = 360.
    """
    n_sectors = max(1, int(round(360.0 / sector_width_deg)))
    w = 360.0 / n_sectors  # exact tiling (see docstring)

    s = samples
    for c in ("ra", "dec"):
        s = s.withColumnRenamed(c, f"__s_{c}")
    dra = ra_delta_deg(F.col("__s_dec"), F.col("radius_deg"))
    # sectors the cone's RA span touches, wrapped onto [0, n_sectors);
    # a span ≥ 360° (pole-adjacent cone) covers every sector
    lo = F.floor((F.col("__s_ra") - dra) / F.lit(w)).cast("long")
    hi = F.least(
        lo + F.lit(n_sectors - 1),
        F.floor((F.col("__s_ra") + dra) / F.lit(w)).cast("long"),
    )
    sectors = F.array_distinct(
        F.transform(F.sequence(lo, hi), lambda x: F.pmod(x, F.lit(n_sectors)))
    )
    s = (
        s.withColumn("__ra_delta", dra)
        .withColumn(
            "__zone",
            F.explode(
                F.sequence(
                    zone_of_dec(F.col("__s_dec") - F.col("radius_deg"), zone_height_deg),
                    zone_of_dec(F.col("__s_dec") + F.col("radius_deg"), zone_height_deg),
                )
            ),
        )
        .withColumn("__sector", F.explode(sectors))
    )
    if broadcast_samples:
        s = F.broadcast(s)

    cat = catalog.withColumn(
        "__zone", zone_of_dec(F.col("dec"), zone_height_deg)
    ).withColumn(
        # pmod guards the ra = 360.0 float edge (floor would emit
        # n_sectors, unreachable from any sample span)
        "__sector", F.pmod(_sector_of_ra(F.col("ra"), w), F.lit(n_sectors))
    )

    sep = angular_sep_deg(F.col("__s_ra"), F.col("__s_dec"), cat["ra"], cat["dec"])
    cond = (
        (cat["__zone"] == s["__zone"])
        & (cat["__sector"] == s["__sector"])
        # conservative bbox: cheap prefilter evaluated before the trig
        & (F.abs(cat["dec"] - F.col("__s_dec")) <= F.col("radius_deg"))
        & (ra_diff_wrapped(cat["ra"], F.col("__s_ra")) <= F.col("__ra_delta"))
        # exact predicate
        & (sep <= F.col("radius_deg"))
    )
    out = cat.join(s, cond, "inner")
    if sep_col:
        out = out.withColumn(sep_col, sep)
    out = out.drop("__zone", "__sector", "__ra_delta")
    out = out.withColumnRenamed("__s_ra", "s_ra").withColumnRenamed("__s_dec", "s_dec")
    return out


def cone_search_bruteforce(catalog: DataFrame, samples: DataFrame,
                           sep_col: str = "sep_deg") -> DataFrame:
    """Reference implementation: pure theta-join, no cell/bbox pruning.

    Used by tests to prove the pruned plan loses no rows; never the
    production path (nested-loop at scale).
    """
    s = samples.withColumnRenamed("ra", "s_ra").withColumnRenamed("dec", "s_dec")
    sep = angular_sep_deg(F.col("s_ra"), F.col("s_dec"), catalog["ra"], catalog["dec"])
    return (
        catalog.join(s, sep <= s["radius_deg"], "inner")
        .withColumn(sep_col, sep)
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
    broadcast_left: bool = False,
) -> DataFrame:
    """Catalog×catalog positional crossmatch — the multi-survey
    operation the reference's per-sample cone loop cannot express:
    ``[left_id → l_id, right_id → r_id, sep_arcsec]`` for every right
    row within ``radius_arcsec`` of a left row (``best_match=True``
    keeps only each left row's nearest, ties broken by r_id).

    Same Zones machinery as :func:`cone_search` but SYMMETRIC: both
    sides are corpus-sized, so nothing broadcasts by default
    (``broadcast_left=True`` opts in when the left survey is small)
    and the join is a shuffled hash/sort-merge on (zone, sector) cells
    SCALED TO THE MATCH RADIUS — at arcsec radii the 3° default zones
    would put ~10⁶ rows of a 10⁹-row survey in one cell and the
    candidate pairing inside it would be quadratic; radius-scaled
    cells keep candidates per row at (survey density × cell area).
    Exact haversine residual; RA wraparound and pole cells inherit
    cone_search's handling.

    Self-match (``left is right``): pass ``exclude_self=True`` to drop
    the trivial l_id == r_id pairs (ids must then share one space)."""
    radius_deg = radius_arcsec / 3600.0
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
        broadcast_samples=broadcast_left,
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
