"""Spherical geometry as native Spark column expressions.

The reference delegates angular separation to ``astropy`` —
``center.separation(coords)`` in the README tutorial (reference
README.md:60-66) — and spatial containment to external survey libraries
(reference src/cosmap/dataset/opencosmo.py:52-54).  Here both are plain
Catalyst expressions: whole-stage-codegen'd, pushdown-friendly, and
expressible identically in ANSI SQL for the DuckDB oracle.

All angles in degrees unless suffixed otherwise.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def angular_sep_deg(ra1: Column, dec1: Column, ra2: Column, dec2: Column) -> Column:
    """Great-circle separation via the haversine formula, in degrees.

    ``2*asin(sqrt(h))`` with ``h = sin²(Δdec/2) + cos dec1 · cos dec2 ·
    sin²(Δra/2)``.  ``least(1.0, h)`` clamps floating-point overshoot for
    near-antipodal pairs so ``asin`` never sees an argument > 1.
    Handles RA wraparound implicitly (sin is periodic).
    """
    h = (
        F.pow(F.sin(F.radians(dec2 - dec1) / 2), 2)
        + F.cos(F.radians(dec1)) * F.cos(F.radians(dec2))
        * F.pow(F.sin(F.radians(ra2 - ra1) / 2), 2)
    )
    return 2.0 * F.degrees(F.asin(F.sqrt(F.least(F.lit(1.0), h))))


def sep_deg_sql(ra1: str, dec1: str, ra2: str, dec2: str) -> str:
    """The oracle-SQL twin of :func:`angular_sep_deg` (textually parallel)."""
    return (
        "2.0 * degrees(asin(sqrt(least(1.0, "
        f"pow(sin(radians({dec2} - {dec1}) / 2), 2) "
        f"+ cos(radians({dec1})) * cos(radians({dec2})) "
        f"* pow(sin(radians({ra2} - {ra1}) / 2), 2)))))"
    )


#: Canonical oracle text for samples⋈catalog separation.
SEP_DEG_SQL = sep_deg_sql("s.ra", "s.dec", "c.ra", "c.dec")


def ra_delta_deg(dec_center: Column, radius_deg: Column) -> Column:
    """Conservative half-width in RA of a cone's bounding box.

    ``radius / cos(|dec| + radius)`` over-covers the true RA extent
    (``asin(sin r / cos dec)``) for |dec|+r < 80°; above that the cone may
    lap the pole so we disable the RA constraint entirely (360 ⇒ always
    true).  Used only as a *prefilter* ANDed with the exact haversine
    predicate, so over-coverage costs a little CPU, never correctness.
    The reference computed a bbox like this and then never used it — with
    a sign bug (reference src/cosmap/dataset/opencosmo.py:42-50, bug at
    :48); ours is used and tested against the brute-force join.
    """
    edge = F.abs(dec_center) + radius_deg
    return F.when(edge >= 80.0, F.lit(360.0)).otherwise(
        radius_deg / F.cos(F.radians(edge))
    )


def ra_diff_wrapped(ra1: Column, ra2: Column) -> Column:
    """|ra1 − ra2| on the circle, in [0, 180]."""
    d = F.abs(ra1 - ra2)
    return F.least(d, 360.0 - d)


def zone_of_dec(dec: Column, zone_height_deg: float) -> Column:
    """Zones-algorithm zone id: ``floor((dec + 90) / h)``.

    Declination zoning (Gray et al., "The Zones Algorithm for Finding
    Points-Near-a-Point or Cross-Matching Spatial Datasets", MSR-TR-2006-52)
    turns the cone-search theta-join into an equi-join on zone id, which
    Spark executes as a hash join instead of a nested-loop — the property
    that keeps the spatial join scalable when neither side is tiny.

    ``zone_height_deg`` must be a finite positive number: a negative
    height reverses every zone range, so a ``between(lo, hi)`` over
    zones would match nothing without an error.
    """
    h = _zone_height(zone_height_deg)
    return F.floor((dec + F.lit(90.0)) / F.lit(h)).cast("long")


def zone_range(dec_lo: float, dec_hi: float, zone_height_deg: float) -> tuple[int, int]:
    """The first and last zone ``zone_of_dec`` gives the declinations
    in ``[dec_lo, dec_hi]``, clamped to [-90, 90].  Driver-side, with
    the same ``floor((x + 90) / h)`` double arithmetic, so the range
    holds every zone of a declination inside the interval."""
    h = _zone_height(zone_height_deg)
    lo, hi = max(-90.0, dec_lo), min(90.0, dec_hi)
    return math.floor((lo + 90.0) / h), math.floor((hi + 90.0) / h)


def _zone_height(zone_height_deg: float) -> float:
    h = float(zone_height_deg)
    if not (math.isfinite(h) and h > 0):
        raise ValueError(
            f"zone_height_deg must be a finite number of degrees > 0, got {zone_height_deg!r}"
        )
    return h
