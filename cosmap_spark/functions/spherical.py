"""Spherical geometry as SQL text for native Spark expressions.

The reference delegates angular separation to ``astropy`` —
``center.separation(coords)`` in the README tutorial (reference
README.md:60-66) — and spatial containment to external survey libraries
(reference src/cosmap/dataset/opencosmo.py:52-54).  Here both are plain
Catalyst expressions: whole-stage-codegen'd, pushdown-friendly, and
expressible identically in ANSI SQL for the DuckDB oracle.

Each builder returns SQL text over SQL-expression arguments, so an
operator puts a whole formula into one ``selectExpr`` or ``F.expr``
string instead of paying py4j round trips for every ``F.*`` call
(CLAUDE.md, plan building).

All angles in degrees unless suffixed otherwise.
"""

from __future__ import annotations

import math

from cosmap_spark.functions.sqlargs import double_sql, require_number


def sep_deg_sql(ra1: str, dec1: str, ra2: str, dec2: str) -> str:
    """Great-circle separation via the haversine formula, in degrees,
    as SQL text over the SQL expressions ``ra1, dec1, ra2, dec2``.

    ``2*asin(sqrt(h))`` with ``h = sin²(Δdec/2) + cos dec1 · cos dec2 ·
    sin²(Δra/2)``.  ``least(1.0, h)`` clamps floating-point overshoot for
    near-antipodal pairs so ``asin`` never sees an argument > 1.
    Handles RA wraparound implicitly (sin is periodic).

    The same text is the DuckDB oracle's, so its constants are plain
    (``2.0``, ``1.0``): Spark reads them as exact decimals that meet a
    double operand and are cast to DOUBLE before any arithmetic, so
    they give the same bits as DOUBLE literals.
    """
    return (
        "2.0 * degrees(asin(sqrt(least(1.0, "
        f"pow(sin(radians({dec2} - {dec1}) / 2), 2) "
        f"+ cos(radians({dec1})) * cos(radians({dec2})) "
        f"* pow(sin(radians({ra2} - {ra1}) / 2), 2)))))"
    )


#: Canonical oracle text for samples⋈catalog separation.
SEP_DEG_SQL = sep_deg_sql("s.ra", "s.dec", "c.ra", "c.dec")


def ra_delta_sql(dec_center: str, radius_deg: str) -> str:
    """Conservative half-width in RA of a cone's bounding box, as SQL
    text over the SQL expressions ``dec_center`` and ``radius_deg``.

    ``radius / cos(|dec| + radius)`` over-covers the true RA extent
    (``asin(sin r / cos dec)``) for |dec|+r < 80°; above that the cone may
    lap the pole so we disable the RA constraint entirely (360 ⇒ always
    true).  Used only as a *prefilter* ANDed with the exact haversine
    predicate, so over-coverage costs a little CPU, never correctness.
    The reference computed a bbox like this and then never used it — with
    a sign bug (reference src/cosmap/dataset/opencosmo.py:42-50, bug at
    :48); ours is used and tested against the brute-force join.
    """
    edge = f"abs({dec_center}) + ({radius_deg})"
    return (
        f"CASE WHEN {edge} >= 80.0D THEN 360.0D "
        f"ELSE ({radius_deg}) / cos(radians({edge})) END"
    )


def ra_diff_wrapped_sql(ra1: str, ra2: str) -> str:
    """|ra1 − ra2| on the circle, in [0, 180], as SQL text."""
    d = f"abs(({ra1}) - ({ra2}))"
    return f"least({d}, 360.0D - {d})"


def zone_sql(dec: str, zone_height_deg: float) -> str:
    """Zones-algorithm zone id ``floor((dec + 90) / h)`` as a BIGINT, as
    SQL text over the SQL expression ``dec``.

    Declination zoning (Gray et al., "The Zones Algorithm for Finding
    Points-Near-a-Point or Cross-Matching Spatial Datasets", MSR-TR-2006-52)
    turns the cone-search theta-join into an equi-join on zone id, which
    Spark executes as a hash join instead of a nested-loop — the property
    that keeps the spatial join scalable when neither side is tiny.

    ``zone_height_deg`` must be a finite positive number: a negative
    height reverses every zone range, so a ``between(lo, hi)`` over
    zones would match nothing without an error.
    """
    h = double_sql("zone_height_deg", zone_height_deg, positive=True)
    return f"CAST(floor((({dec}) + 90.0D) / {h}) AS BIGINT)"


def zone_range(dec_lo: float, dec_hi: float, zone_height_deg: float) -> tuple[int, int]:
    """The first and last zone ``zone_sql`` gives the declinations
    in ``[dec_lo, dec_hi]``, clamped to [-90, 90].  Driver-side, with
    the same ``floor((x + 90) / h)`` double arithmetic, so the range
    holds every zone of a declination inside the interval."""
    h = require_number("zone_height_deg", zone_height_deg, positive=True)
    lo, hi = max(-90.0, dec_lo), min(90.0, dec_hi)
    return math.floor((lo + 90.0) / h), math.floor((hi + 90.0) / h)
