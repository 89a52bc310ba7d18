"""Scalar/column function library (JVM-side expressions, no Python UDFs)."""

from cosmap_spark.functions.spherical import (  # noqa: F401
    SEP_DEG_SQL,
    ra_delta_sql,
    sep_deg_sql,
    zone_sql,
)
from cosmap_spark.functions.web import (  # noqa: F401
    canonical_url,
    url_features,
)
from cosmap_spark.functions.text import (  # noqa: F401
    find_card_numbers,
    luhn_valid,
    scrub_pii_strict,
)
