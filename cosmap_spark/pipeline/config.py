"""Parameter blocks: pydantic validation + ``@``-reference resolution.

Mirrors the reference's config layer semantics (driver-side pure Python):

* nested parameter tree validated by pydantic with user-extensible
  blocks (reference src/cosmap/config/analysis.py:41-139, ``extra =
  "allow"``);
* string values of the form ``"@Block.path.to.value"`` resolve against
  the config tree before validation (reference
  src/cosmap/config/block.py:37-69);
* sky quantities normalize AT INGEST to canonical degrees — a
  ``{"value": v, "units": "arcmin"}`` JSON becomes a plain float in
  degrees (reference validates into astropy Quantity,
  src/cosmap/config/models/sky.py:10-41; we reject executor-side unit
  objects by design, SURVEY.md §4.3.2).
"""

from __future__ import annotations

from typing import Any

from pydantic import BaseModel, ConfigDict, Field, field_validator

from cosmap_spark.pipeline.errors import DagValidationError

#: Declared unit table: unit name → (dimension, factor to that
#: dimension's CANONICAL unit).  The reference accepts arbitrary astropy
#: Quantities (src/cosmap/config/models/sky.py:10-41,
#: ``getattr(u, v["units"])``); this engine deliberately has no unit
#: objects past the config layer (SURVEY.md §4.3.2) — every quantity
#: normalizes HERE, driver-side, to one canonical float per dimension,
#: so unit conversion reaches the plan as a constant multiply that
#: Catalyst constant-folds.  Canonical units: angle→deg, length→Mpc,
#: mass→Msun, flux density→Jy, time→s, velocity→km/s.
_PC_PER_MPC = 1.0e6
_M_PER_PC = 3.0856775814913673e16        # IAU 2015 parsec, metres
_KG_PER_MSUN = 1.988409870698051e30      # IAU 2015 nominal solar mass
_S_PER_YR = 3.15576e7                    # Julian year

UNIT_TABLE: dict[str, tuple[str, float]] = {
    # angle — canonical deg
    "deg": ("angle", 1.0), "degree": ("angle", 1.0), "degrees": ("angle", 1.0),
    "arcmin": ("angle", 1.0 / 60.0), "arcminute": ("angle", 1.0 / 60.0),
    "arcsec": ("angle", 1.0 / 3600.0), "arcsecond": ("angle", 1.0 / 3600.0),
    "mas": ("angle", 1.0 / 3.6e6),
    "rad": ("angle", 57.29577951308232), "radian": ("angle", 57.29577951308232),
    # length — canonical Mpc
    "mpc": ("length", 1.0),
    "kpc": ("length", 1.0e-3),
    "pc": ("length", 1.0 / _PC_PER_MPC),
    "lyr": ("length", 9.4607304725808e15 / (_M_PER_PC * _PC_PER_MPC)),
    "au": ("length", 1.0 / (206264.80624709636 * _PC_PER_MPC)),
    "km": ("length", 1.0e3 / (_M_PER_PC * _PC_PER_MPC)),
    "m": ("length", 1.0 / (_M_PER_PC * _PC_PER_MPC)),
    # mass — canonical Msun
    "msun": ("mass", 1.0), "m_sun": ("mass", 1.0), "solmass": ("mass", 1.0),
    "kg": ("mass", 1.0 / _KG_PER_MSUN),
    "g": ("mass", 1.0e-3 / _KG_PER_MSUN),
    # flux density — canonical Jy
    "jy": ("flux", 1.0), "jansky": ("flux", 1.0),
    "mjy": ("flux", 1.0e-3), "ujy": ("flux", 1.0e-6),
    "w/m2/hz": ("flux", 1.0e26),
    # time — canonical s
    "s": ("time", 1.0), "second": ("time", 1.0), "seconds": ("time", 1.0),
    "min": ("time", 60.0), "minute": ("time", 60.0),
    "hr": ("time", 3600.0), "hour": ("time", 3600.0),
    "day": ("time", 86400.0), "days": ("time", 86400.0),
    "yr": ("time", _S_PER_YR), "year": ("time", _S_PER_YR),
    "myr": ("time", _S_PER_YR * 1.0e6), "gyr": ("time", _S_PER_YR * 1.0e9),
    # velocity — canonical km/s
    "km/s": ("velocity", 1.0), "m/s": ("velocity", 1.0e-3),
    # dimensionless
    "": ("dimensionless", 1.0), "1": ("dimensionless", 1.0),
    "dimensionless": ("dimensionless", 1.0),
}

#: dimension → canonical unit name (for error messages / docs)
CANONICAL_UNIT = {
    "angle": "deg", "length": "Mpc", "mass": "Msun",
    "flux": "Jy", "time": "s", "velocity": "km/s", "dimensionless": "",
}


def quantity_to(q: Any, dimension: str | None = None) -> float:
    """Normalize a quantity spec to the canonical unit of its dimension.

    Accepts a bare number (assumed already canonical — requires
    ``dimension`` so "canonical" is well-defined) or ``{"value": v,
    "units": u}`` (reference README.md:155-163 JSON form).  When
    ``dimension`` is given, a quantity of any other dimension raises —
    the validation the reference delegates to astropy
    (``Quantity.to`` raising ``UnitConversionError``), done here against
    the declared table."""
    if isinstance(q, bool):
        raise ValueError(f"cannot interpret quantity {q!r}")
    if isinstance(q, (int, float)):
        if dimension is None:
            raise ValueError(
                "bare number needs an expected dimension to be canonical"
            )
        return float(q)
    if isinstance(q, dict) and "value" in q:
        unit = str(q.get("units", "")).lower()
        if unit not in UNIT_TABLE:
            raise ValueError(f"unknown unit {unit!r}")
        dim, factor = UNIT_TABLE[unit]
        if dimension is not None and dim != dimension:
            raise ValueError(
                f"expected a {dimension} quantity (canonical "
                f"{CANONICAL_UNIT[dimension]}), got {dim} unit {unit!r}"
            )
        return float(q["value"]) * factor
    raise ValueError(f"cannot interpret quantity {q!r}")


def quantity_to_deg(q: Any) -> float:
    """Angle-only shorthand: bare numbers are assumed degrees."""
    if isinstance(q, dict) and "value" in q and "units" not in q:
        q = {**q, "units": "deg"}
    return quantity_to(q, "angle")


# --- @-reference resolution ----------------------------------------------


def _lookup(tree: dict, dotted: str) -> Any:
    cur: Any = tree
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            raise DagValidationError(f"unresolvable config reference @{dotted}")
        cur = cur[part]
    return cur


def resolve_references(tree: dict) -> dict:
    """Replace every ``"@a.b.c"`` string value with the referenced value
    (reference find_ref_values/resolve_references,
    src/cosmap/config/block.py:37-69).  Chained references resolve
    transitively; reference cycles raise."""

    def resolve_value(v: Any, seen: tuple[str, ...]) -> Any:
        if isinstance(v, str) and v.startswith("@"):
            path = v[1:]
            if path in seen:
                raise DagValidationError(f"reference cycle at @{path}")
            return resolve_value(_lookup(tree, path), seen + (path,))
        if isinstance(v, dict):
            return {k: resolve_value(x, seen) for k, x in v.items()}
        if isinstance(v, list):
            return [resolve_value(x, seen) for x in v]
        return v

    return {k: resolve_value(v, ()) for k, v in tree.items()}


# --- parameter models -----------------------------------------------------


class SamplingParameters(BaseModel):
    """Reference src/cosmap/config/analysis.py:57-94 (CosmapSamplingParameters)."""

    model_config = ConfigDict(extra="allow")

    sample_type: str = "Random"
    sample_shape: str = "Circle"
    #: circle radius, degrees (normalized from any angular unit)
    sample_dimensions: float = 1.0
    n_samples: int = Field(default=1000, ge=1)
    ra_bounds: tuple[float, float] = (0.0, 360.0)
    dec_bounds: tuple[float, float] = (-90.0, 90.0)
    seed: int = 42

    @field_validator("sample_dimensions", mode="before")
    @classmethod
    def _norm_dims(cls, v: Any) -> float:
        return quantity_to_deg(v)

    # A radius that is not a positive number matches no catalog row, so
    # the run would write an empty output with no error; a declination
    # outside the sphere folds back through asin(sin dec) and breaks the
    # area-uniform draw, and a reversed or empty dec band would reach a
    # sampler plugin as is.  RA stays unchecked: a wrap patch is written
    # with a negative lower bound.
    @field_validator("sample_dimensions")
    @classmethod
    def _positive_dims(cls, v: float) -> float:
        if not v > 0:
            raise ValueError(f"sample_dimensions must be > 0 degrees, got {v}")
        return v

    @field_validator("dec_bounds")
    @classmethod
    def _dec_on_sphere(cls, v: tuple[float, float]) -> tuple[float, float]:
        if not all(-90.0 <= d <= 90.0 for d in v):
            raise ValueError(f"dec_bounds must lie within [-90, 90], got {v}")
        if not v[0] < v[1]:
            raise ValueError(f"dec_bounds must be (low, high) with low < high, got {v}")
        return v


class DatasetParameters(BaseModel):
    """Reference src/cosmap/config/analysis.py:96-111."""

    model_config = ConfigDict(extra="allow")

    path: str = ""
    table: str = "catalog"
    columns: list[str] | None = None  # O3: projection pushed to the scan


class OutputParameters(BaseModel):
    """Reference src/cosmap/config/analysis.py:114-118."""

    model_config = ConfigDict(extra="allow")

    path: str = ""
    format: str = "parquet"
    mode: str = "append"


class AnalysisConfig(BaseModel):
    """Top-level block (reference ``Main``,
    src/cosmap/config/analysis.py:121-139)."""

    model_config = ConfigDict(extra="allow")

    name: str = "analysis"
    sampling_parameters: SamplingParameters = SamplingParameters()
    dataset_parameters: DatasetParameters = DatasetParameters()
    output_parameters: OutputParameters = OutputParameters()
    analysis_parameters: dict[str, Any] = {}


def load_config(raw: dict) -> AnalysisConfig:
    """Resolve @refs then validate (reference create_analysis_block,
    src/cosmap/config/block.py:10-34)."""
    return AnalysisConfig.model_validate(resolve_references(raw))


def combine_run_config(analysis_params: dict, run_config: dict) -> dict:
    """Merge a run config over the analysis' parameters.json (reference
    src/cosmap/api/cmds.py:45 + utils.py:12-52): right-biased deep merge,
    dropping the run-file-only keys."""
    from cosmap_spark.pipeline.manage import combine_dicts

    overlay = {
        k: v for k, v in run_config.items()
        if k not in ("base-analysis", "analysis-mod")
    }
    return combine_dicts(analysis_params, overlay)
