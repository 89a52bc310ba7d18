"""Named-dataset registry — the heinlein analog.

The reference resolves a dataset NAME to data through an external
catalog manager: ``heinleinPlugin(dataset_name)`` looks the survey up
by name and hands every worker a queryable handle (reference
src/cosmap/dataset/plugins.py:20-32).  Here the same indirection is a
JSON registry mapping ``name -> {path, format, columns}`` (the pattern
of pipeline/manage.py's analysis registry): pipelines and the CLI refer
to catalogs by NAME, and the binding to a concrete parquet/CSV/JSON/HDF5
location lives in one place.

Driver-side only — resolution produces a ``spark.read`` plan; executors
never see the registry.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from cosmap_spark.pipeline.errors import CosmapSparkError
from cosmap_spark.pipeline.manage import (
    _default_registry,
    _read_registry,
    _write_registry,
)
from cosmap_spark.sources.readers import read_catalog_source, read_hdf5_directory


def _registry(registry: Path | None) -> Path:
    """The given registry, else ``$COSMAP_SPARK_DATASETS``, else
    ``~/.cosmap_spark/known_datasets.json`` — resolved per call."""
    return registry or _default_registry(
        "COSMAP_SPARK_DATASETS", "known_datasets.json"
    )


def register_dataset(
    name: str,
    path: str | Path,
    *,
    fmt: str = "parquet",
    columns: list[str] | None = None,
    schema: str | None = None,
    registry: Path | None = None,
) -> None:
    """Record ``name -> {path, format, columns[, schema]}``.

    ``schema`` is required for (and only meaningful to) ``fmt="hdf5"``,
    whose ingest needs a declared schema (readers.read_hdf5_directory).
    Duplicate names are rejected, mirroring the analysis registry.
    ``fmt`` is validated HERE: a typo'd format would otherwise persist
    into the registry and only surface days later at first open."""
    supported = ("parquet", "csv", "json", "orc", "text", "hdf5")
    if fmt not in supported:
        raise CosmapSparkError(
            f"unsupported dataset format {fmt!r}; supported: {supported}"
        )
    if fmt == "hdf5" and not schema:
        raise CosmapSparkError("hdf5 datasets must declare a schema at registration")
    registry = _registry(registry)
    reg = _read_registry(registry)
    if name in reg:
        raise CosmapSparkError(f"dataset {name!r} is already registered")
    entry: dict[str, Any] = {"path": str(path), "format": fmt}
    if columns:
        entry["columns"] = list(columns)
    if schema:
        entry["schema"] = schema
    reg[name] = entry
    _write_registry(reg, registry)


def unregister_dataset(name: str, *, registry: Path | None = None) -> None:
    registry = _registry(registry)
    reg = _read_registry(registry)
    if name not in reg:
        raise CosmapSparkError(f"dataset {name!r} is not registered")
    del reg[name]
    _write_registry(reg, registry)


def list_datasets(*, registry: Path | None = None) -> dict[str, dict[str, Any]]:
    return _read_registry(_registry(registry))


def resolve_dataset(name: str, *, registry: Path | None = None) -> dict[str, Any]:
    reg = _read_registry(_registry(registry))
    if name not in reg:
        raise CosmapSparkError(f"dataset {name!r} is not registered")
    return reg[name]


def open_dataset(
    spark: SparkSession,
    name_or_path: str,
    *,
    columns: list[str] | None = None,
    registry: Path | None = None,
) -> DataFrame:
    """Open a dataset by registered NAME, falling back to treating the
    argument as a parquet path (so existing path-based callers keep
    working).  The registered column projection applies first; a caller
    projection NARROWS it (both reach the scan as ReadSchema pruning).
    A caller column outside the registered projection is refused — the
    registration may exist precisely to hide columns (PII, unstable
    fields), and silently widening past it would defeat that."""
    reg = _read_registry(_registry(registry))
    if name_or_path in reg:
        entry = reg[name_or_path]
        registered = entry.get("columns")
        if columns and registered:
            outside = [c for c in columns if c not in registered]
            if outside:
                raise CosmapSparkError(
                    f"dataset {name_or_path!r} registers columns "
                    f"{registered}; requested columns {outside} are "
                    "outside that projection"
                )
        cols = columns or registered
        if entry["format"] == "hdf5":
            df = read_hdf5_directory(spark, entry["path"], entry["schema"])
            return df.select(*cols) if cols else df
        return read_catalog_source(
            spark, entry["path"], fmt=entry["format"], columns=cols
        )
    return read_catalog_source(spark, name_or_path, columns=columns)
