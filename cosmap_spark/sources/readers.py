"""Source readers + the catalog-ingest job.

Reference sources: heinlein named datasets (O1, reference
src/cosmap/dataset/plugins.py:20-29), directories of opencosmo HDF5
files (O2, src/cosmap/dataset/opencosmo.py:57-65), and JSON/TOML run
configs (O4, driver-side).  Our engine's at-rest format is Parquet;
HDF5 arrives through a one-time ingest job (HDF5 is not a splittable
distributed format — converting beats teaching executors to read it).
"""

from __future__ import annotations

import json
import math
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cosmap_spark.functions.spherical import zone_sql
from cosmap_spark.operators.cone_search import DEFAULT_ZONE_DEG, ZONE_HEIGHT_KEY

#: what :func:`ingest_catalog` writes next to a zone catalog: its zone
#: height and written schema.  The ``_`` prefix hides it from Spark.
CATALOG_SIDECAR = "_cosmap_catalog.json"

_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def read_catalog_source(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "parquet",
    columns: list[str] | None = None,
) -> DataFrame:
    """Read a catalog table with optional source projection (reference
    O3, config-driven column list, src/cosmap/dataset/opencosmo.py:23-24).
    The projection reaches the parquet reader (ReadSchema pruning).

    A parquet catalog written by :func:`ingest_catalog` to a local or
    ``file:`` path carries a sidecar (``CATALOG_SIDECAR``), and then the
    read launches no Spark job: the stored schema replaces parquet
    schema inference, and the ``zone=`` directories are listed on the
    driver (their number is bounded by the zone height).  The ``zone``
    column comes back as ``long``, marked with its height in the field
    metadata (``ZONE_HEIGHT_KEY``); :meth:`Analysis.build` reads only
    the zones its samples can reach from such a frame.  ``columns=``
    drops ``zone`` unless listed, and with it that pruning.  Without
    the sidecar the read is Spark's plain one."""
    if fmt == "parquet":
        df = _read_zone_catalog(spark, path)
        if df is None:
            df = spark.read.parquet(path)
    elif fmt == "csv":
        df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    elif fmt == "json":
        df = spark.read.json(path)
    elif fmt == "orc":
        df = spark.read.orc(path)
    elif fmt == "text":
        df = spark.read.text(path)
    else:
        raise ValueError(f"unsupported source format {fmt!r}")
    if columns:
        df = df.select(*columns)
    return df


def _sidecar_dir(path: str) -> str | None:
    """The local directory a catalog path names; None for a remote URI,
    where the catalog has no sidecar."""
    from cosmap_spark.sinks.writers import _require_local

    try:
        return _require_local(path, "catalog sidecar")
    except ValueError:
        return None


def _read_zone_catalog(spark: SparkSession, path: str) -> DataFrame | None:
    """The job-free read of an :func:`ingest_catalog` output, or None
    when ``path`` has no sidecar."""
    local = _sidecar_dir(path)
    if local is None:
        return None
    try:
        with open(os.path.join(local, CATALOG_SIDECAR)) as f:
            meta = json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None
    h = meta["zone_height_deg"]
    # Spark lists more subdirectories than the threshold with a job;
    # a zone catalog has at most ceil(180/h)+1 of them.  Raised for
    # this read only, so other partitioned stores still list in parallel.
    prior = spark.conf.get(_DISCOVERY_THRESHOLD, None)
    bound = math.ceil(180.0 / h) + 1
    spark.conf.set(_DISCOVERY_THRESHOLD, str(max(bound, int(prior or 0))))
    try:
        df = spark.read.schema(StructType.fromJson(meta["schema"])).parquet(path)
    finally:
        if prior is None:
            spark.conf.unset(_DISCOVERY_THRESHOLD)
        else:
            spark.conf.set(_DISCOVERY_THRESHOLD, prior)
    return df.withMetadata("zone", {ZONE_HEIGHT_KEY: h})


def identify_hdf5_files(path: str | Path) -> list[Path]:
    """Glob *.hdf5 under a directory, or accept a single file (reference
    identify_opencosmo_files, src/cosmap/dataset/opencosmo.py:57-65)."""
    p = Path(path)
    if p.is_file():
        return [p]
    files = sorted(p.glob("*.hdf5")) + sorted(p.glob("*.h5"))
    if not files:
        raise FileNotFoundError(f"no HDF5 files under {p}")
    return files


def _default_hdf5_reader(file_path: str, dataset_key: str):
    """Open ONE HDF5 file and return the named group as a pandas frame
    (reference layout: one group per data type, one 1-D dataset per
    column — src/cosmap/dataset/opencosmo.py:22 ``oc.open``).

    Prefers h5py (full-format coverage) and falls back to the engine's
    own ``sources.hdf5lite`` codec — a dependency-free byte-level
    parser of the simple subset the reference writes (v0 superblock,
    v1 headers, contiguous LE int/float 1-D datasets) — so simple
    files ingest end-to-end even where h5py is not installed; files
    beyond the subset raise a ``ValueError`` NAMING the unsupported
    feature.  Injectable via ``read_hdf5_directory(reader=...)`` for
    other in-file layouts."""
    import pandas as pd

    try:
        import h5py
    except ImportError:
        from cosmap_spark.sources.hdf5lite import read_hdf5_group

        return read_hdf5_group(file_path, dataset_key)

    with h5py.File(file_path, "r") as f:  # pragma: no cover - needs h5py
        grp = f[dataset_key]
        return pd.DataFrame({name: grp[name][...] for name in grp})


def read_hdf5_directory(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    dataset_key: str = "catalog",
    reader=None,
) -> DataFrame:
    """Ingest a directory of HDF5 files as one DataFrame (reference O2,
    src/cosmap/dataset/opencosmo.py:57-65 ``identify_opencosmo_files`` +
    ``oc.open``).

    HDF5 is not a splittable distributed format, so the scale shape is:
    the driver lists file paths only (never opens them); the paths become
    a one-column DataFrame repartitioned so each task owns whole files;
    executors open THEIR files inside ``mapInPandas`` and emit Arrow
    batches.  Parallelism = number of files; no driver bottleneck and no
    byte ever moves through the driver.  ``schema`` is declared by the
    caller (engine policy: no first-row inference — SURVEY.md §7 hard
    part 3); columns are projected/ordered to match it.

    ``reader(file_path, dataset_key) -> pandas.DataFrame`` defaults to
    the h5py-backed :func:`_default_hdf5_reader`; inject a fake for
    tests or a different in-file layout.
    """
    from pyspark.sql.types import StructType

    files = identify_hdf5_files(path)
    read_one = reader or _default_hdf5_reader
    field_names = [f.name for f in StructType.fromDDL(schema).fields]
    assignments = spark.createDataFrame(
        [(str(f),) for f in files], "file_path string"
    ).repartition(len(files), "file_path")

    def ingest(batches):
        for pdf in batches:
            for file_path in pdf["file_path"]:
                out = read_one(file_path, dataset_key)
                # explicit mismatch check: a file lacking declared
                # columns must fail with the file NAMED, not a pandas
                # KeyError buried in a task stack trace (extra columns
                # are silently projected away — the declared schema is
                # the contract, reference opencosmo.py:52-54)
                missing = [c for c in field_names if c not in out.columns]
                if missing:
                    raise ValueError(
                        f"HDF5 file {file_path} group {dataset_key!r} "
                        f"lacks declared columns {missing}; has "
                        f"{sorted(out.columns)}"
                    )
                yield out[field_names]

    return assignments.mapInPandas(ingest, schema=schema)


def ingest_catalog(
    catalog: DataFrame,
    path: str,
    *,
    zone_height_deg: float = DEFAULT_ZONE_DEG,
    files_per_zone: int = 1,
) -> None:
    """The catalog-ingest job: write the survey catalog zone-partitioned
    and dec-sorted.

    This is the scale-critical half of the cone search (SURVEY.md
    §4.3.1): with ``zone = floor((dec + 90) / zone_height_deg)`` as a
    partition column and rows sorted by (zone, dec) inside files, a
    literal ``zone`` range filter prunes partitions, and a literal
    ``dec`` range filter can skip row groups via parquet min/max.  The
    cone join alone prunes nothing (its zone is computed per row);
    :meth:`Analysis.build` adds the zone filter for a catalog read
    through :func:`read_catalog_source`.

    After the data, a local or ``file:`` path gets the sidecar
    ``CATALOG_SIDECAR`` (the zone height and the written schema, with
    ``zone`` as ``long``), written to a temporary file and renamed into
    place.  The overwrite is static, so the old sidecar goes with the
    old data before the write job; a missing sidecar only turns off the
    fast read.  Remote URIs get no sidecar.  ``zone_height_deg`` must be
    a finite number > 0.

    ``files_per_zone > 1`` splits each zone across up to that many
    write tasks/files (repartition on (zone, dec-range slice) — two
    slices can still hash to one task — dec-sliced so
    every file still covers a NARROW dec band and row-group min/max
    pruning keeps its selectivity): the knob for surveys whose zones
    outgrow a single write task — one 100 GB zone must not serialize
    through one task or land as one unsplittable file.
    """
    if files_per_zone < 1:
        raise ValueError(f"files_per_zone must be >= 1; got {files_per_zone}")
    zoned = catalog.withColumn("zone", F.expr(zone_sql("`dec`", zone_height_deg)))
    if files_per_zone == 1:
        rep = zoned.repartition(F.col("zone"))
    else:
        # slice each zone by dec position inside it, not by hash: the
        # sort below is per-partition, so hash-sliced files would each
        # span the whole zone's dec range and min/max pruning degrades.
        # The partition count is EXPLICIT (zones × fan-out, one tiny
        # distinct-count job) — with only hash columns AQE is free to
        # coalesce small shuffles back into few tasks, silently undoing
        # the requested fan-out.
        frac = (F.col("dec") / F.lit(zone_height_deg)) - F.floor(
            F.col("dec") / F.lit(zone_height_deg)
        )
        slice_col = F.least(
            F.floor(frac * files_per_zone).cast("int"),
            F.lit(files_per_zone - 1),
        )
        n_zones = zoned.select("zone").distinct().count()
        rep = zoned.repartition(
            max(1, n_zones) * files_per_zone, F.col("zone"), slice_col
        )
    (
        rep.sortWithinPartitions("zone", "dec")
        .write.mode("overwrite")
        # even under a session's dynamic overwrite mode: zone
        # directories of an earlier height must not survive next to
        # the new ones
        .option("partitionOverwriteMode", "static")
        .partitionBy("zone")
        .parquet(path)
    )
    local = _sidecar_dir(path)
    if local is None:
        return
    data = [f for f in zoned.schema.fields if f.name != "zone"]
    schema = StructType(data + [zoned.schema["zone"]])
    tmp = os.path.join(local, CATALOG_SIDECAR + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"zone_height_deg": float(zone_height_deg), "schema": schema.jsonValue()}, f)
    os.replace(tmp, os.path.join(local, CATALOG_SIDECAR))


def read_csv_tolerant(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """CSV ingest that quarantines malformed rows instead of failing the
    job (PERMISSIVE + corrupt-record column) — at landing-zone scale a
    handful of bad lines must not kill a 10⁵-task ingest.  Callers split
    the result on ``corrupt_col IS NULL``: clean rows forward, quarantine
    rows to a dead-letter sink for inspection."""
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(f"{schema}, {corrupt_col} string")
        .csv(path)
    )


def read_jsonl_documents(
    spark: SparkSession,
    path: str,
    *,
    schema: str = "doc_id bigint, text string, lang string, source string, meta map<string,string>",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSONL corpus ingest — the interchange format LLM-training corpora
    actually arrive in (one JSON object per line: Dolma, RedPajama, the
    Pile all ship this shape).

    Same dead-letter contract as ``read_csv_tolerant``: PERMISSIVE mode
    quarantines malformed lines into ``corrupt_col`` instead of failing
    a 10⁵-task ingest; callers split on ``corrupt_col IS NULL``.  The
    schema is EXPLICIT (never inferred): inference would scan the whole
    landing zone twice and lock in whatever the first sample happened
    to contain — at 100 TB the schema is a contract, not a guess.

    JSON lines are splittable by newline, so a single huge .jsonl file
    still parallelizes across tasks (unlike multiline JSON); compressed
    inputs should be zstd/bzip2 (splittable) or pre-sharded gzip.
    """
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(f"{schema}, {corrupt_col} string")
        .json(path)
    )
