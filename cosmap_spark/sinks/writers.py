"""Sinks.

The reference's only writer is an append-mode CSV with hand-rolled
chunked numpy buffering (reference O23/O24,
src/cosmap/output/parser.py:46-119 + writer.py:23-35) and a dict-of-
outputs fan-out (O25, output/output.py:53-75).  Spark's writers replace
the buffering entirely: executors stream partitions to the sink, the
driver never materializes results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_FORMATS = ("parquet", "csv", "json", "orc")


def _require_format(fmt: str) -> None:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported sink format {fmt!r}")


def _writer(df: DataFrame, fmt: str, mode: str,
            partition_by: list[str] | None):
    """The one format switch of the sinks: a configured writer, ready
    for ``.save(path)``.  CSV gets one header per file — the
    distributed reading of the reference's header-on-first-write."""
    _require_format(fmt)
    writer = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer


def write_output(df: DataFrame, path: str, *, fmt: str = "parquet",
                 mode: str = "append", partition_by: list[str] | None = None) -> None:
    """General sink: parquet (primary), csv, json, orc; optional
    partitioning.  ``mode="overwrite"`` goes through :func:`publish`,
    so a failed or killed write leaves the previous output in place;
    every other mode is Spark's own."""
    if mode.lower() == "overwrite":  # Spark's mode names are case-blind
        publish(path, df, fmt=fmt, partition_by=partition_by)
    else:
        _writer(df, fmt, mode, partition_by).save(path)


def multi_output(outputs: dict[str, DataFrame], base_path: str,
                 *, fmt: str = "parquet", mode: str = "append") -> None:
    """Dict-of-results fan-out: one sink per key (reference
    multiDataframeOutputHandler, src/cosmap/output/output.py:53-75)."""
    for name, df in outputs.items():
        write_output(df, f"{base_path}/{name}", fmt=fmt, mode=mode)


def compact_parquet(spark, src_path: str, dst_path: str,
                    *, target_file_mb: int = 256,
                    zorder_cols: list[str] | None = None,
                    bits: int = 8) -> int:
    """Compact a small-files directory (e.g. a streaming sink's output)
    into ~``target_file_mb`` files: read, coalesce to the computed file
    count, rewrite.  Returns the output file count.

    Small files are the classic landing-zone pathology at scale — a
    100 TB table written in 1 MB files means 10⁸ parquet footers per
    scan.  ``coalesce`` (not ``repartition``) avoids a shuffle: it only
    merges read-splits.  The plain rewrite goes through
    :func:`publish`, so ``dst_path`` may equal ``src_path``.  With
    ``zorder_cols`` the rewrite instead goes through
    :func:`cosmap_spark.operators.layout.write_zordered` —
    compaction and clustering in the same (range-shuffled) pass, the
    OPTIMIZE-with-ZORDER move.  Run per-partition-directory for
    partitioned tables so partition pruning is preserved."""
    import math

    from cosmap_spark.operators.layout import write_zordered as _wz

    df = spark.read.parquet(src_path)
    # Size from the scan's own statistics (file-source sizeInBytes).
    total_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    if zorder_cols:
        _wz(df, dst_path, zorder_cols, bits=bits, num_files=n_files)
    else:
        publish(dst_path, df.coalesce(n_files))
    return n_files


def merge_upsert(spark, path: str, updates: DataFrame, keys: list[str],
                 *, allow_new_columns: bool = False) -> None:
    """Keyed upsert into a parquet directory — MERGE INTO semantics
    (update-or-insert by key; updates win, unmatched existing rows
    survive) without a transactional table format.

    Plan: built by the frame-level algebra in
    :func:`cosmap_spark.operators.merge.merge_upsert` (existing LEFT
    ANTI updates-keys UNION ALL updates — the update-key side is
    broadcast-hinted, so the big existing table never shuffles).
    Updates are assumed key-unique (this sink's historical contract —
    duplicates both survive the anti-join; resolve them upstream with
    the operator's ``seq_col`` if the feed can repeat keys).  When NO
    existing key is touched (pure inserts — e.g. each dedup batch
    appending fresh signature ids) the rewrite is skipped entirely and
    the new rows append as new files: O(batch), not O(table).

    The first write and every rewrite go through :func:`publish`: the
    new table lands fully in a staging directory BEFORE the live one
    is replaced (read-before-delete; see there for the rename window
    and the restore a crash inside it needs).  At scale with a
    partitioned table, run per-partition so only touched partitions
    rewrite.

    ``allow_new_columns=True`` is ADD-only schema evolution: update
    columns the table lacks widen it (existing rows read back NULL
    there); without the flag extra update columns are DROPPED by the
    alignment (the historical contract).  A widening merge always
    rewrites (the table itself changes shape), so the pure-insert
    append fast path applies only when no widening is needed."""
    import os

    from cosmap_spark.operators.merge import merge_upsert as _merge_plan

    path = _require_local(path, "merge_upsert")
    if not os.path.exists(path):
        publish(path, updates)
        return
    existing = spark.read.parquet(path)
    if allow_new_columns:
        new_cols = [
            f for f in updates.schema.fields
            if f.name.lower() not in {c.lower() for c in existing.columns}
        ]
        if new_cols:
            # widen the existing side with typed NULLs (the update's
            # types define the new fields); existing fields still
            # align to the table's types below.  The table changes
            # shape, so this is always a rewrite — no append fast path
            existing = existing.select(
                "*",
                *[F.lit(None).cast(f.dataType).alias(f.name)
                  for f in new_cols],
            )
            updates = updates.select(
                *[F.col(f.name).cast(f.dataType)
                  for f in existing.schema.fields]
            )
            publish(path, _merge_plan(existing, updates, keys, assume_unique=True))
            return
    # align updates to the EXISTING column order AND types: appending
    # files with wider types (e.g. long keys into an int table) would
    # poison the directory with mixed parquet schemas that fail on read
    updates = updates.select(
        *[F.col(f.name).cast(f.dataType) for f in existing.schema.fields]
    )
    upd_keys = updates.select(*keys).distinct()
    if existing.join(F.broadcast(upd_keys), keys, "left_semi").limit(1).count() == 0:
        updates.write.mode("append").parquet(path)
        return
    publish(path, _merge_plan(existing, updates, keys, assume_unique=True))


def merge_upsert_partitioned(
    spark,
    path: str,
    updates: DataFrame,
    keys: list[str],
    *,
    partition_col: str,
) -> None:
    """``merge_upsert`` for a ``partitionBy(partition_col)`` table that
    rewrites ONLY the partitions the updates touch — the copy-on-write
    contract at table scale: a small update against a 100 TB table
    costs O(touched partitions), and untouched partition directories
    are never read, rewritten, or even listed.

    The touched-partition list is a distinct projection of the updates
    (tiny); each touched ``<col>=<value>`` directory then runs the flat
    ``merge_upsert`` (with its append fast path and backup-swap) on its
    own slice of the updates.  New partition values create fresh
    directories.

    Directory names must match what Spark's own ``partitionBy`` wrote,
    or the upsert lands in a bogus sibling directory and the key exists
    twice on the next full read: NULL maps to Spark's
    ``__HIVE_DEFAULT_PARTITION__`` sentinel, booleans to ``true`` /
    ``false``, and values whose rendering contains characters Spark
    would %-escape in the path (``/ : = #`` …) are REFUSED — sanitize
    the partition value upstream rather than trusting two escaping
    implementations to agree."""
    import os
    import re

    path = _require_local(path, "merge_upsert_partitioned")
    if not os.path.exists(path):
        publish(path, updates, partition_by=[partition_col])
        return
    touched = [
        r["p"] for r in updates.select(
            F.col(partition_col).alias("p")
        ).distinct().collect()
    ]
    for value in touched:
        if value is None:
            rendered = "__HIVE_DEFAULT_PARTITION__"
        elif isinstance(value, bool):
            rendered = "true" if value else "false"
        else:
            rendered = str(value)
            if not re.fullmatch(r"[A-Za-z0-9_.+\- ]+", rendered):
                raise ValueError(
                    f"merge_upsert_partitioned: partition value "
                    f"{value!r} renders as {rendered!r}, which Spark "
                    "would %-escape in the directory name; sanitize "
                    "the partition column upstream (only [A-Za-z0-9_."
                    "+- ] values are accepted verbatim)"
                )
        part_dir = os.path.join(path, f"{partition_col}={rendered}")
        slice_df = updates.where(
            F.col(partition_col).eqNullSafe(F.lit(value))
        ).drop(partition_col)
        merge_upsert(spark, part_dir, slice_df, keys)


def _require_local(path: str, op: str) -> str:
    """The publish/ledger machinery here is built on ``os.rename`` /
    ``os.path`` — driver-local filesystem semantics.  A remote URI
    (``s3a://``, ``hdfs://``…) would not fail loudly: ``os.path.exists``
    is simply always False there, so an EXISTING store would be treated
    as absent and silently reinitialized from one batch — permanent
    data/history loss with no error.  Refuse up front; object stores
    want a log-backed table format (Delta/Iceberg), not rename dances.

    Returns the local path to use for EVERY later call, ``os`` and
    Spark alike: a ``file:`` URI loses its scheme (``os.path`` would
    otherwise see a relative name that never exists), and a trailing
    slash is dropped so sibling names stay siblings."""
    import os
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme == "file":
        return os.path.normpath(parsed.path)
    # len > 1 excludes Windows drive letters ("C:\...")
    if parsed.scheme and len(parsed.scheme) > 1:
        raise ValueError(
            f"{op} maintains its store with local-filesystem renames; "
            f"got {path!r} ({parsed.scheme}://).  Use a local path, or a "
            "log-backed table format for object stores"
        )
    return os.path.normpath(path)


#: where :func:`publish` parks the live directory during its swap
_BACKUP_SUFFIX = ".__merge_backup"


def _refuse_interrupted_swap(path: str) -> None:
    """A crash between :func:`publish`'s two swap renames leaves the
    live path MISSING and the whole table under the backup name.  The
    next write must not fall into the it's-a-new-table branch (it would
    rewrite the table as just the update batch, and a later successful
    swap would delete the backup holding the only full copy) — refuse
    and tell the operator how to restore."""
    import os

    backup = path + _BACKUP_SUFFIX
    if os.path.exists(backup) and not os.path.exists(path):
        raise RuntimeError(
            f"interrupted merge swap: {path!r} is missing but the "
            f"backup {backup!r} exists (a crash hit the rename "
            f"window).  Restore with os.rename({backup!r}, {path!r}) "
            "and re-run — initializing from the update batch would "
            "silently drop every prior row"
        )


def publish(
    path: str,
    df: DataFrame,
    *,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    extra_files: dict[str, str] | None = None,
) -> None:
    """Replace the plain directory at ``path`` with ``df`` — the one
    commit step of every such directory in the package: the overwrite
    sink, ``merge_upsert``/``delete_keys``, compaction and the
    streaming monitor stores.  (Versioned stores commit through
    :mod:`cosmap_spark.sinks.commit` instead.)

    In order: refuse a non-local path (:func:`_require_local`) and an
    interrupted swap (:func:`_refuse_interrupted_swap`); write the
    frame, then its ``extra_files`` sidecars (name → text;
    ``_``-prefixed names are invisible to Spark readers), into a hidden
    sibling staging directory; make it live — with ONE rename when
    ``path`` does not exist yet, else by the backup swap: clear a stale
    backup, rename live → ``<path>.__merge_backup``, staging → live
    (restoring live if that rename fails), drop the backup.  If the
    staged write raises, the staging directory is removed and ``path``
    is untouched.  Data and sidecars therefore replace together or not
    at all (a sidecar written after its store once let a
    mismatched-parameter resume pass validation).

    The swap is NOT atomic: a reader racing the μs window between its
    renames finds no directory, and a crash inside it leaves the data
    under the backup name — the next publish refuses and names the
    restore.  Directory renames cannot be made atomic on a plain
    filesystem; a log-backed format is the real fix at production
    scale."""
    import os
    import shutil
    import uuid

    path = _require_local(path, "publish")
    _refuse_interrupted_swap(path)
    writer = _writer(df, fmt, "overwrite", partition_by)
    parent, name = os.path.split(path)
    os.makedirs(parent or ".", exist_ok=True)
    staged = os.path.join(parent, f".{name}.__publish_{uuid.uuid4().hex}")
    try:
        writer.save(staged)
        for fname, content in (extra_files or {}).items():
            with open(os.path.join(staged, fname), "w") as f:
                f.write(content)
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    if not os.path.exists(path):
        os.rename(staged, path)
        return
    backup = path + _BACKUP_SUFFIX
    if os.path.exists(backup):
        # the live path exists, so the previous swap COMPLETED and only
        # its cleanup was lost — the backup is stale and safe to clear
        shutil.rmtree(backup)
    os.rename(path, backup)
    try:
        os.rename(staged, path)
    except BaseException:
        os.rename(backup, path)  # restore the live table, then re-raise
        raise
    shutil.rmtree(backup)


def delete_keys(spark, path: str, keys_df: DataFrame, key_cols: list[str]) -> int:
    """Propagate deletions into a parquet table — the
    right-to-be-forgotten primitive: every row whose key appears in
    ``keys_df`` is removed, via the same :func:`publish` rewrite as
    ``merge_upsert``.  Returns the number of rows removed; a no-match
    call is a NO-OP (no rewrite — idempotent re-runs after a partial
    propagation are free).  Run against every derived table holding the
    key (curated corpus, signature store, chunk index…) to complete a
    deletion end-to-end."""
    import os

    path = _require_local(path, "delete_keys")
    # a table parked under the backup name is not "nothing to delete"
    _refuse_interrupted_swap(path)
    if not os.path.exists(path):
        return 0
    existing = spark.read.parquet(path)
    dk = keys_df.select(*key_cols).distinct()
    n_hit = existing.join(F.broadcast(dk), key_cols, "left_semi").count()
    if n_hit == 0:
        return 0
    publish(path, existing.join(F.broadcast(dk), key_cols, "left_anti"))
    return n_hit
