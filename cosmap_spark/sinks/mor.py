"""Merge-on-read store: O(batch) deletes/upserts over a parquet base.

The copy-on-write sinks (``writers.merge_upsert`` / ``delete_keys``)
rewrite every touched partition — correct, but the wrong cost model
for their own flagship use case: a right-to-be-forgotten delete of a
handful of keys against a 100 TB table should cost O(keys), not
O(partitions touched).  This module is the log-structured
alternative, committed through the manifest-pointer protocol
(:mod:`cosmap_spark.sinks.commit`): the store's manifest names an
immutable base snapshot, the delta epochs (one parquet batch per
write — upserts + tombstones, epoch-ordered) and the keys + schema
contract.

Writes (:func:`mor_append`, :func:`mor_delete_keys`) only ever ADD a
delta data dir and publish the next manifest — base files are never
opened (pinned by file-mtime in tests/test_mor.py).  Reads
(:func:`mor_read`) reconcile in-plan via
:func:`cosmap_spark.operators.merge.mor_reconcile`: one batch-sized
winner window over the deltas + one broadcast anti equi-join, so the
base never shuffles.  :func:`mor_compact` folds the stack back into a
fresh base when the delta tax on reads grows past taste.

Crash discipline: every data dir is written in full before ONE
CAS publish of the next manifest version makes it visible, so a died
writer leaks only an unreferenced dir (:func:`mor_vacuum` reclaims
it) and concurrent writers serialize on the CAS.  There is no data
rename anywhere, every historical version stays readable
(``mor_read(version=)``, :func:`mor_changes`, :func:`mor_restore`)
until :meth:`~cosmap_spark.sinks.commit.ManifestStore.expire_versions`,
and filesystem access rides the five-call ``CommitFS`` seam, so the
same code targets an object store once those five calls are
implemented.

The reference has no mutation story at all (read-only immutable
catalogs, /root/reference/src/cosmap/dataset/__init__.py);
merge-on-read is the published Delta/Iceberg design re-expressed as
DataFrame algebra plus a manifest pointer.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cosmap_spark.sinks.commit import CommitConflict, ManifestStore

DELETE_COL = "__deleted"


def _check_base_columns(df: DataFrame, keys: list[str], op: str) -> None:
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"{op}: key columns absent from df: {missing}")
    # reserved names poison the store later, not now: a base 'epoch'
    # column collides with the delta log's epoch column on every read,
    # a base DELETE_COL duplicates mor_append's flag — refuse at init
    # (case-insensitive, Spark's resolution; review finding)
    reserved = {DELETE_COL.lower(), "epoch"}
    clash = [c for c in df.columns if c.lower() in reserved]
    if clash:
        raise ValueError(
            f"{op}: base columns {clash} collide with the store's "
            f"reserved names ({DELETE_COL!r}, 'epoch') — rename them "
            "upstream"
        )


def _refuse_null_keys(df: DataFrame, keys: list[str], op: str) -> None:
    """NULL merge-key values are REJECTED store-wide (one eager
    limit(1) job, the duplicate-key guard's shape): the read side's
    reconcile uses null-UNSAFE equi anti-join semantics, so a NULL-key
    delta could never replace or tombstone a NULL-key base row — each
    epoch would silently accumulate duplicate NULL-key rows and
    NULL-key deletes would be no-ops while the winner window treats
    NULL as a real key (round-9 advice: inconsistent, silently wrong
    view).  Refusing at the write boundary keeps the whole algebra on
    one join semantic."""
    cond = F.lit(False)
    for k in keys:
        cond = cond | F.col(k).isNull()
    if df.where(cond).limit(1).count():
        raise ValueError(
            f"{op}: NULL values in merge-key column(s) {keys} — the "
            "merge-on-read reconcile is null-unsafe by contract; fill "
            "or drop NULL-key rows upstream"
        )


def _require_mor_manifest(man: dict, path: str, op: str) -> None:
    """A published manifest alone does not make a MOR store — the ANN,
    plaid, and lexical index stores ride the same commit protocol.
    Without this check every mor_* verb on one of those dies with a
    bare KeyError naming nothing (round-10 self-review)."""
    if "keys" not in man or "base" not in man:
        raise ValueError(
            f"{op}: {path!r} is a manifest store but not a "
            "merge-on-read store (its manifest has no keys/base — an "
            "index store?)"
        )


def _latest(path: str, fs, op: str) -> tuple[ManifestStore, int, dict]:
    """The store at ``path`` and its latest manifest, refusing loudly
    when ``path`` holds no merge-on-read store."""
    ms = ManifestStore(path, fs)
    if not ms.exists():
        raise ValueError(
            f"{op}: {path!r} is not a merge-on-read store (no published "
            "manifest) — create one with mor_init"
        )
    version, man = ms.latest()
    _require_mor_manifest(man, path, op)
    return ms, version, man


def _refuse_foreign(ms: ManifestStore, path: str, op: str) -> None:
    """A path with no published manifest is written or swept only when
    it holds nothing the commit protocol did not put there (nothing
    at all, or a died init's orphan data and publish staging).
    Anything else — a plain parquet table, a leftover rename-layout
    store — refuses: ``mor_init`` would overlay it, ``mor_vacuum``
    would delete its ``data/``."""
    foreign = ms.foreign_entries()
    if foreign:
        raise ValueError(
            f"{op}: {path!r} is not a merge-on-read store (no published "
            f"manifest, and it holds {foreign[:3]}) — refusing to touch it"
        )


def mor_init(df: DataFrame, path: str, keys: list[str], *,
             fs=None) -> None:
    """Create a merge-on-read store at ``path`` with ``df`` as the
    base snapshot: the base lands in an immutable data dir and
    manifest v1 is CAS-published (:mod:`cosmap_spark.sinks.commit`).
    Stores are never silently re-initialized: refusal is on a
    PUBLISHED manifest, or on anything at the path the protocol did
    not write — a prefix holding only orphan data from a died init is
    not a store and may be re-initialized, and two racing
    initializers are serialized by the CAS (exactly one v1 wins)."""
    _check_base_columns(df, list(keys), "mor_init")
    ms = ManifestStore(path, fs)
    if ms.exists():
        raise ValueError(
            f"mor_init: {path!r} already exists (it has a published "
            "manifest)"
        )
    _refuse_foreign(ms, path, "mor_init")
    _refuse_null_keys(df, list(keys), "mor_init")
    rel, target = ms.new_data_dir()
    df.write.mode("overwrite").parquet(target)
    ms.publish(
        {
            "min_reader_version": 1,
            "keys": list(keys),
            "schema": json.loads(df.schema.json()),
            "base": rel, "epochs": [], "max_epoch": 0,
            "data_dirs": [rel],
        },
        expected_version=0,
    )


SUPPORTED_READER_VERSION = 2  # bumped by schema widening (round 10)


def _check_reader_version(meta: dict, op: str) -> None:
    """The Delta-protocol reader-version gate: a store written by a
    NEWER format than this code understands must refuse loudly, never
    misread (round-9 verdict task #4's old-reader-new-store leg).
    Plain stores carry 1; schema-widened stores carry 2."""
    need = int(meta.get("min_reader_version", 1))
    if need > SUPPORTED_READER_VERSION:
        raise ValueError(
            f"{op}: store requires reader version {need} but this "
            f"build supports ≤ {SUPPORTED_READER_VERSION} — upgrade "
            "the engine before touching this store"
        )


def _widened_schema(meta: dict, batch: DataFrame, op: str) -> dict:
    """Schema evolution, ADD-columns-only: new batch columns append to
    the store schema as nullable fields; anything else — a type CHANGE
    on an existing column, a case-insensitive name collision, a
    reserved name — refuses loudly.  Returns the widened schema json
    (or ``meta['schema']`` unchanged when the batch adds nothing)."""
    from pyspark.sql.types import StructType

    base_schema = StructType.fromJson(meta["schema"])
    have = {f.name.lower() for f in base_schema.fields}
    reserved = {DELETE_COL.lower(), "epoch"}
    new_fields = []
    for f in batch.schema.fields:
        low = f.name.lower()
        if low == DELETE_COL.lower():
            # the tombstone flag is the batch's CONTROL channel, not a
            # payload column — _align_batch consumes it; widening must
            # neither add it to the schema nor refuse it as reserved
            continue
        if low in have:
            exact = next(
                bf for bf in base_schema.fields
                if bf.name.lower() == low
            )
            if exact.name != f.name:
                raise ValueError(
                    f"{op}: batch column {f.name!r} collides case-"
                    f"insensitively with store column {exact.name!r} "
                    "(Spark resolves names case-insensitively)"
                )
            continue
        if low in reserved:
            raise ValueError(
                f"{op}: new column {f.name!r} collides with the "
                f"store's reserved names ({DELETE_COL!r}, 'epoch')"
            )
        new_fields.append(f)
    if not new_fields:
        return meta["schema"]
    widened = StructType(
        list(base_schema.fields)
        + [type(f)(f.name, f.dataType, True) for f in new_fields]
    )
    return json.loads(widened.json())


def _align_batch(batch: DataFrame, meta: dict, keys: list[str],
                 assume_unique: bool) -> DataFrame:
    """The write-side contract: cast to the store schema (schema
    drift would poison the log with mixed parquet schemas), coalesce
    the tombstone flag, refuse NULL keys (even under
    ``assume_unique`` — tombstone batches carry caller-supplied
    keys too), refuse duplicate keys (one eager batch-sized job;
    duplicates within one epoch would make the read-side winner
    partition-order dependent).

    A schema column ABSENT from the batch fills with a typed NULL
    (key columns excepted — those refuse): upserts replace rows
    wholesale, so a producer still writing the pre-widening shape
    sets the widened columns to NULL, which is exactly the schema-
    evolution contract (Delta's mergeSchema append behavior)."""
    from pyspark.sql.types import StructType

    base_schema = StructType.fromJson(meta["schema"])
    have = set(batch.columns)
    missing_keys = [k for k in keys if k not in have]
    if missing_keys:
        raise ValueError(
            f"mor_append: batch is missing key column(s) {missing_keys}"
        )
    if DELETE_COL in batch.columns:
        flag = F.coalesce(F.col(DELETE_COL), F.lit(False))
    else:
        flag = F.lit(False)
    aligned = batch.select(
        *[
            (F.col(f.name) if f.name in have else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in base_schema.fields
        ],
        flag.alias(DELETE_COL),
    )
    _refuse_null_keys(aligned, keys, "mor_append")
    if not assume_unique:
        dup = (
            aligned.groupBy(*keys).count()
            .filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "mor_append: batch has duplicate keys — collapse to one "
                "winner per key upstream (operators.merge.latest_per_key)"
            )
    return aligned


def mor_append(
    spark,
    path: str,
    batch: DataFrame,
    *,
    assume_unique: bool = False,
    allow_new_columns: bool = False,
    fs=None,
) -> int:
    """Append one delta batch (upserts; rows with a true
    :data:`DELETE_COL` column are tombstones) as the next epoch.
    Returns the epoch number.

    Cost: O(batch) — no base file is ever opened (the schema rides
    the manifest).  The batch (with an explicit ``epoch`` LONG column —
    manifests name dirs, so the epoch cannot ride a partition path)
    lands in an immutable data dir and commits by CAS-publishing the
    next manifest.  Losing the CAS to a concurrent committer self-heals
    with a bounded retry (re-read, re-align, REWRITE under the next
    epoch number — the number is baked into the parquet — and
    re-publish; five attempts, then a loud
    :class:`cosmap_spark.sinks.commit.CommitConflict`); lost attempts
    leak only vacuumable orphan dirs.  Epoch numbers ride a monotone
    ``max_epoch`` watermark, so they never recycle across compactions
    and epoch order == commit order globally (what
    :func:`mor_changes`' feed ordering rests on).

    ``allow_new_columns=True`` is schema evolution, ADD-only: batch
    columns the store does not have widen the store schema as nullable
    fields (type changes and case-fold collisions refuse); old epochs
    and the base read back with NULL fill; the store's
    ``min_reader_version`` bumps to 2 so a pre-widening engine refuses
    the store instead of misreading it.  A column absent from any
    LATER batch writes NULL (rows replace wholesale — the upsert
    contract)."""
    # bounded CAS-retry (mor_compact's loop, mirrored): losing the
    # publish race means OUR manifest never landed, so re-reading
    # the latest state, re-aligning and re-publishing is always
    # safe — the lost attempt's data dir becomes a vacuumable
    # orphan.  Each retry REWRITES the batch: the epoch number is
    # baked into the parquet, so a stale staging dir cannot be
    # republished under a new number.
    last: Exception | None = None
    for _ in range(5):
        ms, version, man = _latest(path, fs, "mor_append")
        _check_reader_version(man, "mor_append")
        keys = man["keys"]
        schema_json = man["schema"]
        min_reader = int(man.get("min_reader_version", 1))
        if allow_new_columns:
            schema_json = _widened_schema(man, batch, "mor_append")
            if schema_json != man["schema"]:
                min_reader = max(min_reader, 2)
        aligned = _align_batch(
            batch, {**man, "schema": schema_json}, keys, assume_unique
        )
        # monotone epoch watermark: numbers NEVER recycle across
        # compactions (pre-watermark behavior was max(live list) + 1,
        # which restarts at 1 after a fold), so epoch order == commit
        # order globally — what mor_changes' feed ordering rests on.
        # Old manifests without the field fall back to the live
        # list's max.
        epochs = [e["epoch"] for e in man["epochs"]]
        epoch = int(man.get("max_epoch", max(epochs, default=0))) + 1
        rel, target = ms.new_data_dir()
        aligned.withColumn(
            "epoch", F.lit(epoch).cast("long")
        ).write.mode("overwrite").parquet(target)
        new_man = {
            **{k: man[k] for k in ("keys", "base")},
            "schema": schema_json,
            "min_reader_version": min_reader,
            "max_epoch": epoch,
            "epochs": man["epochs"] + [{"epoch": epoch, "dir": rel}],
            "data_dirs": man["data_dirs"] + [rel],
        }
        try:
            ms.publish(new_man, expected_version=version)
            return epoch
        except CommitConflict as e:
            last = e
    raise CommitConflict(
        "mor_append: lost the publish CAS 5 times in a row to "
        "concurrent writers — the store is commit-hot; retry later "
        "(the staged batches are vacuumable orphans)"
    ) from last


def _meta_for(path: str, fs=None) -> dict:
    """The store contract (keys + schema): the latest manifest."""
    return _latest(path, fs, "mor store access")[2]


def mor_delete_keys(spark, path: str, keys_df: DataFrame, *,
                    fs=None) -> int:
    """Append a tombstone-only delta for every key in ``keys_df`` —
    the O(keys) right-to-be-forgotten primitive (the copy-on-write
    ``writers.delete_keys`` rewrites whole partitions for the same
    request).  Payload columns are NULL; the read side drops the rows
    entirely.  Returns the epoch number.

    Deleting a key that is not in the table is harmless (the anti-join
    removes nothing), which makes re-runs after a partial propagation
    free — the delete_keys idempotence contract, kept."""
    from pyspark.sql.types import StructType

    meta = _meta_for(path, fs)
    keys = meta["keys"]
    base_schema = StructType.fromJson(meta["schema"])
    kd = keys_df.select(*keys).distinct()
    tomb = kd.select(
        *[
            F.col(f.name).cast(f.dataType)
            if f.name in keys
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in base_schema.fields
        ],
        F.lit(True).alias(DELETE_COL),
    )
    # key-distinct by construction — skip the eager uniqueness job
    return mor_append(spark, path, tomb, assume_unique=True, fs=fs)


def _fill_to_schema(df: DataFrame, schema_json: dict,
                    extra: list[str] = ()) -> DataFrame:
    """Read-side NULL fill for schema evolution: columns the CURRENT
    store schema has but ``df`` (an old base / old epochs) lacks
    surface as typed NULLs, in schema order; ``extra`` columns
    (tombstone flag, epoch) pass through."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(schema_json)
    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ],
        *[F.col(c) for c in extra],
    )


def mor_read(spark, path: str, *, version: int | None = None,
             fs=None) -> DataFrame:
    """The current view: base with every delta epoch applied, later
    epochs winning — ONE winner window over the (batch-sized) delta
    stack + ONE broadcast anti equi-join; the base scan never
    shuffles (plan-gated in tests/test_mor.py).  With an empty delta
    log this is exactly the base scan.

    ``version=`` pins the read to a historical manifest — time
    travel, free because manifests are immutable and retained until
    :meth:`~cosmap_spark.sinks.commit.ManifestStore.expire_versions`."""
    from cosmap_spark.operators.merge import mor_reconcile

    if version is None:
        ms, _, man = _latest(path, fs, "mor_read")
    else:
        ms = ManifestStore(path, fs)
        man = ms.read_version(version)
        _require_mor_manifest(man, path, "mor_read")
    _check_reader_version(man, "mor_read")
    # old base / old epochs NULL-fill the widened columns
    base = _fill_to_schema(
        spark.read.parquet(ms.data_path(man["base"])), man["schema"]
    )
    if not man["epochs"]:
        return base
    # the epoch column was written INTO each delta (long literal), so
    # one multi-dir read needs no partition discovery and no
    # INT-degradation cast (the partitionBy round-trip footgun);
    # mergeSchema unions pre- and post-widening epoch schemas
    deltas = spark.read.option("mergeSchema", "true").parquet(
        *[ms.data_path(e["dir"]) for e in man["epochs"]]
    )
    return mor_reconcile(
        base,
        _fill_to_schema(deltas, man["schema"],
                        extra=[DELETE_COL, "epoch"]),
        man["keys"], epoch_col="epoch", delete_col=DELETE_COL,
    )


CHANGE_TYPE_COL = "_change_type"


def mor_changes(spark, path: str, *, from_version: int,
                to_version: int | None = None, fs=None) -> DataFrame:
    """The NET change feed between two manifest versions — the
    Delta-Lake Change-Data-Feed analog (``table_changes``), free here
    because the store's deltas ARE the change files: rows that turn
    ``mor_read(version=from_version)`` into
    ``mor_read(version=to_version)``, tagged by :data:`CHANGE_TYPE_COL`
    in Delta's vocabulary — ``insert``, ``update_preimage`` /
    ``update_postimage`` (one row each per updated key), ``delete``
    (the pre-image).

    NET means one verdict per key across the whole range: a key
    upserted then tombstoned inside the range surfaces as a single
    ``delete`` (or nothing, if it never existed at ``from_version``) —
    the consumer-facing contract of an incremental downstream sync,
    where replaying intermediate states is wasted work.

    The feed is assembled from the ORIGINAL epoch dirs, collected by
    walking every manifest in ``(from_version, to_version]`` and
    taking each epoch dir on first appearance — so epochs folded away
    by an interleaved compaction are still found (their dirs stay
    reachable through history until ``expire_versions`` + vacuum),
    and a pure-compaction range correctly yields an EMPTY feed.  If
    any manifest in the range has been expired the walk refuses
    loudly rather than silently skipping commits.

    Plan shape (the O(changes) contract): the collected epoch stack is
    batch-sized; one window picks the net winner per key; the
    ``from_version`` view is scanned ONCE (an inner join against the
    broadcast winner keys, batch-sized output, localCheckpointed as
    the smallest multi-consumer frame — the q_topk rule); every
    subsequent join is batch × batch.  The base never shuffles.  The
    classification itself is :func:`cosmap_spark.operators.merge.
    change_feed` (gated hash-exact as q_setops' ``morc`` branch)."""
    from cosmap_spark.operators.merge import change_feed

    ms = _latest(path, fs, "mor_changes")[0]
    published = ms.versions()
    if from_version < 1:
        raise ValueError(
            f"mor_changes: from_version must be ≥ 1 (manifest versions "
            f"start at 1); got {from_version}"
        )
    if to_version is None:
        to_version = published[-1]
    if from_version > to_version:
        raise ValueError(
            f"mor_changes: from_version {from_version} > to_version "
            f"{to_version}"
        )
    need = set(range(from_version, to_version + 1))
    missing = sorted(need - set(published))
    if missing:
        raise ValueError(
            f"mor_changes: manifest version(s) {missing} have been "
            "expired — the feed cannot prove completeness over a "
            "gapped history; lower keep_last pressure or re-sync from "
            "a full read"
        )
    man_to = ms.read_version(to_version)
    _check_reader_version(man_to, "mor_changes")
    schema_json = man_to["schema"]
    keys = man_to["keys"]

    from pyspark.sql.types import StructType

    out_fields = StructType.fromJson(schema_json).fields
    # list() copy: StructType stores the passed list by reference and
    # .add appends IN PLACE — without it out_fields itself would gain
    # the change-type field and tag() would select a ghost column
    empty_schema = StructType(list(out_fields)).add(
        CHANGE_TYPE_COL, "string"
    )

    # collect epoch dirs on FIRST appearance, in publish order — dir
    # identity, not epoch number (pre-watermark numbers can recycle)
    seen = {e["dir"] for e in ms.read_version(from_version)["epochs"]}
    collected: list[dict] = []
    for v in range(from_version + 1, to_version + 1):
        for e in ms.read_version(v)["epochs"]:
            if e["dir"] not in seen:
                seen.add(e["dir"])
                collected.append(e)
    if not collected:
        return spark.createDataFrame([], empty_schema)

    parts = []
    for seq, e in enumerate(collected):
        part = spark.read.parquet(ms.data_path(e["dir"]))
        parts.append(
            _fill_to_schema(part, schema_json, extra=[DELETE_COL])
            .withColumn("__seq", F.lit(seq).cast("long"))
        )
    stack = parts[0]
    for p in parts[1:]:
        stack = stack.unionByName(p)
    view_from = _fill_to_schema(
        mor_read(spark, path, version=from_version, fs=fs), schema_json
    )
    return change_feed(
        view_from, stack, keys,
        epoch_col="__seq", delete_col=DELETE_COL,
        change_type_col=CHANGE_TYPE_COL,
    )


def mor_sync(
    spark,
    src_path: str,
    dst_path: str,
    *,
    src_fs=None,
    dst_fs=None,
) -> dict:
    """Incrementally propagate a source MOR store into a downstream
    MOR store — the materialized-view-maintenance primitive a CDC feed
    exists for (Delta's ``table_changes``-driven downstream sync):
    each call reads the NET changes since the last synced source
    version (:func:`mor_changes`), applies them as ONE upsert/tombstone
    epoch on the destination, and advances a version cursor.  Cost is
    O(changes), never a source re-copy.

    The cursor is itself a tiny :class:`~cosmap_spark.sinks.commit.
    ManifestStore` at ``<dst_path>.sync`` (CAS-published versions), so
    every crash window replays safely:

    * die after the destination append, before the cursor publish →
      the replay re-applies the SAME net batch as another epoch, which
      is a view-level no-op (upsert/tombstone idempotence — the
      mor_reconcile suffix law), then advances the cursor: exactly-once
      EFFECT, at-least-once epochs;
    * bootstrap publishes the cursor FIRST, then initializes the
      destination from the source view PINNED at the cursor's version
      — a crash between the two leaves a cursor without a store, which
      the replay completes deterministically (the reverse order would
      leave a store whose source version is unknowable);
    * two concurrent syncs serialize on the cursor CAS (the loser
      must re-read; its duplicate epoch, if any, is again a no-op).

    Source schema widening flows through (``allow_new_columns``).
    Returns
    ``{"from_version", "to_version", "applied"}`` — ``applied`` is
    False for an up-to-date or pure-compaction range."""
    src, src_version, src_man = _latest(src_path, src_fs, "mor_sync")
    src_key = _src_key(src_path, src_fs)
    cursor = ManifestStore(dst_path.rstrip("/") + ".sync", dst_fs)
    dst_exists = ManifestStore(dst_path, dst_fs).exists()

    if not cursor.exists():
        if dst_exists:
            # an existing destination with NO cursor has unknowable
            # provenance — declaring it in-sync with the source head
            # would be silently wrong for any content mismatch
            raise ValueError(
                f"mor_sync: {dst_path!r} exists but has no sync cursor "
                f"({dst_path}.sync) — refusing to adopt a store of "
                "unknown provenance; point dst_path somewhere fresh "
                "(or remove the store to re-bootstrap)"
            )
        # bootstrap leg 1: pin the source version FIRST (see docstring)
        cursor.publish(
            {"src_version": src_version, "src_path": src_key},
            expected_version=0,
        )
        cur_v, cur = 1, {"src_version": src_version}
    else:
        cur_v, cur = cursor.latest()
        _check_cursor_src(cur, src_key, "mor_sync")
    synced = int(cur["src_version"])
    if not dst_exists:
        # bootstrap leg 2: initialize from the PINNED version (the
        # source may have advanced since leg 1 — the next sync call
        # catches up incrementally)
        mor_init(
            mor_read(spark, src_path, version=synced, fs=src_fs),
            dst_path, src_man["keys"], fs=dst_fs,
        )
        return {"from_version": None, "to_version": synced,
                "applied": True}

    dst_keys = _meta_for(dst_path, dst_fs)["keys"]
    if list(dst_keys) != list(src_man["keys"]):
        raise ValueError(
            f"mor_sync: key mismatch — source {src_man['keys']} vs "
            f"destination {dst_keys}"
        )
    if src_version == synced:
        return {"from_version": synced, "to_version": synced,
                "applied": False}

    try:
        feed = mor_changes(spark, src_path, from_version=synced,
                           to_version=src_version, fs=src_fs)
    except ValueError as e:
        if "expired" in str(e):
            raise ValueError(
                f"mor_sync: the source history needed to catch up has "
                f"been expired (cursor at v{synced}, earliest retained "
                f"v{min(src.versions())}) — re-bootstrap the replica: "
                f"remove {dst_path!r} and {dst_path}.sync, then sync "
                "again (a full copy; keep expire_keep_last above the "
                "sync cadence to avoid this)"
            ) from e
        raise
    keys = list(src_man["keys"])
    payload = [c for c in feed.columns
               if c not in keys and c != CHANGE_TYPE_COL]
    batch = (
        feed.where(F.col(CHANGE_TYPE_COL).isin(
            "insert", "update_postimage"))
        .select(*keys, *payload, F.lit(False).alias(DELETE_COL))
        .unionByName(
            feed.where(F.col(CHANGE_TYPE_COL) == "delete")
            .select(
                *keys,
                *[F.lit(None).cast(dict(feed.dtypes)[c]).alias(c)
                  for c in payload],
                F.lit(True).alias(DELETE_COL),
            )
        )
    )
    applied = False
    if batch.limit(1).count():
        # the net feed is key-unique by construction (one verdict per
        # key, and a key is never both post-image and delete)
        mor_append(spark, dst_path, batch, assume_unique=True,
                   allow_new_columns=True, fs=dst_fs)
        applied = True
    cursor.publish(
        {"src_version": src_version, "src_path": src_key},
        expected_version=cur_v,
    )
    return {"from_version": synced, "to_version": src_version,
            "applied": applied}


def _src_key(src_path: str, src_fs) -> str:
    """The cursor's source-identity token: absolute for plain local
    paths (two spellings of one directory must not look like two
    sources), verbatim under a custom CommitFS (its namespace is
    opaque here)."""
    return src_path if src_fs is not None else os.path.abspath(src_path)


def _check_cursor_src(cur: dict, src_key: str, op: str) -> None:
    """Refuse syncing a destination from a DIFFERENT source than the
    one its cursor records — silently mixing sources would corrupt the
    replica with no error.  Cursors published before the stamp existed
    (no ``src_path`` key) are adopted and stamped on the next
    publish."""
    recorded = cur.get("src_path")
    if recorded is not None and recorded != src_key:
        raise ValueError(
            f"{op}: cursor records source {recorded!r} but this call "
            f"passed {src_key!r} — a destination tracks ONE source; "
            "point dst_path somewhere fresh to sync from another"
        )


def _canon_agg_spec(
    group_by: list[str], aggs: dict[str, tuple[str, str | None]]
) -> dict:
    return {
        "group_by": list(group_by),
        "aggs": {out: [kind, col] for out, (kind, col) in aggs.items()},
    }


def mor_sync_agg(
    spark,
    src_path: str,
    dst_path: str,
    *,
    group_by: list[str],
    aggs: dict[str, tuple[str, str | None]],
    src_fs=None,
    dst_fs=None,
) -> dict:
    """Maintain a downstream AGGREGATE of a MOR store incrementally —
    a materialized ``GROUP BY`` view refreshed at **O(changes +
    aggregate-touched)** per call, never re-scanning the source table
    (the IVM twin of :func:`mor_sync`, which replicates rows).  The
    destination is itself a MOR store keyed by
    ``group_by`` whose current view always equals
    ``operators.merge.agg_snapshot(mor_read(src), group_by, aggs)``
    (the law pinned in tests/test_mor.py).  ``aggs`` follows
    :func:`~cosmap_spark.operators.merge.agg_snapshot`'s spec: count /
    countnn / sum only (min/max are not self-maintainable under
    deletes), every sum with its countnn witness.

    Each refresh reads the NET feed since the last synced source
    version (:func:`mor_changes`), folds it into per-group deltas (one
    batch-sized aggregation), joins the deltas against the maintained
    aggregate PINNED at the cursor's destination version, and appends
    ONE epoch of ABSOLUTE post-image rows (plus tombstones for groups
    whose row count reached 0).  Absolute values — not deltas — are
    what make the crash windows safe:

    * die after the append, before the cursor publish → the replay
      recomputes the SAME absolute rows from the same pinned
      destination version (the crashed epoch is invisible at that
      version) and appends them again: an idempotent upsert, so the
      view is unchanged — exactly-once EFFECT, at-least-once epochs.
      A delta-valued epoch would double-apply here, which is why the
      replay reads the destination through ``mor_read(version=)``;
    * bootstrap publishes the cursor FIRST (source version pinned),
      then initializes the destination with the full aggregate at that
      version — each crash point replays deterministically, same
      ordering argument as :func:`mor_sync`.

    The cursor (``<dst_path>.aggsync``) also records the spec;
    refreshing with a different ``group_by``/``aggs`` refuses (the
    frozen-parameter provenance discipline).  NULL grouping values are
    refused — they cannot be MOR merge keys; maintain such a view with
    :func:`~cosmap_spark.operators.merge.apply_agg_delta` directly.

    Published design: self-maintainable distributive aggregates over a
    CDC feed (classic IVM; Delta Lake's aggregate-redirect pattern).
    """
    from cosmap_spark.operators.merge import (
        _agg_deltas, _check_agg_spec, agg_snapshot,
    )

    _, src_version, src_man = _latest(src_path, src_fs, "mor_sync_agg")
    src_key = _src_key(src_path, src_fs)
    src_cols = [f["name"] for f in src_man["schema"]["fields"]]
    _check_agg_spec(src_cols, group_by, aggs)
    missing = [g for g in group_by if g not in src_cols]
    if missing:
        raise ValueError(
            f"mor_sync_agg: group column(s) {missing} not in source "
            "schema"
        )
    spec = _canon_agg_spec(group_by, aggs)
    cursor = ManifestStore(dst_path.rstrip("/") + ".aggsync", dst_fs)
    dst = ManifestStore(dst_path, dst_fs)
    dst_exists = dst.exists()

    def dst_version_now() -> int:
        return dst.latest()[0]

    if not cursor.exists():
        if dst_exists:
            raise ValueError(
                f"mor_sync_agg: {dst_path!r} exists but has no sync "
                f"cursor ({dst_path}.aggsync) — refusing to adopt a "
                "store of unknown provenance"
            )
        # leg 1: pin the source version (and the spec) FIRST
        cursor.publish(
            {"src_version": src_version, "dst_version": None,
             "spec": spec, "src_path": src_key},
            expected_version=0,
        )
        cur_v, cur = 1, {"src_version": src_version,
                         "dst_version": None, "spec": spec}
    else:
        cur_v, cur = cursor.latest()
        _check_cursor_src(cur, src_key, "mor_sync_agg")
        if cur["spec"] != spec:
            raise ValueError(
                f"mor_sync_agg: spec mismatch — cursor records "
                f"{cur['spec']} but this call passed {spec}; a "
                "different aggregate needs a fresh destination"
            )
    synced = int(cur["src_version"])

    if cur["dst_version"] is None:
        # bootstrap leg 2 (or its replay): build the full aggregate at
        # the PINNED version, then record the destination version
        if not dst_exists:
            snap0 = agg_snapshot(
                mor_read(spark, src_path, version=synced, fs=src_fs),
                list(group_by), aggs,
            )
            mor_init(snap0, dst_path, list(group_by), fs=dst_fs)
        cursor.publish(
            {"src_version": synced, "dst_version": dst_version_now(),
             "spec": spec, "src_path": src_key},
            expected_version=cur_v,
        )
        return {"from_version": None, "to_version": synced,
                "applied": True}

    if src_version == synced:
        return {"from_version": synced, "to_version": synced,
                "applied": False}

    try:
        feed = mor_changes(spark, src_path, from_version=synced,
                           to_version=src_version, fs=src_fs)
    except ValueError as e:
        if "expired" in str(e):
            raise ValueError(
                "mor_sync_agg: the source history needed to catch up "
                f"has been expired (cursor at v{synced}) — remove "
                f"{dst_path!r} and {dst_path}.aggsync and sync again "
                "(a full re-aggregation)"
            ) from e
        raise
    null_groups = feed.where(
        F.lit(False) | _any_null(group_by)
    ).limit(1).count()
    if null_groups:
        raise ValueError(
            "mor_sync_agg: NULL grouping value in the change feed — "
            "aggregate-store keys cannot be NULL; maintain such a "
            "view with operators.merge.apply_agg_delta on frames"
        )
    # checkpoint the batch-sized delta aggregate: it feeds both the
    # touched-group restriction and the outer join below, and a lazy
    # checkpoint keeps two copies of the feed's plan out of the tree
    # (the apply_agg_delta plan-size lesson)
    dl = _agg_deltas(
        feed, list(group_by), aggs, CHANGE_TYPE_COL
    ).localCheckpoint(eager=False)

    # restrict the maintained aggregate to TOUCHED groups first (one
    # broadcast semi-join — the aggregate streams through, output
    # batch-sized), so the outer join below is batch × batch and the
    # refresh never shuffles or broadcasts the aggregate itself
    old = mor_read(
        spark, dst_path, version=int(cur["dst_version"]), fs=dst_fs
    ).join(
        F.broadcast(dl.select(
            *[F.col(f"__g_{g}").alias(g) for g in group_by]
        )),
        list(group_by),
        "left_semi",
    )
    joined = dl.join(
        old,
        [F.col(f"__g_{g}") == F.col(g) for g in group_by],
        "left",
    )
    count_out = next(o for o, (k, _) in aggs.items() if k == "count")
    nn_for = {c: o for o, (k, c) in aggs.items() if k == "countnn"}
    new_by_out = {
        out: F.coalesce(F.col(out), F.lit(0))
        + F.coalesce(F.col(f"__d_{out}"), F.lit(0))
        for out in aggs
    }
    proj = [F.col(f"__g_{g}").alias(g) for g in group_by]
    for out, (kind, col) in aggs.items():
        v = new_by_out[out]
        if kind == "sum":
            v = F.when(new_by_out[nn_for[col]] > 0, v)
        elif out == count_out:
            v = F.when(v >= 0, v).otherwise(
                F.assert_true(
                    F.lit(False),
                    F.lit("mor_sync_agg: group count went negative — "
                          "source feed inconsistent with maintained "
                          "aggregate"),
                ).cast("long")
            )
        proj.append(v.alias(out))
    # old's presence witness: the maintained count is never NULL for
    # an existing group, so col(count_out) from the old side is the
    # matched marker (pre-projection)
    touched = joined.select(
        *proj, F.col(count_out).isNotNull().alias("__was_present")
    ).localCheckpoint()
    upserts = touched.where(F.col(count_out) > 0).select(
        *group_by, *aggs, F.lit(False).alias(DELETE_COL)
    )
    tombstones = touched.where(
        (F.col(count_out) == 0) & F.col("__was_present")
    ).select(
        *group_by,
        *[F.lit(None).cast(dict(touched.dtypes)[out]).alias(out)
          for out in aggs],
        F.lit(True).alias(DELETE_COL),
    )
    batch = upserts.unionByName(tombstones)
    applied = False
    if batch.limit(1).count():
        mor_append(spark, dst_path, batch, assume_unique=True,
                   fs=dst_fs)
        applied = True
    cursor.publish(
        {"src_version": src_version, "dst_version": dst_version_now(),
         "spec": spec, "src_path": src_key},
        expected_version=cur_v,
    )
    return {"from_version": synced, "to_version": src_version,
            "applied": applied}


def _any_null(cols: list[str]):
    out = F.lit(False)
    for c in cols:
        out = out | F.col(c).isNull()
    return out


def mor_vacuum(path: str, *, min_age_seconds: float = 3600.0,
               dry_run: bool = False, fs=None) -> list[str]:
    """Remove crash debris — data dirs no retained manifest references
    (died-before-publish orphans, including a died :func:`mor_init`'s
    base, and dirs released by history expiry) plus publish staging
    debris — returning the removed paths.  This is the commit layer's
    reachability vacuum (:meth:`~cosmap_spark.sinks.commit.
    ManifestStore.vacuum`).  Debris is INVISIBLE to readers by
    construction, so vacuuming is purely a disk-space concern and safe
    to run any time older than ``min_age_seconds`` (the age guard
    keeps a LIVE writer's staged-but-unpublished dir out of the blast
    radius; pass 0 only when no writer can be running).

    A path with no published manifest is vacuumed only when it holds
    nothing but what a died init leaves; any other path refuses
    loudly, so a mistyped path never loses its ``data/``.

    ``dry_run=True`` only REPORTS what would be removed (the
    store-health readout's debris count) — nothing is touched."""
    ms = ManifestStore(path, fs)
    if not ms.exists():
        _refuse_foreign(ms, path, "mor_vacuum")
    return ms.vacuum(min_age_seconds=min_age_seconds, dry_run=dry_run)


def mor_restore(spark, path: str, *, version: int, fs=None) -> dict:
    """RESTORE the store's current view to a historical ``version`` by
    appending ONE COMPENSATING delta epoch — Delta Lake's ``RESTORE``
    expressed in the store's own algebra rather than as manifest
    surgery, which is what keeps every downstream contract intact:

    * history is preserved (the restore is a NEW version; every
      pre-restore version stays readable);
    * the change feed sees the restore as ordinary net changes — a
      manifest-pointer rollback would be INVISIBLE to
      :func:`mor_changes` (its epoch-dir walk collects dirs on first
      appearance, so re-listing old dirs yields an empty feed while
      the view silently changed);
    * downstream replicas (:func:`mor_sync`) and maintained
      aggregates (:func:`mor_sync_agg`) therefore converge on their
      next ordinary refresh;
    * compaction folds the compensating epoch like any other.

    The epoch is the MINIMAL batch (``operators.merge.snapshot_cdc``
    between the current view and the view at ``version``):
    delta-sized, never table-sized — restoring yesterday's version of
    a 100 TB store costs the two view scans plus O(rows that changed
    since).  A store whose schema WIDENED since ``version`` keeps the
    widened schema; the restored rows surface NULL in the new columns
    (the value they had at ``version``).  Idempotent: restoring to
    the current content appends nothing.  An expired ``version``
    refuses loudly through the manifest store.

    Returns ``{"restored_to", "head_before", "applied"}``."""
    from cosmap_spark.operators.merge import snapshot_cdc

    _, head, man = _latest(path, fs, "mor_restore")
    _check_reader_version(man, "mor_restore")
    keys = list(man["keys"])
    current = mor_read(spark, path, fs=fs)
    target = _fill_to_schema(
        mor_read(spark, path, version=version, fs=fs), man["schema"]
    )
    batch = snapshot_cdc(current, target, keys, delete_col=DELETE_COL)
    applied = False
    if batch.limit(1).count():
        # cdc batches are key-unique by construction
        mor_append(spark, path, batch, assume_unique=True, fs=fs)
        applied = True
    return {"restored_to": version, "head_before": head,
            "applied": applied}


def mor_maintain(
    spark,
    path: str,
    *,
    compact_after: int = 10,
    vacuum_age_seconds: float = 3600.0,
    expire_keep_last: int | None = None,
    zorder_cols: list[str] | None = None,
    num_files: int | None = None,
    fs=None,
) -> dict:
    """One maintenance call applying the store-health page's advice
    (``streaming.ops.store_health`` flags → actions): compact when the
    delta stack is ≥ ``compact_after`` epochs deep, expire manifest
    history to ``expire_keep_last`` versions (``None`` keeps
    everything — expiry cuts off ``mor_read(version=)`` time travel
    and ``mor_changes`` feeds older than the horizon, so it is
    opt-in), then vacuum debris/orphans older than
    ``vacuum_age_seconds``.  Ordering matters: expiry BEFORE vacuum so
    dirs released by dropped versions are reclaimed in the same call.
    Each step is individually crash-safe (their own contracts), so
    this helper adds no new crash window.  Returns
    ``{"compacted_epochs", "expired_versions", "vacuumed"}``."""
    out = {"compacted_epochs": 0, "expired_versions": [],
           "vacuumed": []}
    ms, _, man = _latest(path, fs, "mor_maintain")
    if len(man["epochs"]) >= compact_after:
        out["compacted_epochs"] = mor_compact(
            spark, path, zorder_cols=zorder_cols, num_files=num_files,
            fs=fs,
        )
    if expire_keep_last is not None:
        out["expired_versions"] = ms.expire_versions(
            keep_last=expire_keep_last
        )
    out["vacuumed"] = mor_vacuum(
        path, min_age_seconds=vacuum_age_seconds, fs=fs
    )
    return out


def mor_compact(spark, path: str, *,
                zorder_cols: list[str] | None = None,
                bits: int = 8,
                num_files: int | None = None,
                fs=None) -> int:
    """Fold the delta stack into a fresh base; returns the number of
    epochs folded.  The fold is crash-safe by construction: the
    reconciled view lands in a fresh immutable dir and ONE CAS publish
    flips the store to {base: new, epochs: []} (old dirs stay
    reachable through history until ``expire_versions`` + vacuum
    reclaim them).  A concurrent append between the fold's read and
    its publish loses nothing: the publish CAS fails and the
    compaction retries against the newer manifest, keeping the
    appended epochs as the new base's suffix.

    ``zorder_cols`` makes compaction the OPTIMIZE-with-ZORDER pass
    (the ``compact_parquet`` move): the folded view is clustered on a
    Morton key via ``operators.layout.write_zordered`` (quantile-rank
    strategy — skew-robust) into ``num_files`` files, so folding the
    log and restoring min/max scan selectivity are ONE base rewrite
    instead of two.  With ``zorder_cols=None`` a ``num_files`` alone
    coalesces the fold (small-file control)."""
    ms, version, man = _latest(path, fs, "mor_compact")
    if not man["epochs"]:
        return 0
    folded = mor_read(spark, path, version=version, fs=fs)
    folded_max = max(e["epoch"] for e in man["epochs"])
    rel, target = ms.new_data_dir()
    if zorder_cols is not None:
        from cosmap_spark.operators.layout import write_zordered

        write_zordered(folded, target, zorder_cols, bits=bits,
                       num_files=num_files or 64)
    else:
        if num_files is not None:
            folded = folded.coalesce(int(num_files))
        folded.write.mode("overwrite").parquet(target)
    # publish with a bounded CAS-retry: a concurrent append that
    # won the version race is NOT lost — the retry re-reads the
    # latest manifest and keeps every epoch the fold did not cover
    # as the new base's suffix (applying a suffix to the folded
    # view is exactly the reconcile idempotence story), and adopts
    # the latest schema/min_reader (the append may have widened;
    # the folded base then reads back NULL-filled).  The suffix is
    # identified by immutable DIR NAME, not epoch number: on a
    # pre-watermark store numbers recycle after a fold, so an
    # `epoch > folded_max` test against an INTERLEAVED concurrent
    # compaction's renumbered appends would silently DROP them from
    # the retry's publish (round-10 self-review data-loss fix,
    # regression-pinned in tests/test_mor.py).
    folded_dirs = {e["dir"] for e in man["epochs"]}
    cur_version, cur = version, man
    for _ in range(5):
        suffix = [e for e in cur["epochs"]
                  if e["dir"] not in folded_dirs]
        try:
            ms.publish(
                {
                    "keys": cur["keys"],
                    "schema": cur["schema"],
                    "min_reader_version": int(
                        cur.get("min_reader_version", 1)
                    ),
                    "max_epoch": int(cur.get(
                        "max_epoch",
                        max([e["epoch"] for e in cur["epochs"]],
                            default=folded_max),
                    )),
                    "base": rel,
                    "epochs": suffix,
                    "data_dirs": [rel] + [e["dir"] for e in suffix],
                },
                expected_version=cur_version,
            )
            return len(man["epochs"])
        except CommitConflict:
            cur_version, cur = ms.latest()
    raise CommitConflict(
        "mor_compact: lost the publish CAS 5 times in a row to "
        "concurrent writers — the store is append-hot; retry "
        "compaction later (the staged fold is a vacuumable orphan)"
    )
