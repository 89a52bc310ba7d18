"""Merge-on-read store (sinks/mor.py + operators/merge.mor_reconcile).

The round-9 contract set:
  * round-trip law: read(mor_store) ≡ merge_upsert(base, deltas) folded
    epoch by epoch through the copy-on-write algebra;
  * O(batch) writes: appends and deletes never OPEN a base file —
    pinned by file mtime + inode identity;
  * plan gate: the reconciling read broadcasts the delta side and
    never shuffles the base scan;
  * compaction: equal view before/after, idempotent re-application of
    any delta SUFFIX (the crash-safety law for oldest-first removal).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cosmap_spark.operators.merge import merge_upsert, mor_reconcile
from cosmap_spark.sinks.mor import (
    DELETE_COL,
    mor_append,
    mor_compact,
    mor_delete_keys,
    mor_init,
    mor_read,
)


def _rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


@pytest.fixture(params=["manifest"])
def store(spark, tmp_path, request):
    """One fresh MOR store (the ``[manifest]`` id keeps test ids
    stable now that the manifest layout is the only one)."""
    base = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.concat(F.lit("name-"), F.col("id").cast("string")).alias("name"),
    )
    path = str(tmp_path / "store")
    mor_init(base, path, ["k"])
    return path


def _n_epochs(path: str) -> int:
    """Committed epoch count."""
    from cosmap_spark.sinks.commit import ManifestStore

    return len(ManifestStore(path).latest()[1]["epochs"])


def _base_dir_of(path: str) -> str:
    """The CURRENT base data directory (it moves with every
    compaction — re-resolve after one)."""
    from cosmap_spark.sinks.commit import ManifestStore

    ms = ManifestStore(path)
    return ms.data_path(ms.latest()[1]["base"])


def _batch(spark, rows):
    return spark.createDataFrame(
        [(k, v, n, d) for k, v, n, d in rows],
        f"k long, v long, name string, {DELETE_COL} boolean",
    )


def test_mor_round_trip_law(spark, store):
    """read(store) after N appends ≡ folding each epoch through
    merge_upsert — the verdict's 'done' criterion."""
    e1 = _batch(spark, [(5, 555, "upd5", False), (200, 1, "ins200", False),
                        (7, None, None, True)])
    e2 = _batch(spark, [(5, 666, "upd5b", False), (9, None, None, True),
                        (201, 2, "ins201", False)])
    e3 = _batch(spark, [(200, None, None, True), (9, 99, "back9", False)])
    base = mor_read(spark, store)  # empty log ⇒ exactly the base
    assert mor_append(spark, store, e1) == 1
    assert mor_append(spark, store, e2) == 2
    assert mor_append(spark, store, e3) == 3

    got = mor_read(spark, store)
    want = base
    for b in (e1, e2, e3):
        want = merge_upsert(want, b, ["k"], delete_col=DELETE_COL,
                            assume_unique=True)
    assert _rows(got) == _rows(want)
    assert sorted(got.columns) == sorted(base.columns)
    # spot semantics: epoch 3 resurrects k=9, tombstones k=200; epoch 2
    # overrides epoch 1's k=5
    m = {r["k"]: (r["v"], r["name"]) for r in got.collect()}
    assert m[5] == (666, "upd5b")
    assert m[9] == (99, "back9")
    assert 7 not in m and 200 not in m and m[201] == (2, "ins201")


def test_mor_writes_never_touch_base(spark, store):
    """Appends, deletes AND the reconciling read leave every
    pre-existing store file byte-identical and un-rewritten (path set
    + mtime + size + inode): the immutable data dirs AND published
    manifests — writes only ever ADD."""

    def base_state():
        out = {}
        for d, _, names in os.walk(store):
            for name in names:
                full = os.path.join(d, name)
                st = os.stat(full)
                out[full] = (st.st_mtime_ns, st.st_size, st.st_ino)
        return out

    before = base_state()
    mor_append(spark, store, _batch(spark, [(1, 11, "u", False)]))
    mor_delete_keys(
        spark, store, spark.createDataFrame([(3,), (4,)], "k long")
    )
    # 100 base rows − deleted {3,4}; the k=1 upsert replaces in place
    assert mor_read(spark, store).count() == 98
    after = base_state()
    # writes ADD files; every pre-existing file is untouched
    assert {p: after.get(p) for p in before} == before


def test_mor_delete_is_o_batch_and_idempotent(spark, store):
    keys = spark.createDataFrame([(10,), (11,), (999999,)], "k long")
    mor_delete_keys(spark, store, keys)
    assert mor_read(spark, store).where(F.col("k").isin(10, 11)).count() == 0
    # absent key harmless; re-run appends another tombstone epoch, view
    # unchanged (idempotent re-propagation)
    before = _rows(mor_read(spark, store))
    mor_delete_keys(spark, store, keys)
    assert _rows(mor_read(spark, store)) == before


def test_mor_read_plan_gate(spark, store):
    """Delta side broadcast; base scan never shuffles.  Asserted on a
    fresh (un-executed) plan per the CLAUDE.md AQE rule."""
    mor_append(spark, store, _batch(spark, [(1, 11, "u", False)]))
    mor_append(spark, store, _batch(spark, [(2, None, None, True)]))
    plan = mor_read(spark, store)._jdf.queryExecution().executedPlan() \
        .toString().split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the only exchanges are on the delta (window) side, never above
    # the base scan: walk the pretty-printed tree — the anti-join's
    # streamed child must be the base parquet scan directly
    import re

    streamed = re.search(
        r"BroadcastHashJoin.*LeftAnti[\s\S]{0,400}", plan
    ).group(0)
    # the base scan feeds the anti-join DIRECTLY (its first child is
    # the parquet FileScan, not an exchange)
    first_child = streamed.splitlines()[1]
    assert "FileScan parquet" in first_child, streamed


def test_mor_compact_preserves_view_and_clears_log(spark, store):
    mor_append(spark, store, _batch(spark, [(5, 555, "u5", False)]))
    mor_append(spark, store, _batch(spark, [(5, 666, "u5b", False),
                                            (6, None, None, True)]))
    before = _rows(mor_read(spark, store))
    assert mor_compact(spark, store) == 2
    after = _rows(mor_read(spark, store))
    assert after == before
    assert _n_epochs(store) == 0
    # compaction of an empty log is a no-op
    assert mor_compact(spark, store) == 0
    # the store keeps working after compaction
    mor_append(spark, store, _batch(spark, [(5, 777, "u5c", False)]))
    m = {r["k"]: r["v"] for r in mor_read(spark, store).collect()}
    assert m[5] == 777 and 6 not in m


def test_mor_reconcile_idempotence_law(spark):
    """The suffix law, pinned on the algebra (no store):
    reconcile(reconcile(b, D), suffix(D)) ≡ reconcile(b, D) — what
    makes a replayed or concurrently-kept epoch a no-op."""
    base = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    d = spark.createDataFrame(
        [(1, 100, 1, False), (2, None, 1, True),
         (1, 111, 2, False), (3, 333, 2, False)],
        f"k long, v long, epoch long, {DELETE_COL} boolean",
    )
    full = mor_reconcile(base, d, ["k"], epoch_col="epoch")
    suffix = d.where(F.col("epoch") == 2)
    again = mor_reconcile(full, suffix, ["k"], epoch_col="epoch")
    assert _rows(again) == _rows(full)


def test_mor_guards(spark, store, tmp_path):
    # duplicate keys in one batch refused (winner would be
    # partition-order dependent)
    dup = _batch(spark, [(1, 1, "a", False), (1, 2, "b", False)])
    with pytest.raises(ValueError, match="duplicate keys"):
        mor_append(spark, store, dup)
    # re-init refused
    with pytest.raises(ValueError, match="already exists"):
        mor_init(spark.range(1).select(F.col("id").alias("k")), store, ["k"])
    # not-a-store refused loudly
    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_read(spark, str(tmp_path / "nope"))
    # remote URIs without a CommitFS refuse with the seam named
    with pytest.raises(ValueError, match="CommitFS"):
        mor_read(spark, "s3a://bucket/store")
    # missing key column at init
    with pytest.raises(ValueError, match="key columns absent"):
        mor_init(spark.range(1), str(tmp_path / "s2"), ["k"])


def test_mor_torn_delta_write_invisible(spark, store):
    """A died writer's debris is structurally invisible to reads: an
    unreferenced data dir (written but never published)."""
    dead = os.path.join(store, "data", "deadbeefcafe")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-0.parquet"), "w") as f:
        f.write("garbage")
    assert mor_read(spark, store).count() == 100
    e = mor_append(spark, store, _batch(spark, [(1, 11, "u", False)]))
    assert e == 1


def test_mor_schema_alignment(spark, store):
    """A wider-typed batch (int keys into a long table, extra columns)
    is cast/pruned to the base schema — mixed-schema poisoning guarded
    the same way merge_upsert does."""
    wide = spark.createDataFrame(
        [(1, 11, "u", "extra")], "k int, v int, name string, junk string"
    )
    mor_append(spark, store, wide)
    row = mor_read(spark, store).where(F.col("k") == 1).collect()[0]
    assert row["v"] == 11 and "junk" not in row.asDict()


def test_mor_vacuum_cleans_died_init(spark, tmp_path):
    """A died mor_init leaves ONLY its base data dir — no manifest was
    ever published, so the store never existed — and vacuum must
    still reclaim it; a retried init then succeeds."""
    from cosmap_spark.sinks.commit import LocalFS
    from cosmap_spark.sinks.mor import mor_vacuum

    path = str(tmp_path / "never_born")
    base = spark.range(0, 5).select(F.col("id").alias("k"))

    def dying_publish(self, p, content):
        raise RuntimeError("injected crash before publish")

    real_publish = LocalFS.publish_exclusive
    LocalFS.publish_exclusive = dying_publish
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            mor_init(base, path, ["k"])
    finally:
        LocalFS.publish_exclusive = real_publish
    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_read(spark, path)
    orphans = os.listdir(os.path.join(path, "data"))
    assert len(orphans) == 1
    assert mor_vacuum(path, min_age_seconds=3600) == []  # age guard
    removed = mor_vacuum(path, min_age_seconds=0)
    assert [os.path.basename(p) for p in removed] == orphans
    assert os.listdir(os.path.join(path, "data")) == []
    mor_init(base, path, ["k"])
    assert mor_read(spark, path).count() == 5

    # an existing non-store path still refuses loudly — vacuum must not
    # sweep a project dir's own data/
    proj = tmp_path / "project"
    os.makedirs(proj / "data" / "raw")
    os.makedirs(proj / "notes")
    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_vacuum(str(proj), min_age_seconds=0)
    assert os.path.isdir(proj / "data" / "raw")
    # a data/ holding only non-uuid entries is not a died init either
    only_data = tmp_path / "only_data"
    os.makedirs(only_data / "data" / "raw")
    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_vacuum(str(only_data), min_age_seconds=0)
    assert os.path.isdir(only_data / "data" / "raw")


def test_mor_init_refuses_existing_non_store(spark, tmp_path):
    """mor_init onto a plain parquet table or a leftover rename-layout
    store refuses instead of writing data/ and _manifests/ beside the
    old files (which readers of the store would then silently
    ignore)."""
    base = spark.range(0, 5).select(F.col("id").alias("k"))
    table = str(tmp_path / "table")
    base.write.parquet(table)
    before = sorted(os.listdir(table))
    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_init(base, table, ["k"])
    assert sorted(os.listdir(table)) == before
    old = tmp_path / "rename_layout"
    os.makedirs(old / "base")
    os.makedirs(old / "deltas")
    (old / "_mor_meta.json").write_text("{}")
    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_init(base, str(old), ["k"])
    assert sorted(os.listdir(old)) == ["_mor_meta.json", "base", "deltas"]


def test_mor_init_refuses_reserved_columns(spark, tmp_path):
    """Round-9 review finding: a base 'epoch' column collides with the
    delta log's partition column on every read; a base __deleted
    duplicates the tombstone flag — refuse at init, case-insensitively
    (Spark resolves names case-insensitively)."""
    bad1 = spark.range(3).select(F.col("id").alias("k"),
                                 F.col("id").alias("epoch"))
    with pytest.raises(ValueError, match="reserved"):
        mor_init(bad1, str(tmp_path / "s1"), ["k"])
    bad2 = spark.range(3).select(F.col("id").alias("k"),
                                 F.lit(False).alias("__Deleted"))
    with pytest.raises(ValueError, match="reserved"):
        mor_init(bad2, str(tmp_path / "s2"), ["k"])


def test_mor_ingest_stream(spark, store, tmp_path):
    """Streaming CDC into the MOR store: two micro-batches land as two
    delta epochs; the view equals the batch-algebra fold; a replay on
    a fresh checkpoint is short-circuited by the ledger; a LOST ledger
    marker double-appends harmlessly (suffix idempotence); seq_col
    collapses within-batch duplicate keys."""
    import shutil as _sh

    from cosmap_spark.streaming.ops import mor_ingest_stream

    schema = f"k long, v long, name string, {DELETE_COL} boolean, seq long"
    land = tmp_path / "mis_land"
    b1 = spark.createDataFrame(
        [(5, 500, "old5", False, 1), (5, 555, "new5", False, 2),
         (300, 1, "i300", False, 1)], schema)
    b2 = spark.createDataFrame(
        [(7, None, None, True, 1), (5, 666, "newest5", False, 1)], schema)
    b1.coalesce(1).write.parquet(str(land), mode="append")
    b2.coalesce(1).write.parquet(str(land), mode="append")

    mor_ingest_stream(
        (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "mis_ck"), seq_col="seq",
    ).awaitTermination(180)

    m = {r["k"]: (r["v"], r["name"])
         for r in mor_read(spark, store).collect()}
    assert m[300] == (1, "i300") and 7 not in m
    assert m[5] in ((555, "new5"), (666, "newest5"))
    want = _rows(mor_read(spark, store))
    n_epochs = _n_epochs(store)
    assert n_epochs == 2

    # fresh checkpoint: the ledger short-circuits every epoch
    mor_ingest_stream(
        (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "mis_ck2"), seq_col="seq",
    ).awaitTermination(180)
    assert _n_epochs(store) == n_epochs
    assert _rows(mor_read(spark, store)) == want

    # lost marker (the crash-after-append window): the re-delivered
    # batch appends a SECOND identical epoch — and the view is
    # unchanged by suffix idempotence
    _sh.rmtree(os.path.join(store, "_epochs"))
    mor_ingest_stream(
        (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "mis_ck3"), seq_col="seq",
    ).awaitTermination(180)
    assert _n_epochs(store) == 2 * n_epochs
    assert _rows(mor_read(spark, store)) == want

    # store must pre-exist
    import pytest as _pt
    with _pt.raises(ValueError, match="not a merge-on-read store"):
        mor_ingest_stream(
            spark.readStream.schema(schema).parquet(str(land)),
            str(tmp_path / "nostore"), str(tmp_path / "mis_ck4"),
        )

    # NEW data under a reused epoch id (a rebuilt checkpoint after
    # more files landed) must RAISE, never be silently dropped — the
    # upsert_stream fingerprint discipline (round-9 review finding):
    # a fresh checkpoint with maxFilesPerTrigger unset delivers ALL
    # files as one epoch 0, whose content differs from the recorded
    # epoch-0 batch
    b3 = spark.createDataFrame([(8, 88, "i8", False, 1)], schema)
    b3.coalesce(1).write.parquet(str(land), mode="append")
    q = mor_ingest_stream(
        spark.readStream.schema(schema).parquet(str(land)),
        store, str(tmp_path / "mis_ck5"), seq_col="seq",
    )
    with _pt.raises(Exception, match="re-delivering NEW data"):
        q.awaitTermination()
    # the refused batch appended nothing
    assert _rows(mor_read(spark, store)) == want


def test_mor_compact_zordered(spark, store):
    """Compaction as OPTIMIZE-with-ZORDER: the folded view is
    identical to the plain compaction, the base is clustered
    (z-ordered layout spans shrink for a box predicate) and the log
    clears; num_files alone coalesces."""
    from cosmap_spark.operators.layout import describe_layout

    mor_append(spark, store, _batch(spark, [(5, 555, "u5", False),
                                            (6, None, None, True)]))
    want = _rows(mor_read(spark, store))
    assert mor_compact(spark, store, zorder_cols=["k", "v"],
                       num_files=4) == 1
    assert _rows(mor_read(spark, store)) == want
    assert _n_epochs(store) == 0
    base = _base_dir_of(store)
    files = [f for f in os.listdir(base) if f.endswith(".parquet")]
    assert len(files) == 4
    # clustered: total per-file k span stays near the key range (an
    # unclustered 4-file layout would put ~the FULL range in every
    # file → span sum ~4×; the 2-D Morton interleave allows small
    # single-dim overlaps, so assert span economy, not disjointness)
    spans = describe_layout(base, ["k"])
    ks = sorted((s["k_min"], s["k_max"]) for s in spans)
    total_span = sum(b - a for a, b in ks)
    key_range = max(b for _, b in ks) - min(a for a, _ in ks)
    assert total_span <= 1.6 * key_range, ks

    # num_files alone coalesces the fold
    mor_append(spark, store, _batch(spark, [(7, 77, "u7", False)]))
    want2 = _rows(mor_read(spark, store))
    assert mor_compact(spark, store, num_files=2) == 1
    assert _rows(mor_read(spark, store)) == want2
    base2 = _base_dir_of(store)
    files2 = [f for f in os.listdir(base2) if f.endswith(".parquet")]
    assert len(files2) == 2


def test_mor_null_keys_refused(spark, store, tmp_path):
    """NULL merge-key values are rejected at every write boundary
    (round-10 advice fix): the reconcile's equi anti-join is
    null-unsafe, so a NULL-key delta could never replace or tombstone
    a NULL-key base row — the store refuses instead of accumulating a
    silently wrong view."""
    # init with a NULL key in the base
    base = spark.createDataFrame(
        [(1, 10), (None, 20)], "k long, v long"
    )
    with pytest.raises(ValueError, match="NULL values in merge-key"):
        mor_init(base, str(tmp_path / "nullstore"), ["k"])
    assert not os.path.exists(str(tmp_path / "nullstore"))

    # append with a NULL key
    bad = spark.createDataFrame(
        [(None, 1, "x", False)],
        f"k long, v long, name string, {DELETE_COL} boolean",
    )
    with pytest.raises(ValueError, match="NULL values in merge-key"):
        mor_append(spark, store, bad)

    # delete with a NULL key (flows through mor_append's tombstone
    # path, which skips the dup check but NOT the null check)
    keys = spark.createDataFrame([(None,), (5,)], "k long")
    with pytest.raises(ValueError, match="NULL values in merge-key"):
        mor_delete_keys(spark, store, keys)

    # no epoch was committed by any refused write
    assert _n_epochs(store) == 0


def test_mor_manifest_publish_crash_window(spark, tmp_path):
    """The store's ONE crash window, both halves pinned:

    * die AFTER the data write, BEFORE the publish → the store is
      byte-for-byte unchanged for readers (the orphan dir is invisible
      — nothing references it), vacuum reclaims it, and a retried
      append lands cleanly;
    * the publish itself is all-or-nothing (os.link locally /
      conditional PUT on an object store) — a torn manifest can only
      live in the dot-prefixed staging file, which version listings
      structurally ignore."""
    import cosmap_spark.sinks.commit as C
    from cosmap_spark.sinks.commit import ManifestStore
    from cosmap_spark.sinks.mor import mor_vacuum

    path = str(tmp_path / "mstore")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])
    want = _rows(mor_read(spark, path))

    real_publish = C.LocalFS.publish_exclusive

    def dying_publish(self, p, content):
        raise RuntimeError("injected crash before publish")

    C.LocalFS.publish_exclusive = dying_publish
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            mor_append(spark, path, _batch(spark, [(1, 11, "u", False)]))
    finally:
        C.LocalFS.publish_exclusive = real_publish

    # unchanged view, version still 1, orphan dir present but invisible
    ms = ManifestStore(path)
    assert ms.versions() == [1]
    assert _rows(mor_read(spark, path)) == want
    data_dirs = os.listdir(os.path.join(path, "data"))
    assert len(data_dirs) == 2  # base + orphan
    # vacuum reclaims the orphan (age 0: no live writer here)
    removed = mor_vacuum(path, min_age_seconds=0)
    assert len(removed) == 1
    assert len(os.listdir(os.path.join(path, "data"))) == 1
    # the retried append commits
    assert mor_append(spark, path, _batch(spark, [(1, 11, "u", False)])) == 1
    m = {r["k"]: r["v"] for r in mor_read(spark, path).collect()}
    assert m[1] == 11

    # torn publish staging: a dot-prefixed partial file is ignored
    with open(os.path.join(path, "_manifests", ".v000000099.json.x"),
              "w") as f:
        f.write('{"version": 99, "epochs"')  # torn JSON
    assert ManifestStore(path).versions() == [1, 2]
    assert _rows(mor_read(spark, path)) is not None


def test_mor_manifest_cas_conflict_and_concurrent_append(spark, tmp_path):
    """Concurrent-writer serialization by the version CAS: publishing
    against a stale expected version raises CommitConflict and changes
    nothing."""
    from cosmap_spark.sinks.commit import CommitConflict, ManifestStore

    path = str(tmp_path / "mstore")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])
    ms = ManifestStore(path)
    v, man = ms.latest()
    # writer A commits normally
    mor_append(spark, path, _batch(spark, [(1, 11, "a", False)]))
    # writer B, still holding the stale manifest, loses the CAS
    with pytest.raises(CommitConflict, match="concurrent"):
        ms.publish({**man, "epochs": [], "data_dirs": man["data_dirs"]},
                   expected_version=v)
    assert ms.latest()[0] == 2  # B changed nothing


def test_mor_manifest_time_travel_and_history(spark, tmp_path):
    """Version-pinned reads: every published manifest stays readable —
    including ACROSS a compaction (the folded view replaces the log
    for new readers; historical versions still reconcile from the
    retained dirs).  expire_versions + vacuum then reclaim, oldest
    first, and the latest view is never touched."""
    from cosmap_spark.sinks.commit import ManifestStore
    from cosmap_spark.sinks.mor import mor_vacuum

    path = str(tmp_path / "mstore")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])
    v1 = _rows(mor_read(spark, path))
    mor_append(spark, path, _batch(spark, [(1, 111, "u1", False)]))
    v2 = _rows(mor_read(spark, path))
    mor_delete_keys(spark, path, spark.createDataFrame([(2,)], "k long"))
    v3 = _rows(mor_read(spark, path))
    assert mor_compact(spark, path) == 2
    v4 = _rows(mor_read(spark, path))
    assert v4 == v3

    assert _rows(mor_read(spark, path, version=1)) == v1
    assert _rows(mor_read(spark, path, version=2)) == v2
    assert _rows(mor_read(spark, path, version=3)) == v3
    assert _rows(mor_read(spark, path, version=4)) == v4

    ms = ManifestStore(path)
    assert ms.versions() == [1, 2, 3, 4]
    # keep only the latest 1 version; vacuum reclaims released dirs
    assert ms.expire_versions(keep_last=1) == [1, 2, 3]
    assert ms.versions() == [4]
    removed = mor_vacuum(path, min_age_seconds=0)
    # v4's base is the only referenced dir left; 3 dirs released
    # (original base + two delta epochs)
    assert len(removed) == 3
    assert len(os.listdir(os.path.join(path, "data"))) == 1
    assert _rows(mor_read(spark, path)) == v4
    # an expired version is gone (manifest file removed) — the pinned
    # read fails loudly, never silently serves something else
    with pytest.raises(Exception,
                       match="not exist|PATH_NOT_FOUND|No such file"):
        mor_read(spark, path, version=2).collect()


def test_mor_schema_evolution(spark, store):
    """ADD-only schema evolution (round-9 verdict task #4): a
    widening append adds nullable columns; the base and old epochs
    read back with NULL fill; later old-shaped batches write
    NULL there (rows replace wholesale); the widen → read → compact
    round-trip preserves the view; collisions and reserved names
    refuse; a store needing a newer reader refuses loudly."""
    from cosmap_spark.sinks.commit import ManifestStore

    # without the flag, extra columns are dropped (historical contract
    # — pinned separately in test_mor_schema_alignment)
    wide = spark.createDataFrame(
        [(1, 11, "u", 0.9)], "k long, v long, name string, score double"
    )
    mor_append(spark, store, wide)
    assert "score" not in mor_read(spark, store).columns

    # widening append
    mor_append(spark, store, wide, allow_new_columns=True)
    view = mor_read(spark, store)
    assert view.columns[-1] == "score"
    m = {r["k"]: r["score"] for r in view.collect()}
    assert m[1] == 0.9
    assert m[2] is None  # base row: NULL fill
    assert view.count() == 100

    # an old-shaped batch after the widen: score writes NULL (wholesale
    # row replacement), no flag needed
    mor_append(spark, store, _batch(spark, [(1, 12, "u2", False)]))
    m = {r["k"]: (r["v"], r["score"])
         for r in mor_read(spark, store).collect()}
    assert m[1] == (12, None)

    # deletes still work against the widened store (tombstones carry
    # the widened schema with NULL payload)
    mor_delete_keys(spark, store, spark.createDataFrame([(3,)], "k long"))
    assert 3 not in {r["k"] for r in mor_read(spark, store).collect()}

    # widen → read → compact round-trip
    want = _rows(mor_read(spark, store))
    assert mor_compact(spark, store) >= 1
    assert _rows(mor_read(spark, store)) == want
    mor_append(spark, store, wide, allow_new_columns=True)  # idempotent
    m = {r["k"]: r["score"] for r in mor_read(spark, store).collect()}
    assert m[1] == 0.9

    # a widening batch that CARRIES the tombstone flag must not hit
    # the reserved-name refusal (the flag is the control channel,
    # consumed by alignment — round-10 second-pass finding)
    wide_tomb = spark.createDataFrame(
        [(4, 44, "t", 0.1, 7, False)],
        f"k long, v long, name string, score double, extra2 long, "
        f"{DELETE_COL} boolean",
    )
    mor_append(spark, store, wide_tomb, allow_new_columns=True)
    row4 = mor_read(spark, store).where(F.col("k") == 4).collect()[0]
    assert row4["extra2"] == 7 and "extra2" in mor_read(
        spark, store).columns

    # refusals: case-fold collision, reserved names
    bad_case = spark.createDataFrame([(1, 5)], "k long, V long")
    with pytest.raises(ValueError, match="case-insensitively"):
        mor_append(spark, store, bad_case, allow_new_columns=True)
    bad_reserved = spark.createDataFrame([(1, 5)], "k long, epoch long")
    with pytest.raises(ValueError, match="reserved"):
        mor_append(spark, store, bad_reserved, allow_new_columns=True)

    # old-reader-new-store refusal (the Delta reader-version gate)
    ms = ManifestStore(store)
    v, man = ms.latest()
    ms.publish({**man, "min_reader_version": 99}, expected_version=v)
    with pytest.raises(ValueError, match="reader version"):
        mor_read(spark, store)
    with pytest.raises(ValueError, match="reader version"):
        mor_append(spark, store, wide)


def test_mor_read_predicate_pushdown(spark, store):
    """Round-9 verdict task #7: a filter above the reconciled view
    reaches the BASE scan's PushedFilters (Catalyst pushes through the
    union and the anti-join's streamed side) — the property partition
    pruning over a 100 TB base rests on.  The value predicate lands on
    the base scan only (a delta row's value is decided by the winner
    window, so pushing it pre-window would be wrong); the key
    predicate pushes everywhere."""
    import re

    mor_append(spark, store, _batch(spark, [(5, 555, "u", False)]))
    plan = (
        mor_read(spark, store)
        .where(F.col("v") > 500).where(F.col("k") < 90)
        ._jdf.queryExecution().executedPlan()
        .toString().split("== Initial Plan ==")[0]
    )
    scans = re.findall(
        r"FileScan parquet.*?PushedFilters: \[([^\]]*)\]", plan
    )
    assert scans, plan
    base_scan = scans[0]
    assert "GreaterThan(v,500)" in base_scan, scans
    assert "LessThan(k,90)" in base_scan, scans
    # every delta scan carries at least the key predicate
    for s in scans[1:]:
        assert "LessThan(k,90)" in s, scans


def test_mor_manifest_lifecycle_needs_no_rename(spark, tmp_path):
    """The property the manifest protocol exists for, proven
    mechanically: the ENTIRE store lifecycle — init, append, delete,
    read, compact, expire, vacuum — issues ZERO Python-side
    ``os.rename``/``os.replace`` calls (publish is link-based
    create-if-absent; data dirs are write-once).  This is what makes
    the layout object-store-portable: nothing in the commit protocol
    assumes a rename primitive.  (Spark's own parquet committer
    renames inside the data dir it is creating — JVM-side, swapped for
    an object-store committer in a real deployment — so only the
    protocol layer is under test here.)"""
    import os as _os

    from cosmap_spark.sinks.commit import ManifestStore
    from cosmap_spark.sinks.mor import mor_vacuum

    base = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.lit("x").alias("name"),
    )
    path = str(tmp_path / "norename")

    real_rename, real_replace = _os.rename, _os.replace

    def banned(*a, **kw):
        raise AssertionError(f"os.rename/replace called on {a}")

    _os.rename = banned
    _os.replace = banned
    try:
        mor_init(base, path, ["k"])
        mor_append(spark, path, _batch(spark, [(1, 11, "u", False)]))
        mor_delete_keys(spark, path,
                        spark.createDataFrame([(2,)], "k long"))
        got = {r["k"]: r["v"] for r in mor_read(spark, path).collect()}
        assert got[1] == 11 and 2 not in got
        assert mor_compact(spark, path) == 2
        assert {r["k"]: r["v"]
                for r in mor_read(spark, path).collect()} == got
        ManifestStore(path).expire_versions(keep_last=1)
        mor_vacuum(path, min_age_seconds=0)
        assert {r["k"]: r["v"]
                for r in mor_read(spark, path).collect()} == got
    finally:
        _os.rename, _os.replace = real_rename, real_replace


class DictFS:
    """listdir/exists/read_text/makedirs/publish_exclusive over an
    in-memory object map, plus the two vacuum helpers."""

    def __init__(self):
        self.objects: dict[str, str] = {}

    def listdir(self, path):
        import os as _os

        pref = path.rstrip("/") + "/"
        names = {
            k[len(pref):].split("/", 1)[0]
            for k in self.objects if k.startswith(pref)
        }
        # data dirs live on the real fs (Spark wrote them)
        if _os.path.isdir(path):
            names |= set(_os.listdir(path))
        return sorted(names)

    def exists(self, path):
        import os as _os

        return path in self.objects or _os.path.exists(path)

    def read_text(self, path):
        return self.objects[path]

    def makedirs(self, path):
        pass  # object stores have no directories

    def publish_exclusive(self, path, content):
        from cosmap_spark.sinks.commit import CommitConflict

        if path in self.objects:
            raise CommitConflict(f"{path} already published")
        self.objects[path] = content

    def remove_tree(self, path):
        import os as _os
        import shutil as _sh

        self.objects.pop(path, None)
        if _os.path.isdir(path):
            _sh.rmtree(path)

    def mtime(self, path):
        import os as _os

        return _os.stat(path).st_mtime


def test_mor_manifest_custom_commitfs(spark, tmp_path):
    """The CommitFS seam is real: a custom fs that keeps ALL manifest
    state in an in-memory dict (no manifest ever touches the local
    filesystem — only Spark's data-dir IO does) drives the full MOR
    lifecycle through `fs=`.  This is the object-store port contract
    mechanically exercised: everything the protocol needs goes through
    the five calls, including the publish CAS."""
    from cosmap_spark.sinks.commit import CommitConflict
    from cosmap_spark.sinks.mor import mor_vacuum

    fs = DictFS()
    path = str(tmp_path / "dictstore")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 5).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"], fs=fs)
    # no manifest file on the local filesystem — the dict holds them
    assert not os.path.exists(os.path.join(path, "_manifests"))
    assert len(fs.objects) == 1

    mor_append(spark, path, _batch(spark, [(1, 11, "u", False)]), fs=fs)
    mor_delete_keys(spark, path,
                    spark.createDataFrame([(2,)], "k long"), fs=fs)
    got = {r["k"]: r["v"] for r in mor_read(spark, path, fs=fs).collect()}
    assert got[1] == 11 and 2 not in got and len(got) == 19

    v2 = _rows(mor_read(spark, path, version=2, fs=fs))
    assert mor_compact(spark, path, fs=fs) == 2
    assert {r["k"]: r["v"]
            for r in mor_read(spark, path, fs=fs).collect()} == got
    assert _rows(mor_read(spark, path, version=2, fs=fs)) == v2

    # the CAS still serializes (publish against a stale version)
    from cosmap_spark.sinks.commit import ManifestStore

    ms = ManifestStore(path, fs)
    v, man = ms.latest()
    with pytest.raises(CommitConflict):
        ms.publish(man, expected_version=v - 1)

    # history retained ⇒ nothing is an orphan yet; expiry releases the
    # folded generation, then the seam's reachability vacuum reclaims
    assert mor_vacuum(path, min_age_seconds=0, fs=fs) == []
    assert ms.expire_versions(keep_last=1) == [1, 2, 3]
    removed = mor_vacuum(path, min_age_seconds=0, fs=fs)
    assert len(removed) == 3  # original base + two delta epochs
    assert {r["k"]: r["v"]
            for r in mor_read(spark, path, fs=fs).collect()} == got


def test_mor_manifest_compact_race_keeps_concurrent_append(spark, tmp_path):
    """A compaction racing a concurrent append must lose the CAS and
    RETRY preserving the appended epoch as the folded base's suffix —
    never publish an epochs=[] manifest that silently drops data.
    Simulated by injecting an append between the fold and the first
    publish attempt."""
    import cosmap_spark.sinks.commit as C
    from cosmap_spark.sinks.commit import ManifestStore

    path = str(tmp_path / "mstore")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])
    mor_append(spark, path, _batch(spark, [(1, 111, "u1", False)]))

    raced = spark.createDataFrame(
        [(2, 222, "u2", False)],
        f"k long, v long, name string, {DELETE_COL} boolean",
    )
    real = C.LocalFS.publish_exclusive
    state = {"injected": False}

    def racing_publish(self, p, content):
        import json as _json

        body = _json.loads(content)
        # inject the rival append exactly once, before the COMPACT's
        # first publish (identified by its empty epoch suffix)
        if not state["injected"] and body.get("epochs") == []:
            state["injected"] = True
            C.LocalFS.publish_exclusive = real
            try:
                mor_append(spark, path, raced)
            finally:
                C.LocalFS.publish_exclusive = racing_publish
        return real(self, p, content)

    C.LocalFS.publish_exclusive = racing_publish
    try:
        assert mor_compact(spark, path) == 1  # folded the PRE-race epoch
    finally:
        C.LocalFS.publish_exclusive = real

    # both the folded update AND the raced append survive
    m = {r["k"]: r["v"] for r in mor_read(spark, path).collect()}
    assert m[1] == 111 and m[2] == 222
    _, man = ManifestStore(path).latest()
    assert [e["epoch"] for e in man["epochs"]] == [2]  # the suffix


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_mor_model_differential_random_ops(spark, store, seed):
    """Model-based differential: a seeded random sequence of
    upsert/delete/widen/compact/vacuum/expire operations against a
    plain python dict model — after EVERY operation the store view
    equals the model exactly (keys, values, widened columns, NULLs).
    It also exercises history expiry mid-sequence, PLUS (round-10
    continuation) a downstream replica kept current by mor_sync under
    the same random schedule — including the documented re-bootstrap
    recovery when expiry cuts the cursor's history — and the
    change-feed apply law over the retained version range at the
    end."""
    import random

    rng = random.Random(seed)
    # model: k -> dict of column values (the fixture's base)
    model = {
        k: {"v": k * 10, "name": f"name-{k}", "score": None}
        for k in range(100)
    }
    widened = False

    def check():
        view = mor_read(spark, store)
        cols = ["k", "v", "name"] + (["score"] if widened else [])
        got = {
            r["k"]: {c: r[c] for c in cols if c != "k"}
            for r in view.collect()
        }
        want = {
            k: {c: row[c] for c in cols if c != "k"}
            for k, row in model.items()
        }
        assert got == want, f"seed {seed}: view diverged from model"

    replica = store + "_replica"

    def model_rows():
        cols = ["v", "name"] + (["score"] if widened else [])
        return {
            k: {c: row[c] for c in cols} for k, row in model.items()
        }

    def sync_and_check():
        import shutil as _sh

        from cosmap_spark.sinks.mor import mor_sync

        try:
            mor_sync(spark, store, replica)
        except ValueError as e:
            # expiry cut the cursor's history: the documented recovery
            assert "re-bootstrap" in str(e), f"seed {seed}: {e}"
            _sh.rmtree(replica, ignore_errors=True)
            _sh.rmtree(replica + ".sync", ignore_errors=True)
            mor_sync(spark, store, replica)
        cols = ["k", "v", "name"] + (["score"] if widened else [])
        got = {
            r["k"]: {c: r[c] for c in cols if c != "k"}
            for r in mor_read(spark, replica).collect()
        }
        assert got == model_rows(), f"seed {seed}: replica diverged"

    next_name = [1000]
    for step in range(12):
        op = rng.choice(
            ["upsert", "upsert", "delete", "widen", "compact", "vacuum"]
        )
        if op == "upsert":
            ks = rng.sample(sorted(model) or [0], min(3, max(1, len(model))))
            ks += [max(model, default=0) + 1 + step * 7]  # one insert
            rows = []
            for kk in sorted(set(ks)):
                nm = f"n{next_name[0]}"
                next_name[0] += 1
                rows.append((kk, rng.randrange(10_000), nm, False))
                model[kk] = {"v": rows[-1][1], "name": nm, "score": None}
            mor_append(spark, store, _batch(spark, rows))
        elif op == "delete":
            if not model:
                continue
            ks = rng.sample(sorted(model), min(2, len(model)))
            mor_delete_keys(
                spark, store,
                spark.createDataFrame([(kk,) for kk in ks], "k long"),
            )
            for kk in ks:
                model.pop(kk)
        elif op == "widen":
            kk = max(model, default=0) + 500 + step
            sc = rng.randrange(100)
            wide = spark.createDataFrame(
                [(kk, 1, "w", sc)],
                "k long, v long, name string, score long",
            )
            mor_append(spark, store, wide, allow_new_columns=True)
            if not widened:
                # pre-widen rows surface NULL score
                widened = True
            model[kk] = {"v": 1, "name": "w", "score": sc}
        elif op == "compact":
            mor_compact(spark, store)
        elif op == "vacuum":
            from cosmap_spark.sinks.mor import mor_vacuum

            if rng.random() < 0.5:
                from cosmap_spark.sinks.commit import ManifestStore

                ManifestStore(store).expire_versions(keep_last=1)
            mor_vacuum(store, min_age_seconds=0)
        check()
        if rng.random() < 0.4 or step == 11:
            sync_and_check()

    # change-feed apply law over the retained version range (expiry
    # keeps a contiguous suffix, so the walk never gaps): applying
    # the feed to the oldest retained view reproduces the head
    from cosmap_spark.sinks.commit import ManifestStore
    from cosmap_spark.sinks.mor import CHANGE_TYPE_COL, mor_changes

    vs = ManifestStore(store).versions()
    lo, hi = vs[0], vs[-1]
    if hi > lo:
        feed = mor_changes(spark, store, from_version=lo,
                           to_version=hi)
        v_lo = mor_read(spark, store, version=lo)
        for c, t in feed.dtypes:  # lo may predate a widening
            if c != CHANGE_TYPE_COL and c not in v_lo.columns:
                v_lo = v_lo.withColumn(c, F.lit(None).cast(t))
        applied = _apply_changes(v_lo, feed, ["k"])
        assert _rows(applied) == _rows(
            mor_read(spark, store, version=hi)
        ), f"seed {seed}: change-feed apply law diverged"


def test_mor_manifest_epoch_watermark_never_recycles(spark, tmp_path):
    """Epoch numbers ride a monotone watermark:
    a compaction empties the live epoch list but the NEXT append claims
    max_epoch + 1, never 1 again — epoch order == commit order globally
    (what mor_changes' feed ordering and mor_compact's retry reasoning
    rest on)."""
    from cosmap_spark.sinks.commit import ManifestStore

    path = str(tmp_path / "mstore")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])
    assert mor_append(spark, path, _batch(spark, [(1, 11, "a", False)])) == 1
    assert mor_append(spark, path, _batch(spark, [(2, 22, "b", False)])) == 2
    assert mor_compact(spark, path) == 2
    assert ManifestStore(path).latest()[1]["epochs"] == []
    # post-compaction append continues the sequence
    assert mor_append(spark, path, _batch(spark, [(3, 33, "c", False)])) == 3
    assert ManifestStore(path).latest()[1]["max_epoch"] == 3


def test_mor_manifest_append_cas_retry_self_heals(spark, tmp_path):
    """An append that loses the publish CAS re-reads, REWRITES the
    batch under the next epoch number and re-publishes — concurrent
    appends both land (Delta's commit-retry loop), with distinct
    epochs and only vacuumable orphans left behind."""
    import cosmap_spark.sinks.commit as C
    from cosmap_spark.sinks.commit import ManifestStore

    path = str(tmp_path / "mstore")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])

    rival = _batch(spark, [(7, 777, "rival", False)])
    real = C.LocalFS.publish_exclusive
    state = {"injected": False}

    def racing_publish(self, p, content):
        # inject a rival append exactly once, before OUR first publish
        if not state["injected"]:
            state["injected"] = True
            C.LocalFS.publish_exclusive = real
            try:
                assert mor_append(spark, path, rival) == 1
            finally:
                C.LocalFS.publish_exclusive = racing_publish
        return real(self, p, content)

    C.LocalFS.publish_exclusive = racing_publish
    try:
        # loses v2 to the rival, retries, lands as epoch 2
        got = mor_append(spark, path, _batch(spark, [(8, 888, "me", False)]))
    finally:
        C.LocalFS.publish_exclusive = real
    assert got == 2
    m = {r["k"]: r["v"] for r in mor_read(spark, path).collect()}
    assert m[7] == 777 and m[8] == 888
    _, man = ManifestStore(path).latest()
    assert [e["epoch"] for e in man["epochs"]] == [1, 2]
    # the lost first attempt's staging dir is an unreferenced orphan
    orphans = ManifestStore(path).vacuum(min_age_seconds=0, dry_run=True)
    assert len(orphans) == 1


def test_mor_manifest_compact_race_with_interleaved_compact(spark, tmp_path):
    """The round-10 data-loss regression: compact C folds a snapshot,
    then loses the CAS to an interleaved compact A *plus* an append D
    (whose epoch number, on a pre-watermark store, would RECYCLE to a
    value inside C's folded range).  C's retry must identify the
    surviving suffix by immutable dir name — an `epoch > folded_max`
    test would silently drop D's rows from the published view."""
    import cosmap_spark.sinks.commit as C
    from cosmap_spark.sinks.commit import ManifestStore

    path = str(tmp_path / "mstore")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])
    mor_append(spark, path, _batch(spark, [(1, 11, "a", False)]))
    mor_append(spark, path, _batch(spark, [(2, 22, "b", False)]))
    # simulate a PRE-WATERMARK store: the rival append below must claim
    # a recycled epoch number inside C's folded range [1, 2]
    ms = ManifestStore(path)
    v, man = ms.latest()
    man.pop("max_epoch", None)
    ms.publish(man, expected_version=v)

    raced = _batch(spark, [(100, 333, "d", False)])
    real = C.LocalFS.publish_exclusive
    state = {"injected": False}

    def racing_publish(self, p, content):
        import json as _json

        body = _json.loads(content)
        if not state["injected"] and body.get("epochs") == []:
            state["injected"] = True
            C.LocalFS.publish_exclusive = real
            try:
                # rival compact A folds the same snapshot...
                assert mor_compact(spark, path) == 2
                # ...and append D lands on the folded store with a
                # RECYCLED epoch number (pre-watermark manifests)
                ms2 = ManifestStore(path)
                v2, man2 = ms2.latest()
                man2.pop("max_epoch", None)
                ms2.publish(man2, expected_version=v2)
                assert mor_append(spark, path, raced) == 1
            finally:
                C.LocalFS.publish_exclusive = racing_publish
        return real(self, p, content)

    C.LocalFS.publish_exclusive = racing_publish
    try:
        assert mor_compact(spark, path) == 2
    finally:
        C.LocalFS.publish_exclusive = real

    # D's raced append SURVIVES the retried publish
    m = {r["k"]: r["v"] for r in mor_read(spark, path).collect()}
    assert m[100] == 333, "interleaved-compact retry dropped the append"
    assert m[1] == 11 and m[2] == 22 and len(m) == 11


def _apply_changes(view_from, changes, keys):
    """The consumer-side law: view_from minus touched keys plus the
    post-image rows == view_to."""
    from cosmap_spark.sinks.mor import CHANGE_TYPE_COL

    touched = changes.where(
        F.col(CHANGE_TYPE_COL).isin("delete", "update_postimage", "insert")
    ).select(*keys).distinct()
    posts = changes.where(
        F.col(CHANGE_TYPE_COL).isin("update_postimage", "insert")
    ).drop(CHANGE_TYPE_COL)
    return view_from.join(
        F.broadcast(touched), keys, "left_anti"
    ).unionByName(posts)


def test_mor_changes_basic_and_apply_law(spark, tmp_path):
    """mor_changes between two versions: inserts, update pre/post
    pairs, deletes — and applying the feed to the from-view reproduces
    the to-view exactly (the CDC apply law)."""
    from cosmap_spark.sinks.mor import CHANGE_TYPE_COL, mor_changes

    path = str(tmp_path / "mstore")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])          # v1
    mor_append(spark, path, _batch(
        spark, [(1, 111, "upd", False), (100, 1000, "new", False)]))  # v2
    mor_delete_keys(spark, path,
                    spark.createDataFrame([(2,)], "k long"))  # v3

    ch = mor_changes(spark, path, from_version=1)
    got = {(r["k"], r[CHANGE_TYPE_COL]): (r["v"], r["name"])
           for r in ch.collect()}
    assert got[(100, "insert")] == (1000, "new")
    assert got[(1, "update_preimage")] == (10, "x")
    assert got[(1, "update_postimage")] == (111, "upd")
    assert got[(2, "delete")] == (20, "x")
    assert len(got) == 4

    applied = _apply_changes(
        mor_read(spark, path, version=1), ch, ["k"])
    assert _rows(applied) == _rows(mor_read(spark, path, version=3))


def test_mor_changes_net_semantics(spark, tmp_path):
    """NET feed: insert-then-delete inside the range vanishes; two
    updates collapse to one pair carrying the FINAL value; a delete of
    a key absent at from_version emits nothing."""
    from cosmap_spark.sinks.mor import CHANGE_TYPE_COL, mor_changes

    path = str(tmp_path / "mstore")
    base = spark.range(0, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])            # v1
    mor_append(spark, path, _batch(spark, [(50, 1, "a", False)]))   # v2
    mor_append(spark, path, _batch(spark, [(50, 2, "b", False),
                                           (1, 100, "u1", False)]))  # v3
    mor_delete_keys(spark, path,
                    spark.createDataFrame([(50,), (99,)], "k long"))  # v4
    mor_append(spark, path, _batch(spark, [(1, 200, "u2", False)]))  # v5

    ch = mor_changes(spark, path, from_version=1, to_version=5)
    got = {(r["k"], r[CHANGE_TYPE_COL]): r["v"] for r in ch.collect()}
    # 50: inserted then deleted -> nothing; 99: never existed -> nothing
    assert not any(k == 50 or k == 99 for k, _ in got)
    # 1: two updates -> ONE pair with the final value
    assert got[(1, "update_preimage")] == 10
    assert got[(1, "update_postimage")] == 200
    assert len(got) == 2

    applied = _apply_changes(
        mor_read(spark, path, version=1), ch, ["k"])
    assert _rows(applied) == _rows(mor_read(spark, path, version=5))


def test_mor_changes_across_compaction_and_empty_ranges(spark, tmp_path):
    """Epochs folded away by an interleaved compaction are still fed
    (collected by dir on first appearance through the version walk); a
    pure-compaction range yields an EMPTY feed; expired history and
    a path holding no store refuse loudly."""
    from cosmap_spark.sinks.commit import ManifestStore
    from cosmap_spark.sinks.mor import mor_changes

    path = str(tmp_path / "mstore")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])             # v1
    mor_append(spark, path, _batch(spark, [(1, 111, "u", False)]))  # v2
    assert mor_compact(spark, path) == 1                        # v3
    mor_append(spark, path, _batch(spark, [(2, 222, "w", False)]))  # v4

    ch = mor_changes(spark, path, from_version=1, to_version=4)
    applied = _apply_changes(
        mor_read(spark, path, version=1), ch, ["k"])
    assert _rows(applied) == _rows(mor_read(spark, path, version=4))
    ks = sorted(r["k"] for r in ch.collect())
    assert 1 in ks and 2 in ks  # the folded epoch's update is fed

    # pure-compaction range: the view did not change
    assert mor_changes(spark, path, from_version=2,
                       to_version=3).count() == 0

    # no store, no history
    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_changes(spark, str(tmp_path / "nostore"), from_version=1)

    # expired history refuses loudly
    ManifestStore(path).expire_versions(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        mor_changes(spark, path, from_version=1, to_version=4)


def test_mor_changes_schema_widening(spark, tmp_path):
    """A widening append inside the range: pre-images NULL-fill the
    new column (the to-version schema governs the feed shape) and the
    apply law still holds."""
    from cosmap_spark.sinks.mor import CHANGE_TYPE_COL, mor_changes

    path = str(tmp_path / "mstore")
    base = spark.range(0, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])             # v1
    wide = spark.createDataFrame([(1, 111, "u", 0.5)],
                                 "k long, v long, name string, score double")
    mor_append(spark, path, wide, allow_new_columns=True)       # v2

    ch = mor_changes(spark, path, from_version=1, to_version=2)
    assert "score" in ch.columns
    got = {r[CHANGE_TYPE_COL]: (r["v"], r["score"]) for r in ch.collect()}
    assert got["update_preimage"] == (10, None)
    assert got["update_postimage"] == (111, 0.5)

    applied = _apply_changes(
        mor_read(spark, path, version=1).withColumn(
            "score", F.lit(None).cast("double")),
        ch, ["k"])
    assert _rows(applied) == _rows(mor_read(spark, path, version=2))


def test_mor_sync_bootstrap_and_incremental(spark, tmp_path):
    """mor_sync: bootstrap copies the pinned source view, each later
    call applies exactly the net changes (one destination epoch), a
    pure-compaction source range advances the cursor with no epoch,
    and source schema widening flows through."""
    from cosmap_spark.sinks.mor import mor_sync

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, src, ["k"])

    r = mor_sync(spark, src, dst)
    assert r["applied"] and r["to_version"] == 1
    assert _rows(mor_read(spark, dst)) == _rows(mor_read(spark, src))

    # up to date: no-op
    r = mor_sync(spark, src, dst)
    assert not r["applied"] and r["from_version"] == r["to_version"] == 1

    # incremental: upserts + delete -> ONE destination epoch
    mor_append(spark, src, _batch(
        spark, [(1, 111, "u", False), (100, 1000, "new", False)]))
    mor_delete_keys(spark, src, spark.createDataFrame([(2,)], "k long"))
    before = _n_epochs(dst)
    r = mor_sync(spark, src, dst)
    assert r["applied"] and (r["from_version"], r["to_version"]) == (1, 3)
    assert _n_epochs(dst) == before + 1
    assert _rows(mor_read(spark, dst)) == _rows(mor_read(spark, src))

    # pure compaction on the source: cursor advances, no epoch
    assert mor_compact(spark, src) == 2
    before = _n_epochs(dst)
    r = mor_sync(spark, src, dst)
    assert not r["applied"] and r["to_version"] == 4
    assert _n_epochs(dst) == before

    # source widening flows through allow_new_columns
    wide = spark.createDataFrame(
        [(3, 333, "w", 7)], "k long, v long, name string, score long"
    )
    mor_append(spark, src, wide, allow_new_columns=True)
    r = mor_sync(spark, src, dst)
    assert r["applied"]
    assert _rows(mor_read(spark, dst)) == _rows(mor_read(spark, src))
    assert "score" in mor_read(spark, dst).columns


def test_mor_sync_replay_windows(spark, tmp_path):
    """The two crash windows replay to the same final state:

    * die AFTER the destination append, BEFORE the cursor publish —
      the replay re-applies the net batch (extra epoch, view no-op)
      and advances the cursor;
    * bootstrap die AFTER the cursor publish, BEFORE the destination
      init — the replay initializes from the PINNED version even
      though the source advanced meanwhile, and the next sync catches
      up."""
    from cosmap_spark.sinks.commit import ManifestStore
    from cosmap_spark.sinks.mor import mor_sync

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, src, ["k"])
    mor_sync(spark, src, dst)
    mor_append(spark, src, _batch(spark, [(1, 111, "u", False)]))

    # window 1: cursor publish dies after the append
    real = ManifestStore.publish
    def dying(self, manifest, *, expected_version):
        if "src_version" in manifest:
            raise RuntimeError("injected: died before cursor publish")
        return real(self, manifest, expected_version=expected_version)
    ManifestStore.publish = dying
    try:
        with pytest.raises(RuntimeError, match="injected"):
            mor_sync(spark, src, dst)
    finally:
        ManifestStore.publish = real
    # the append LANDED but the cursor did not move
    assert _n_epochs(dst) == 1
    assert ManifestStore(dst + ".sync").latest()[1]["src_version"] == 1
    # replay: same batch re-applied (second epoch), view converges
    r = mor_sync(spark, src, dst)
    assert r["applied"] and _n_epochs(dst) == 2
    assert _rows(mor_read(spark, dst)) == _rows(mor_read(spark, src))
    assert ManifestStore(dst + ".sync").latest()[1]["src_version"] == 2

    # window 2: bootstrap cursor exists, store missing
    dst2 = str(tmp_path / "dst2")
    ManifestStore(dst2 + ".sync").publish(
        {"src_version": 1}, expected_version=0)
    mor_append(spark, src, _batch(spark, [(5, 555, "w", False)]))  # v3
    r = mor_sync(spark, src, dst2)
    # initialized from the PINNED v1, not the advanced source head
    assert r["to_version"] == 1
    assert _rows(mor_read(spark, dst2)) == \
        _rows(mor_read(spark, src, version=1))
    r = mor_sync(spark, src, dst2)  # catch-up
    assert r["applied"] and r["to_version"] == 3
    assert _rows(mor_read(spark, dst2)) == _rows(mor_read(spark, src))


def test_mor_sync_guards(spark, tmp_path):
    """Missing sources and key-mismatched destinations refuse
    loudly."""
    from cosmap_spark.sinks.mor import mor_sync

    base = spark.range(0, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_sync(spark, str(tmp_path / "nosrc"), str(tmp_path / "d"))

    msrc = str(tmp_path / "msrc")
    mor_init(base, msrc, ["k"])
    other = str(tmp_path / "other")
    mor_init(base.withColumnRenamed("k", "kk"), other, ["kk"])
    # give the mismatched store a cursor so the provenance guard
    # (tested separately) does not fire first — the key check must
    # still refuse
    from cosmap_spark.sinks.commit import ManifestStore

    ManifestStore(other + ".sync").publish(
        {"src_version": 1}, expected_version=0)
    with pytest.raises(ValueError, match="key mismatch"):
        mor_sync(spark, msrc, other)


def test_mor_maintain_policy(spark, store):
    """mor_maintain applies the health page's advice in one call:
    below the threshold nothing compacts; at it the stack folds,
    history expires (opt-in), and debris vacuums — each step
    riding its own crash-safe contract."""
    from cosmap_spark.sinks.mor import mor_maintain

    for i in range(3):
        mor_append(spark, store,
                   _batch(spark, [(i, 1000 + i, "m", False)]))
    r = mor_maintain(spark, store, compact_after=10,
                     vacuum_age_seconds=0)
    assert r["compacted_epochs"] == 0 and _n_epochs(store) == 3

    r = mor_maintain(spark, store, compact_after=3, vacuum_age_seconds=0,
                     expire_keep_last=1)
    assert r["compacted_epochs"] == 3 and _n_epochs(store) == 0
    m = {row["k"]: row["v"] for row in mor_read(spark, store).collect()}
    assert m[0] == 1000 and m[1] == 1001 and m[2] == 1002
    from cosmap_spark.sinks.commit import ManifestStore

    assert r["expired_versions"]  # history trimmed to the fold
    assert len(ManifestStore(store).versions()) == 1
    # expiry before vacuum: released dirs reclaimed in WITHIN the
    # same call — only the live base remains under data/
    assert len(os.listdir(os.path.join(store, "data"))) == 1


def test_manifest_vacuum_sweeps_publish_staging_debris(spark, tmp_path):
    """A publish that died INSIDE the staging write leaks a
    dot-prefixed file in _manifests — invisible to version listings
    but previously never reclaimed.  The reachability vacuum now
    sweeps it (age-guarded); fresh staging files and published
    versions are untouched."""
    import time

    from cosmap_spark.sinks.commit import ManifestStore

    path = str(tmp_path / "mstore")
    base = spark.range(0, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, path, ["k"])
    ms = ManifestStore(path)
    mdir = os.path.join(path, "_manifests")
    stale = os.path.join(mdir, ".v000000002.json.deadbeef")
    fresh = os.path.join(mdir, ".v000000002.json.cafe")
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write("{}")
    old = time.time() - 7200
    os.utime(stale, (old, old))
    removed = ms.vacuum(min_age_seconds=3600)
    assert stale in removed and fresh not in removed
    assert not os.path.exists(stale) and os.path.exists(fresh)
    assert ms.versions() == [1]  # published history untouched
    # the store still reads
    assert mor_read(spark, path).count() == 5


def test_mor_sync_provenance_and_expiry_guards(spark, tmp_path):
    """Two silent-wrongness windows closed (round-10 self-review):
    an existing destination with NO cursor is refused (adopting it
    would declare arbitrary content in-sync with the source head),
    and a cursor lagging past the source's expired history gets the
    re-bootstrap guidance, not a generic expiry error."""
    from cosmap_spark.sinks.commit import ManifestStore
    from cosmap_spark.sinks.mor import mor_sync

    base = spark.range(0, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    src = str(tmp_path / "src")
    mor_init(base, src, ["k"])

    # destination exists, cursor does not -> refuse to adopt
    orphan = str(tmp_path / "orphan")
    mor_init(base.where(F.col("k") < 2), orphan, ["k"])
    with pytest.raises(ValueError, match="unknown provenance"):
        mor_sync(spark, src, orphan)

    # cursor lags past the expired horizon -> re-bootstrap guidance
    dst = str(tmp_path / "dst")
    mor_sync(spark, src, dst)
    mor_append(spark, src, _batch(spark, [(1, 111, "u", False)]))
    mor_append(spark, src, _batch(spark, [(2, 222, "w", False)]))
    ManifestStore(src).expire_versions(keep_last=1)
    with pytest.raises(ValueError, match="re-bootstrap"):
        mor_sync(spark, src, dst)


def test_mor_sync_over_custom_commitfs(spark, tmp_path):
    """The full sync loop — source manifests, destination manifests,
    AND the cursor store — runs through one injected CommitFS with no
    manifest ever touching the local filesystem: the object-store port
    contract for the whole CDC replication path."""
    from cosmap_spark.sinks.mor import mor_sync

    fs = DictFS()
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, src, ["k"], fs=fs)
    r = mor_sync(spark, src, dst,
                 src_fs=fs, dst_fs=fs)
    assert r["applied"]
    mor_append(spark, src, _batch(spark, [(1, 111, "u", False)]), fs=fs)
    mor_delete_keys(spark, src,
                    spark.createDataFrame([(2,)], "k long"), fs=fs)
    r = mor_sync(spark, src, dst, src_fs=fs, dst_fs=fs)
    assert r["applied"] and r["to_version"] == 3
    assert _rows(mor_read(spark, dst, fs=fs)) == \
        _rows(mor_read(spark, src, fs=fs))
    # every manifest (source, destination, cursor) lives in the dict
    assert not os.path.isdir(os.path.join(src, "_manifests"))
    assert not os.path.isdir(os.path.join(dst, "_manifests"))
    assert not os.path.isdir(dst + ".sync")
    assert any("/_manifests/" in k and k.startswith(dst + ".sync")
               for k in fs.objects)


def test_mor_verbs_refuse_non_mor_manifest_store(spark, tmp_path):
    """A plaid/ANN/lex index store rides the same commit protocol;
    mor_* verbs on one must refuse naming the mismatch, not die with a
    bare KeyError."""
    from cosmap_spark.operators.index_store import save_lex_index
    from cosmap_spark.operators.retrieval import build_lex_index
    from cosmap_spark.sinks.mor import mor_compact

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    p = str(tmp_path / "lexstore")
    save_lex_index(p, *build_lex_index(docs))
    for fn in (
        lambda: mor_read(spark, p),
        lambda: mor_append(spark, p, docs),
        lambda: mor_compact(spark, p),
        lambda: mor_delete_keys(
            spark, p, spark.createDataFrame([(1,)], "doc_id long")),
    ):
        with pytest.raises(ValueError, match="not a.*merge-on-read"):
            fn()


def _agg_spec():
    return {"c": ("count", None), "nn": ("countnn", "v"),
            "s": ("sum", "v")}


def _agg_law(spark, src, dst):
    from cosmap_spark.operators.merge import agg_snapshot

    want = agg_snapshot(mor_read(spark, src), ["g"], _agg_spec())
    assert _rows(mor_read(spark, dst)) == _rows(want)


def _gbatch(spark, rows):
    return spark.createDataFrame(
        rows, "k long, g string, v long, __deleted boolean"
    )


def test_mor_sync_agg_law_and_incremental(spark, tmp_path):
    """mor_sync_agg maintains agg_snapshot(src) as a MOR store: the
    law holds after bootstrap and after each refresh — value updates,
    group-moving updates, a group dying (tombstone epoch), a fresh
    group, a sum going all-null — with exactly ONE destination epoch
    per applied refresh and a cursor-only advance for a
    pure-compaction range."""
    from cosmap_spark.sinks.mor import mor_sync_agg

    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"),
        F.chr(F.lit(97) + (F.col("id") % 4)).alias("g"),
        (F.col("id") * 10).alias("v"),
    ).unionByName(spark.createDataFrame(
        [(50, "z", None)], "k long, g string, v long"))
    mor_init(base, src, ["k"])

    r = mor_sync_agg(spark, src, dst, group_by=["g"], aggs=_agg_spec())
    assert r["applied"]
    _agg_law(spark, src, dst)
    # the all-null singleton group surfaces SQL NULL at bootstrap
    z = mor_read(spark, dst).where(F.col("g") == "z").collect()[0]
    assert (z["c"], z["nn"], z["s"]) == (1, 0, None)

    r = mor_sync_agg(spark, src, dst, group_by=["g"], aggs=_agg_spec())
    assert not r["applied"]

    # refresh: update in place, move b->a, fresh group, kill z,
    # and drive group d all-null
    mor_append(spark, src, _gbatch(spark, [
        (1, "b", 210, False),          # value update within b
        (2, "a", 20, False),           # moves c -> a
        (60, "n", 600, False),         # fresh group n
        (50, None, None, True),        # kills z
        (3, "d", None, False), (7, "d", None, False),
        (11, "d", None, False), (15, "d", None, False),
        (19, "d", None, False),        # d goes all-null
    ]))
    before = _n_epochs(dst)
    r = mor_sync_agg(spark, src, dst, group_by=["g"], aggs=_agg_spec())
    assert r["applied"] and _n_epochs(dst) == before + 1
    _agg_law(spark, src, dst)
    got = {r["g"]: (r["c"], r["nn"], r["s"])
           for r in mor_read(spark, dst).collect()}
    assert "z" not in got                       # tombstoned
    assert got["n"] == (1, 1, 600)              # fresh
    assert got["d"] == (5, 0, None)             # all-null sum
    assert got["a"][0] == 6 and got["c"][0] == 4  # group move

    # pure compaction: cursor advances, no destination epoch
    mor_compact(spark, src)
    before = _n_epochs(dst)
    r = mor_sync_agg(spark, src, dst, group_by=["g"], aggs=_agg_spec())
    assert not r["applied"] and _n_epochs(dst) == before

    # chained refresh after compaction
    mor_append(spark, src, _gbatch(spark, [(60, None, None, True)]))
    r = mor_sync_agg(spark, src, dst, group_by=["g"], aggs=_agg_spec())
    assert r["applied"]
    _agg_law(spark, src, dst)
    assert "n" not in {r["g"] for r in mor_read(spark, dst).collect()}


def test_mor_sync_agg_replay_windows(spark, tmp_path):
    """Crash after the destination append, before the cursor publish:
    the replay recomputes the SAME absolute rows from the pinned
    destination version and re-appends them — idempotent upsert, view
    unchanged (exactly-once effect, at-least-once epochs).  Bootstrap
    leg-1-only crash (cursor without store) completes at the PINNED
    source version."""
    from cosmap_spark.sinks.commit import ManifestStore
    from cosmap_spark.sinks.mor import _canon_agg_spec, mor_sync_agg

    src = str(tmp_path / "src")
    dst = str(tmp_path / "agg")
    base = spark.range(0, 12).select(
        F.col("id").alias("k"),
        F.chr(F.lit(97) + (F.col("id") % 3)).alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    mor_init(base, src, ["k"])
    mor_sync_agg(spark, src, dst, group_by=["g"], aggs=_agg_spec())
    mor_append(spark, src, _gbatch(spark, [
        (1, "b", 111, False), (0, None, None, True)]))

    real = ManifestStore.publish

    def dying(self, manifest, *, expected_version):
        if "spec" in manifest:
            raise RuntimeError("injected: died before cursor publish")
        return real(self, manifest, expected_version=expected_version)

    ManifestStore.publish = dying
    try:
        with pytest.raises(RuntimeError, match="injected"):
            mor_sync_agg(spark, src, dst, group_by=["g"],
                         aggs=_agg_spec())
    finally:
        ManifestStore.publish = real
    # the epoch LANDED but the cursor did not move
    assert _n_epochs(dst) == 1
    assert ManifestStore(dst + ".aggsync").latest()[1]["src_version"] == 1
    # replay: same absolute rows re-appended, view converges
    r = mor_sync_agg(spark, src, dst, group_by=["g"], aggs=_agg_spec())
    assert r["applied"] and _n_epochs(dst) == 2
    _agg_law(spark, src, dst)

    # bootstrap leg-1-only crash: cursor pinned at v1, source advanced
    dst2 = str(tmp_path / "agg2")
    ManifestStore(dst2 + ".aggsync").publish(
        {"src_version": 1, "dst_version": None,
         "spec": _canon_agg_spec(["g"], _agg_spec())},
        expected_version=0,
    )
    r = mor_sync_agg(spark, src, dst2, group_by=["g"], aggs=_agg_spec())
    assert r["to_version"] == 1          # the PINNED version, not head
    from cosmap_spark.operators.merge import agg_snapshot

    want = agg_snapshot(mor_read(spark, src, version=1), ["g"],
                        _agg_spec())
    assert _rows(mor_read(spark, dst2)) == _rows(want)
    r = mor_sync_agg(spark, src, dst2, group_by=["g"], aggs=_agg_spec())
    assert r["applied"]
    _agg_law(spark, src, dst2)


def test_mor_sync_agg_guards(spark, tmp_path):
    """A missing source, spec drift, adopting a cursor-less
    destination, and NULL grouping values in the feed all refuse."""
    from cosmap_spark.sinks.mor import mor_sync_agg

    base = spark.range(0, 6).select(
        F.col("id").alias("k"), F.lit("a").alias("g"),
        (F.col("id") * 10).alias("v"),
    )
    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_sync_agg(spark, str(tmp_path / "nosrc"), str(tmp_path / "d"),
                     group_by=["g"], aggs=_agg_spec())

    src = str(tmp_path / "src")
    mor_init(base, src, ["k"])
    dst = str(tmp_path / "agg")
    mor_sync_agg(spark, src, dst, group_by=["g"], aggs=_agg_spec())
    with pytest.raises(ValueError, match="spec mismatch"):
        mor_sync_agg(spark, src, dst, group_by=["g"],
                     aggs={"c": ("count", None)})

    orphan = str(tmp_path / "orphan")
    mor_init(base.select("g", "v").groupBy("g").count(), orphan, ["g"])
    with pytest.raises(ValueError, match="provenance"):
        mor_sync_agg(spark, src, orphan, group_by=["g"],
                     aggs=_agg_spec())

    # NULL grouping value arriving through the feed refuses loudly
    mor_append(spark, src, _gbatch(spark, [(1, None, 99, False)]))
    with pytest.raises(ValueError, match="NULL grouping"):
        mor_sync_agg(spark, src, dst, group_by=["g"], aggs=_agg_spec())


def test_mor_restore_round_trip_and_feed(spark, tmp_path):
    """mor_restore: the view equals the historical version afterwards,
    history stays intact (the restore IS a new version), the change
    feed classifies it as ordinary net changes, a downstream replica
    converges on its next sync, and re-restoring is a no-op."""
    from cosmap_spark.sinks.mor import mor_restore, mor_sync

    src = str(tmp_path / "src")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, src, ["k"])          # v1
    rep = str(tmp_path / "rep")
    mor_sync(spark, src, rep)
    mor_append(spark, src, _batch(
        spark, [(1, 111, "u", False), (100, 1000, "new", False)]))  # v2
    mor_delete_keys(spark, src, spark.createDataFrame([(2,)], "k long"))  # v3
    mor_sync(spark, src, rep)

    r = mor_restore(spark, src, version=1)
    assert r["applied"] and r["head_before"] == 3
    assert _rows(mor_read(spark, src)) == \
        _rows(mor_read(spark, src, version=1))
    # history intact: the pre-restore head still reads
    assert any(r["k"] == 100
               for r in mor_read(spark, src, version=3).collect())

    # the feed across the restore nets to the compensating changes
    from cosmap_spark.sinks.mor import CHANGE_TYPE_COL, mor_changes

    feed = {(r["k"], r[CHANGE_TYPE_COL])
            for r in mor_changes(spark, src, from_version=3).collect()}
    assert (100, "delete") in feed          # the insert is rolled back
    assert (2, "insert") in feed            # the delete is rolled back
    assert (1, "update_postimage") in feed  # the update is rolled back

    # replica converges through an ORDINARY sync
    mor_sync(spark, src, rep)
    assert _rows(mor_read(spark, rep)) == _rows(mor_read(spark, src))

    # idempotent: restoring to current content appends nothing
    r2 = mor_restore(spark, src, version=1)
    assert not r2["applied"]


def test_mor_restore_widened_store_and_guards(spark, tmp_path):
    """Restoring past a schema widening keeps the widened schema with
    NULLs in the new column; a path holding no store refuses."""
    from cosmap_spark.sinks.mor import mor_restore

    src = str(tmp_path / "src")
    base = spark.range(0, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("name"),
    )
    mor_init(base, src, ["k"])          # v1
    wide = spark.createDataFrame(
        [(3, 333, "w", 7)], "k long, v long, name string, score long"
    )
    mor_append(spark, src, wide, allow_new_columns=True)    # v2

    r = mor_restore(spark, src, version=1)
    assert r["applied"]
    view = mor_read(spark, src)
    assert "score" in view.columns
    assert view.where(F.col("score").isNotNull()).count() == 0
    assert _rows(view.drop("score")) == \
        _rows(mor_read(spark, src, version=1))

    with pytest.raises(ValueError, match="not a merge-on-read store"):
        mor_restore(spark, str(tmp_path / "r"), version=1)
