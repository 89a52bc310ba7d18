"""Runnable snapshot-maintenance + layout lifecycle — the round-5
lakehouse surface end-to-end on the customer table:

    python examples/lakehouse/run.py [sf_dir]

1. **seed** — write the customer snapshot z-ordered on
   (c_acctbal, c_nationkey) via `write_zordered`, and show the
   file-skipping it buys with `layout_spans` + `pruning_ratio`
   (vs the same data written unclustered);
2. **CDC merge** — apply a change batch (updates + inserts + deletes,
   late duplicates resolved by a sequence column) with `merge_upsert`
   and verify the invariants (tombstoned keys gone, winners applied);
3. **SCD-2 history** — maintain a validity-interval dimension of each
   customer's market segment with `scd2_apply` across two update
   batches, including a no-op re-send (idempotence);
4. **re-layout** — z-order the merged snapshot again (the OPTIMIZE
   step a periodic compactor would run).

Everything distributed-side is the tested operator surface
(tests/test_merge.py, tests/test_layout.py); this file only composes
it."""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

from cosmap_spark.operators.layout import (  # noqa: E402
    layout_spans,
    pruning_ratio,
    write_zordered,
)
from cosmap_spark.operators.merge import merge_upsert, scd2_apply  # noqa: E402
from cosmap_spark.session import get_spark  # noqa: E402
from cosmap_spark.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(
        app_name="lakehouse-example",
        master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8",
                    "spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    cust = load_table(spark, sf_dir, "customer")
    n0 = cust.count()
    print(f"customer snapshot: {n0} rows")

    with tempfile.TemporaryDirectory() as root:
        # 1. seed: z-ordered vs unclustered layout -----------------------
        zdir = os.path.join(root, "customer_z")
        rdir = os.path.join(root, "customer_r")
        cols = ["c_acctbal", "c_nationkey"]
        write_zordered(cust, zdir, cols, bits=8, num_files=16)
        cust.repartition(16).write.mode("overwrite").parquet(rdir)
        box_lo = {"c_acctbal": 1000.0, "c_nationkey": 3}
        box_hi = {"c_acctbal": 2000.0, "c_nationkey": 7}
        rz = pruning_ratio(layout_spans(zdir, cols), cols, box_lo, box_hi)
        rr = pruning_ratio(layout_spans(rdir, cols), cols, box_lo, box_hi)
        print(f"box-predicate files opened: z-ordered {rz:.2%} "
              f"vs unclustered {rr:.2%}")
        assert rz < rr

        # 2. CDC merge ----------------------------------------------------
        snap = spark.read.parquet(zdir)
        some = [r["c_custkey"] for r in snap.select("c_custkey").limit(4).collect()]
        upd_key, del_key, dup_key = some[0], some[1], some[2]
        new_key = 10_000_000
        changes = spark.createDataFrame(
            [
                (upd_key, "UPDATED", 1, False),
                (del_key, "ignored", 1, True),
                (new_key, "BRAND-NEW", 1, False),
                (dup_key, "stale", 1, False),
                (dup_key, "winner", 2, False),
            ],
            "c_custkey long, c_name string, seq long, deleted boolean",
        )
        # widen the envelope to the snapshot schema (unset columns NULL)
        for f in snap.schema.fields:
            if f.name not in changes.columns:
                changes = changes.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        merged = merge_upsert(
            snap, changes, ["c_custkey"], seq_col="seq", delete_col="deleted"
        )
        got = {r["c_custkey"]: r["c_name"]
               for r in merged.filter(
                   F.col("c_custkey").isin(upd_key, del_key, dup_key, new_key)
               ).collect()}
        assert got[upd_key] == "UPDATED"
        assert got[dup_key] == "winner"        # seq resolved the duplicate
        assert got[new_key] == "BRAND-NEW"
        assert del_key not in got              # tombstone applied
        assert merged.count() == n0            # +1 insert −1 delete
        print("merge_upsert: update/insert/delete/late-duplicate all applied")

        # 3. SCD-2 history -------------------------------------------------
        dim = snap.select(
            "c_custkey", "c_mktsegment",
            F.lit(0).cast("long").alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        seg_key = some[3]
        batch1 = spark.createDataFrame(
            [(seg_key, "MOVED-A", 100)],
            "c_custkey long, c_mktsegment string, ts long",
        )
        batch2 = spark.createDataFrame(
            [(seg_key, "MOVED-B", 200), (upd_key, "MOVED-B", 200)],
            "c_custkey long, c_mktsegment string, ts long",
        )
        h1 = scd2_apply(dim, batch1, ["c_custkey"], ts_col="ts")
        h1 = h1.localCheckpoint()  # cut lineage between batches
        h2 = scd2_apply(h1, batch2, ["c_custkey"], ts_col="ts")
        h2 = h2.localCheckpoint()
        h3 = scd2_apply(h2, batch2, ["c_custkey"], ts_col="ts")  # re-send
        hist = (
            h3.filter(F.col("c_custkey") == seg_key)
            .orderBy("valid_from")
            .collect()
        )
        assert [r["c_mktsegment"] for r in hist][-2:] == ["MOVED-A", "MOVED-B"]
        assert [r["valid_to"] for r in hist] == [100, 200, None]
        assert h3.count() == h2.count()  # idempotent re-apply
        print(f"scd2_apply: {len(hist)} versions for customer {seg_key}: "
              + " -> ".join(r["c_mktsegment"] for r in hist))

        # 4. re-layout ------------------------------------------------------
        z2 = os.path.join(root, "customer_z2")
        write_zordered(merged, z2, cols, bits=8, num_files=16)
        assert spark.read.parquet(z2).count() == n0
        print("re-layout after merge: OK")

        # 4b. reverse-engineer the CDC: diff the snapshots -----------------
        from cosmap_spark.operators.merge import snapshot_cdc

        cdc = snapshot_cdc(snap, merged, ["c_custkey"])
        n_cdc = cdc.count()
        assert n_cdc <= 4  # delta-sized: upd + dup-winner + insert + delete
        replay = merge_upsert(snap, cdc, ["c_custkey"], delete_col="deleted")
        assert replay.exceptAll(merged).count() == 0
        assert merged.exceptAll(replay).count() == 0
        print(f"snapshot_cdc: {n_cdc}-row delta replays the merge exactly")

        # 5. streaming CDC: the same merge, live ---------------------------
        from cosmap_spark.streaming.ops import upsert_stream

        land = os.path.join(root, "cdc_landing")
        os.makedirs(land)
        live = os.path.join(root, "live", "table")
        ckpt = os.path.join(root, "cdc_ckpt")
        cdc_schema = "c_custkey long, c_name string, seq long, deleted boolean"
        spark.createDataFrame(
            [(upd_key, "LIVE-1", 1, False), (new_key, "LIVE-NEW", 1, False)],
            cdc_schema,
        ).coalesce(1).write.parquet(os.path.join(land, "f1"))
        upsert_stream(
            spark.readStream.schema(cdc_schema)
            .option("maxFilesPerTrigger", 1).parquet(os.path.join(land, "*")),
            live, ckpt, ["c_custkey"], seq_col="seq", delete_col="deleted",
        ).awaitTermination(120)
        spark.createDataFrame(
            [(upd_key, "LIVE-2", 2, False), (new_key, None, 2, True)],
            cdc_schema,
        ).coalesce(1).write.parquet(os.path.join(land, "f2"))
        upsert_stream(
            spark.readStream.schema(cdc_schema)
            .option("maxFilesPerTrigger", 1).parquet(os.path.join(land, "*")),
            live, ckpt, ["c_custkey"], seq_col="seq", delete_col="deleted",
        ).awaitTermination(120)
        live_rows = {r["c_custkey"]: r["c_name"]
                     for r in spark.read.parquet(live).collect()}
        assert live_rows == {upd_key: "LIVE-2"}  # updated; tombstone applied
        print("upsert_stream: two CDC micro-batches applied live")

        # 6. merge-on-read: O(keys) deletes, read-time reconcile ------------
        # (round 9: the copy-on-write path above rewrites touched
        # partitions; the MOR store only APPENDS a delta epoch — the
        # right-to-be-forgotten shape at 100 TB)
        from cosmap_spark.sinks.commit import ManifestStore
        from cosmap_spark.sinks.mor import (
            mor_compact, mor_delete_keys, mor_init, mor_read, mor_vacuum,
        )

        mstore = os.path.join(root, "mor_table")
        mor_init(snap, mstore, ["c_custkey"])
        ms = ManifestStore(mstore)
        base_dir = ms.data_path(ms.latest()[1]["base"])
        before = {f: os.stat(os.path.join(base_dir, f)).st_mtime_ns
                  for f in os.listdir(base_dir)}
        forget = spark.createDataFrame([(upd_key,)], "c_custkey long")
        mor_delete_keys(spark, mstore, forget)
        after = {f: os.stat(os.path.join(base_dir, f)).st_mtime_ns
                 for f in os.listdir(base_dir)}
        assert before == after  # no base file touched by the delete
        assert mor_read(spark, mstore).where(
            F.col("c_custkey") == upd_key
        ).count() == 0
        n_folded = mor_compact(spark, mstore)
        assert mor_read(spark, mstore).where(
            F.col("c_custkey") == upd_key
        ).count() == 0
        debris = mor_vacuum(mstore, min_age_seconds=0)
        print(f"merge-on-read: O(keys) delete touched no base file; "
              f"compaction folded {n_folded} epoch(s); vacuum removed "
              f"{len(debris)} debris dir(s)")

        # 7. time travel + the store-health page ------------------------
        # (round 10: the object-store-shaped commit — immutable data
        # dirs, one CAS-published manifest per commit, time travel)
        from cosmap_spark.streaming.ops import store_health

        vstore = os.path.join(root, "mor_versioned")
        mor_init(snap, vstore, ["c_custkey"])
        mor_delete_keys(spark, vstore, forget)
        assert mor_read(spark, vstore).where(
            F.col("c_custkey") == upd_key
        ).count() == 0
        # version 1 (pre-delete) is still readable — time travel
        assert mor_read(spark, vstore, version=1).where(
            F.col("c_custkey") == upd_key
        ).count() == 1
        mor_compact(spark, vstore)
        print(f"manifest store: {len(ManifestStore(vstore).versions())} "
              "versions published, no data rename anywhere")

        # 8. change feed + incremental downstream sync -------------------
        # (round 10: mor_changes is the Delta-CDF analog — net
        # insert/update/delete rows between two versions, assembled
        # from the retained epoch dirs even across the compaction
        # above; mor_sync drives a downstream replica from it at
        # O(changes) per call with a crash-safe CAS cursor)
        from cosmap_spark.sinks.mor import mor_changes, mor_sync

        feed = mor_changes(spark, vstore, from_version=1)
        by_type = {
            r["_change_type"]: r["cnt"]
            for r in feed.groupBy("_change_type")
            .agg(F.count("*").alias("cnt")).collect()
        }
        assert by_type.get("delete", 0) == 1  # the forgotten key
        print(f"change feed v1->head: {by_type}")

        replica = os.path.join(root, "mor_replica")
        r1 = mor_sync(spark, vstore, replica)       # bootstrap
        r2 = mor_sync(spark, vstore, replica)       # up to date
        assert r1["applied"] and not r2["applied"]
        assert mor_read(spark, replica).count() == \
            mor_read(spark, vstore).count()
        print("downstream replica synced: bootstrap + no-op catch-up")

        # 9. maintained aggregate view (IVM) -----------------------------
        # (round 10: mor_sync_agg keeps a GROUP BY of the source store
        # fresh at O(changes + touched groups) per refresh — the
        # dashboard aggregate that never re-scans the table; each
        # refresh appends ONE epoch of absolute post-image rows)
        from cosmap_spark.operators.merge import agg_snapshot
        from cosmap_spark.sinks.mor import mor_append, mor_sync_agg

        spec = {"customers": ("count", None),
                "bal_cnt": ("countnn", "c_acctbal"),
                "bal_sum": ("sum", "c_acctbal")}
        aggview = os.path.join(root, "mor_agg")
        mor_sync_agg(spark, vstore, aggview,
                     group_by=["c_nationkey"], aggs=spec)
        # an O(batch) source change, then an O(changes) refresh
        movers = mor_read(spark, vstore).limit(3).select(
            "c_custkey",
            F.lit(99).cast(dict(snap.dtypes)["c_nationkey"])
            .alias("c_nationkey"),
            *[c for c in snap.columns
              if c not in ("c_custkey", "c_nationkey")],
            F.lit(False).alias("__deleted"),
        )
        mor_append(spark, vstore, movers)
        r = mor_sync_agg(spark, vstore, aggview,
                         group_by=["c_nationkey"], aggs=spec)
        assert r["applied"]
        got = {r["c_nationkey"]: (r["customers"], r["bal_sum"])
               for r in mor_read(spark, aggview).collect()}
        want = {r["c_nationkey"]: (r["customers"], r["bal_sum"])
                for r in agg_snapshot(
                    mor_read(spark, vstore), ["c_nationkey"], spec
                ).collect()}
        assert set(got) == set(want) and got[99][0] == 3
        assert all(
            got[k][0] == want[k][0]
            and abs((got[k][1] or 0) - (want[k][1] or 0)) < 1e-6
            for k in want
        )
        print(f"maintained aggregate: {len(got)} nation rows, "
              "incremental refresh == direct GROUP BY")

        print("store health (the maintenance page an operator acts on):")
        for r in store_health(
            spark, {"mor_table": mstore, "mor_versioned": vstore,
                    "mor_agg": aggview}
        ).orderBy("subject", "statistic").collect():
            flag = "  <-- act" if r["significant"] else ""
            print(f"  {r['subject']:<14} {r['statistic']:<28} "
                  f"{r['value']}{flag}")

    spark.stop()
    print("lakehouse example: all invariants hold")


if __name__ == "__main__":
    main()
