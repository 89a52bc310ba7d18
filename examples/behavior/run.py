"""Runnable behavioral-analytics walkthrough — the round-4 event stack
composed end-to-end on the events table:

    python examples/behavior/run.py [sf_dir]

1. **fixed-anchor funnel** (operators/funnel.py::funnel): ordered
   view -> click -> purchase completion anchored at each user's FIRST
   view, plus the conversion-summary table;
2. **sliding-anchor funnel** (funnel_sliding, ClickHouse windowFunnel
   semantics): every view retried as an anchor — catches users who
   stalled early and converted on a later attempt (per-user state
   stays O(steps));
3. **live funnel** (streaming/ops.py::funnel_stream): the SAME
   semantics as 2 over a file stream (availableNow), state carried in
   applyInPandasWithState — the batch and stream answers must agree;
4. **funnel delta**: users the sliding variant upgrades vs the fixed
   anchor — the measurable payoff of retrying anchors.

Every stage is one lazy plan; nothing per-user ever reaches the
driver.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

from pyspark.sql import functions as F

from cosmap_spark.operators.funnel import (
    cohort_retention,
    event_paths,
    event_transitions,
    funnel,
    funnel_latency,
    funnel_sliding,
    funnel_summary,
)
from cosmap_spark.session import get_spark
from cosmap_spark.streaming.ops import events_stream, funnel_stream
from cosmap_spark.tables import load_table

STEPS = ["view", "click", "purchase"]
HORIZON = "2 days"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="behavior-example", master="local[8]",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    ev = load_table(spark, sf_dir, "events")

    fixed = funnel(ev, STEPS, horizon=HORIZON)
    print("== fixed-anchor conversion table ==")
    funnel_summary(fixed, len(STEPS)).show(truncate=False)

    print("== time-to-convert per transition (seconds) ==")
    funnel_latency(fixed, len(STEPS)).orderBy("step").show(truncate=False)

    print("== conversion by segment (user_id parity stands in for a "
          "real attribute) ==")
    seg = fixed.withColumn(
        "segment",
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"),
    )
    funnel_summary(seg, len(STEPS), by=["segment"]).orderBy(
        "segment", "step"
    ).show(truncate=False)

    print("== weekly cohort retention ==")
    cohort_retention(ev, period="week", max_periods=4).orderBy(
        "cohort", "period_n"
    ).show(truncate=False)

    print("== top next-event transitions (flow analysis) ==")
    event_transitions(ev).orderBy(F.col("n").desc()).show(8, truncate=False)
    print("== top 3-step paths ==")
    event_paths(ev, k=3, top_n=5).show(truncate=False)

    sliding = funnel_sliding(ev, STEPS, horizon=HORIZON)
    print("== sliding-anchor level distribution ==")
    sliding.groupBy("steps_completed").count().orderBy("steps_completed").show()

    upgraded = (
        fixed.select("user_id", F.col("steps_completed").alias("fixed_level"))
        .join(
            sliding.select(
                "user_id", F.col("steps_completed").alias("sliding_level")
            ),
            "user_id",
        )
        .where(F.col("sliding_level") > F.col("fixed_level"))
    )
    n_up = upgraded.count()
    print(f"== users a later anchor upgrades: {n_up} ==")
    upgraded.orderBy("user_id").show(5)

    with tempfile.TemporaryDirectory() as tmp:
        # file-stream sources want a DIRECTORY of files
        import shutil

        stream_dir = os.path.join(tmp, "stream")
        src = os.path.join(sf_dir, "events.parquet")
        if os.path.isdir(src):
            # Spark-written layout: a directory of part files
            shutil.copytree(src, stream_dir)
        else:
            os.makedirs(stream_dir)
            shutil.copy(src, os.path.join(stream_dir, "part-000.parquet"))
        sdf = events_stream(spark, stream_dir)
        q = (
            funnel_stream(sdf, STEPS, horizon=HORIZON)
            .writeStream.format("memory").queryName("live_funnel")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        live = spark.table("live_funnel")
        batch = sliding.select("user_id", "steps_completed", "converted")
        # update-mode memory sink holds one row per user per touching
        # micro-batch; keep each user's LAST emission (levels are
        # monotone per user, so max level = final) rather than assume
        # the availableNow run landed in exactly one batch
        stream_side = (
            live.groupBy("user_id")
            .agg(F.max("steps_completed").alias("steps_completed"))
            .withColumn("converted", F.col("steps_completed") == len(STEPS))
        )
        diff = batch.exceptAll(stream_side).count() + stream_side.exceptAll(batch).count()
        print(f"== live stream vs batch sliding funnel: {diff} differing rows ==")
        assert diff == 0, "stream and batch funnels must agree"

    spark.stop()


if __name__ == "__main__":
    main()
