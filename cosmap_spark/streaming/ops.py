"""Streaming operators over an events-shaped stream.

Each op takes a *streaming* DataFrame (``isStreaming``) with at least
``(ts timestamp, user_id long, event_type string, value double)`` and
returns a streaming DataFrame; callers pick the sink/trigger.  All ops
also work on batch DataFrames (Spark's unified API) — that property is
what lets the ledger check their batch twins against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


#: events.parquet schema when ts is TIMESTAMP(NANOS) — Spark reads the
#: nanos column only as a raw long (``nanosAsLong``); events_stream then
#: converts to TimestampType.
EVENTS_RAW_SCHEMA = _events_schema(LongType())

#: events.parquet schema when ts is TIMESTAMP(MICROS) — Spark-native.
EVENTS_MICROS_SCHEMA = _events_schema(TimestampType())


def events_stream(spark: SparkSession, path: str,
                  *, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over events parquet files in ``path``.

    At scale this is the landing-zone pattern: new parquet files appear
    in a directory; the file source tracks processed files in the
    checkpoint and replays none.

    The on-disk timestamp unit is probed from the existing files (test
    data generations have shipped ``ts`` both as TIMESTAMP(NANOS), which
    Spark reads only as a raw long, and as Spark-native
    TIMESTAMP(MICROS)); the stream always surfaces a proper
    TimestampType ``ts`` either way, mirroring ``tables.load_table``."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    # Probe the unit from existing files; an EMPTY or not-yet-created
    # landing directory is normal for this pattern (the stream starts
    # before the first file arrives), so THOSE probe failures fall back
    # to the modern MICROS schema.  Anything else (permissions, corrupt
    # footer, transient IO) propagates — silently defaulting the schema
    # there would misconfigure a NANOS stream and surface later as a
    # baffling parquet type error.
    from pyspark.errors import AnalysisException

    try:
        ts_is_long = dict(spark.read.parquet(path).dtypes).get("ts") == "bigint"
    except AnalysisException as e:
        cond = getattr(e, "getCondition", lambda: None)() or str(e)
        if not ("UNABLE_TO_INFER_SCHEMA" in cond or "PATH_NOT_FOUND" in cond):
            raise
        ts_is_long = False
    schema = EVENTS_RAW_SCHEMA if ts_is_long else EVENTS_MICROS_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if ts_is_long:
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def tumbling_counts(events: DataFrame, *, window: str = "10 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


def session_counts(events: DataFrame, *, gap: str = "30 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    """Watermarked session windows per user (inactivity gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id", "n_events",
        )
    )


def windowed_dedup(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Stateful exact dedup on event_id within the watermark horizon
    (``dropDuplicatesWithinWatermark``): state is bounded — ids older
    than the watermark are evicted, the 100 TB-stream requirement."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_COUNTER_STATE = StructType([StructField("n", LongType())])
_COUNTER_OUT = StructType(
    [StructField("user_id", LongType()), StructField("n_events", LongType())]
)


def stateful_user_counter(events: DataFrame, *, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-user event counter — the minimal template for reference-style
    arbitrary per-key state (the pattern for custom stateful transforms
    the built-in operators can't express)."""
    import pandas as pd

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_COUNTER_OUT,
            stateStructType=_COUNTER_STATE,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


_FUNNEL_STATE = StructType([
    StructField("strict", ArrayType(LongType())),
    StructField("cur", ArrayType(LongType())),
    StructField("last_ts", LongType()),
])


def funnel_stream(
    events: DataFrame,
    steps: list,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    horizon: str | None = None,
    state_ttl: str | None = None,
) -> DataFrame:
    """Streaming sliding-anchor funnel — the live counterpart of
    ``operators.funnel.funnel_sliding`` (windowFunnel semantics) as an
    ``applyInPandasWithState`` operator, per-user state O(steps) (never
    an event log): per level the state keeps two anchors — the
    best among chains that completed STRICTLY before the current
    timestamp (``strict``, what a same-ts event may extend: equal
    timestamps never chain) and the best including the current-ts run
    (``cur``) — plus the last seen ts.  Advancing time promotes cur →
    strict; a step-s event extends ``strict[s-1]`` under the horizon
    and updates ``cur[s]``.  This is exactly the batch kernel's
    run-boundary cummax logic in streaming form: on per-user
    ts-ordered input the emitted levels equal ``funnel_sliding`` on
    the same prefix (differential-tested, incl. state carried across
    micro-batches).

    ``steps`` elements are event-type strings OR boolean ``Column``
    predicates, freely mixed — the SAME step contract as both batch
    twins (``operators.funnel._step_conds``): predicates are
    pre-projected JVM-side to a matched-level column (one exploded row
    per satisfied step, so an event may feed several levels — the
    repeated-type case), and the stateful kernel stays pure int/ts.
    Within-timestamp processing order is irrelevant (extensions read
    only the pre-run ``strict`` anchors), so the explode is exact.

    Per-user state lives FOREVER by default.  ``state_ttl`` (a duration
    string like ``'30 days'``) arms a processing-time timeout instead:
    a user idle longer than the TTL has their state REMOVED (the next
    event restarts their funnel from scratch) — the eviction knob an
    unbounded-key-space deployment needs.  Nothing is emitted at
    eviction: the last emitted level for the user remains the final
    word for that funnel attempt.

    Ordering contract: rows are sorted by ts WITHIN each micro-batch;
    a row arriving in a LATER batch with an earlier timestamp than
    already-processed state is processed in arrival order (the
    standard approximation every one-pass streaming funnel makes —
    feed from an event-time-ordered source where exactness matters).

    Emits (update mode) one row per user per micro-batch touching
    them: current max level, conversion flag, and the latest anchor
    reaching that level."""
    import numpy as np
    import pandas as pd

    from cosmap_spark.operators.funnel import _step_conds

    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    ttype = events.schema[ts_col].dataType.simpleString()
    if not ttype.startswith("timestamp"):
        raise ValueError(
            f"{ts_col!r} must be a timestamp column, got {ttype}"
        )
    # output key column mirrors the input's name and type (the batch
    # twin derives its schema the same way)
    out_schema = StructType([
        StructField(user_col, events.schema[user_col].dataType),
        StructField("anchor_ts", TimestampType()),
        StructField("steps_completed", LongType()),
        StructField("converted", BooleanType()),
    ])
    n_steps = len(steps)
    # matched-level pre-projection (stateless, so legal upstream of the
    # stateful operator): the batch twins' explode, keeping the kernel
    # string-free — a Column predicate never reaches pandas
    conds = _step_conds(steps, type_col)
    matched = F.filter(
        F.array(*[
            F.when(c, F.lit(i + 1)).cast("int") for i, c in enumerate(conds)
        ]),
        lambda x: x.isNotNull(),
    )
    ev = events.where(F.col(ts_col).isNotNull()).select(
        F.col(user_col),
        F.col(ts_col),
        F.explode(matched).alias("__lvl"),
    )
    horizon_us = (
        int(pd.Timedelta(horizon) // pd.Timedelta("1us")) if horizon else None
    )
    ttl_ms = (
        int(pd.Timedelta(state_ttl) // pd.Timedelta("1ms"))
        if state_ttl else None
    )
    NEG = -(2**63)

    def update(key, pdfs, state):
        if state.hasTimedOut:
            # TTL expiry: drop the idle user's anchors entirely — their
            # next event starts a fresh funnel.  No emission: eviction
            # is cleanup, not a result.
            state.remove()
            return
        if state.exists:
            strict, cur, last_ts = (
                list(state.get[0]), list(state.get[1]), state.get[2]
            )
        else:
            strict, cur, last_ts = [NEG] * n_steps, [NEG] * n_steps, NEG
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        # drop null ts as the batch twins do (also filtered JVM-side; a
        # NaT converts to the int64-min sentinel and would
        # promote/extend chains off an event with no valid time)
        pdf = pdf[pdf[ts_col].notna()]
        if not len(pdf):
            return
        ts = pdf[ts_col].to_numpy(dtype="datetime64[us]").astype(np.int64)
        lvls = pdf["__lvl"].to_numpy(dtype=np.int64)
        order = np.argsort(ts, kind="stable")
        for t, s in zip(ts[order].tolist(), lvls[order].tolist()):
            if t != last_ts:
                strict = cur.copy()
                last_ts = t
            if s == 1:
                if t > cur[0]:
                    cur[0] = t
            else:
                a = strict[s - 2]
                if (
                    a != NEG
                    and (horizon_us is None or t - a <= horizon_us)
                    and a > cur[s - 1]
                ):
                    cur[s - 1] = a
        state.update((strict, cur, last_ts))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        level = 0
        for s in range(n_steps):
            if cur[s] == NEG:
                break
            level = s + 1
        if level == 0:
            return
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "anchor_ts": [np.int64(cur[level - 1]).view("datetime64[us]")],
                "steps_completed": [level],
                "converted": [level == n_steps],
            }
        )

    return (
        ev.groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_FUNNEL_STATE,
            outputMode="update",
            timeoutConf=(
                "ProcessingTimeTimeout" if ttl_ms is not None else "NoTimeout"
            ),
        )
    )


_CUSUM_STATE = StructType([
    StructField("n", LongType()),
    StructField("mean", DoubleType()),
    StructField("m2", DoubleType()),
    StructField("mu0", DoubleType()),
    StructField("sigma0", DoubleType()),
    StructField("spos", DoubleType()),
    StructField("sneg", DoubleType()),
])


def changepoint_stream(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    warmup: int = 20,
    drift: float = 0.5,
    threshold: float = 5.0,
    min_sigma: float = 1e-9,
    state_ttl: str | None = None,
) -> DataFrame:
    """Online per-key level-shift detection — the STREAMING member of
    the changepoint family (``operators.tseries.grouped_changepoint``
    is the offline AMOC twin): Page's two-sided CUSUM with O(1) state
    per key, the live monitoring shape (metric drift, sensor shifts,
    data-feed regime changes).

    Per key: the first ``warmup`` observations learn a baseline
    (Welford mean/variance — numerically stable one-pass); the
    baseline then FREEZES as (μ₀, σ₀) and every later value updates

        s⁺ = max(0, s⁺ + (x − μ₀ − drift·σ₀))
        s⁻ = max(0, s⁻ + (μ₀ − drift·σ₀ − x))

    (``drift`` in σ units is the classic allowance k — shifts smaller
    than k·σ₀ accumulate nothing).  When either side exceeds
    ``threshold·σ₀`` an alarm row is emitted —
    ``[key, ts, direction ('up'|'down'), stat (the tripped CUSUM in
    σ₀ units), baseline, sigma, n_seen]`` — and the key's state resets
    entirely, so the detector re-learns the post-shift level and can
    alarm again on the next shift (self-rebaselining).  A constant
    warmup window clamps σ₀ to ``min_sigma`` (any later deviation
    alarms immediately — the desired behavior for a frozen series
    that starts moving).

    State is 7 scalars per key — never a window of values; ``state_ttl``
    evicts idle keys via a processing-time timeout exactly like
    ``funnel_stream``.  Ordering contract: rows sort by ``ts``
    (stable) WITHIN each micro-batch; late cross-batch rows process in
    arrival order, the standard one-pass streaming approximation.
    Differential-tested against a pure-python online CUSUM reference,
    including state carried across micro-batches
    (tests/test_streaming.py)."""
    import numpy as np
    import pandas as pd

    if warmup < 2:
        raise ValueError(f"warmup must be >= 2 (variance needs it); got {warmup}")
    if threshold <= 0 or drift < 0:
        raise ValueError("threshold must be > 0 and drift >= 0")
    ttype = events.schema[ts_col].dataType.simpleString()
    if not ttype.startswith("timestamp"):
        raise ValueError(f"{ts_col!r} must be a timestamp column, got {ttype}")
    out_schema = StructType([
        StructField(key_col, events.schema[key_col].dataType),
        StructField("ts", TimestampType()),
        StructField("direction", StringType()),
        StructField("stat", DoubleType()),
        StructField("baseline", DoubleType()),
        StructField("sigma", DoubleType()),
        StructField("n_seen", LongType()),
    ])
    ev = events.where(
        F.col(ts_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.col(val_col).isNotNull()
    ).select(F.col(key_col), F.col(ts_col).alias("__ts"),
             F.col(val_col).cast("double").alias("__v"))
    ttl_ms = (
        int(pd.Timedelta(state_ttl) // pd.Timedelta("1ms"))
        if state_ttl else None
    )

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            n, mean, m2, mu0, sigma0, spos, sneg = state.get
        else:
            n, mean, m2, mu0, sigma0, spos, sneg = 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        pdf = pdf[pdf["__ts"].notna() & pdf["__v"].notna()]
        if not len(pdf):
            return
        ts = pdf["__ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
        vals = pdf["__v"].to_numpy(dtype=np.float64)
        order = np.argsort(ts, kind="stable")
        alarms: list[tuple] = []
        for t, x in zip(ts[order].tolist(), vals[order].tolist()):
            n += 1
            if n <= warmup:
                d = x - mean
                mean += d / n
                m2 += d * (x - mean)
                if n == warmup:
                    mu0 = mean
                    sigma0 = max((m2 / (warmup - 1)) ** 0.5, min_sigma)
                continue
            spos = max(0.0, spos + (x - mu0 - drift * sigma0))
            sneg = max(0.0, sneg + (mu0 - drift * sigma0 - x))
            hit = None
            if spos > threshold * sigma0:
                hit = ("up", spos / sigma0)
            elif sneg > threshold * sigma0:
                hit = ("down", sneg / sigma0)
            if hit is not None:
                alarms.append((t, hit[0], hit[1], mu0, sigma0, n))
                # full reset: re-learn the post-shift baseline
                n, mean, m2 = 0, 0.0, 0.0
                mu0, sigma0, spos, sneg = 0.0, 0.0, 0.0, 0.0
        state.update((n, mean, m2, mu0, sigma0, spos, sneg))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if alarms:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(alarms),
                    "ts": [np.int64(a[0]).view("datetime64[us]") for a in alarms],
                    "direction": [a[1] for a in alarms],
                    "stat": [a[2] for a in alarms],
                    "baseline": [a[3] for a in alarms],
                    "sigma": [a[4] for a in alarms],
                    "n_seen": [a[5] for a in alarms],
                }
            )

    return (
        ev.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_CUSUM_STATE,
            outputMode="update",
            timeoutConf=(
                "ProcessingTimeTimeout" if ttl_ms is not None else "NoTimeout"
            ),
        )
    )


def enrich_with_dimension(events: DataFrame, dim: DataFrame,
                          *, on: str = "user_id", how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (batch) dimension table.  Spark broadcasts the static side per batch
    when it fits — the streaming twin of the engine's broadcast dimension
    joins; no state, no watermark needed for stream-static equi-joins."""
    return events.join(F.broadcast(dim), on=on, how=how)


def write_incremental(df: DataFrame, path: str, checkpoint: str,
                      *, fmt: str = "parquet",
                      partition_by: list[str] | None = None,
                      trigger_available_now: bool = True):
    """Incremental sink via ``foreachBatch`` — the Spark twin of the
    reference's drain-completed-futures + append-CSV loop (reference
    src/cosmap/analysis/analysis.py:150-162, output/writer.py:23-35).

    foreachBatch alone is only at-least-once: a micro-batch whose write
    partially succeeded before a failure is REPLAYED with the same
    ``epoch_id`` on restart, so a blind append would land duplicates.
    The write is made idempotent by keying each epoch to its own
    ``epoch=<id>`` subdirectory written with mode("overwrite") — a
    replayed epoch replaces its own output instead of appending, giving
    exactly-once table contents per epoch.  Readers scan ``path`` and
    see ``epoch`` as a discovered partition column (drop it on read)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        w = batch_df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format(fmt).save(f"{path}/epoch={epoch_id}")

    writer = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sliding_counts(events: DataFrame, *, window: str = "10 minutes",
                   slide: str = "5 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    """Watermarked sliding-window counts per event type: each event lands
    in window/slide overlapping windows (state is proportionally larger
    than tumbling — the cost of overlap).  Batch twin: q_sliding_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events",
        )
    )


def stream_stream_join(clicks: DataFrame, purchases: DataFrame,
                       *, watermark: str = "1 hour",
                       lookback: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream inner join: each purchase joins the same
    user's clicks from the preceding ``lookback`` interval.

    Both sides carry watermarks AND the join condition bounds their
    event-time distance — the two requirements that let Spark drop
    buffered state once the watermark passes, keeping state size
    proportional to (rate × lookback), not the whole history.  Without
    the time bound the join state would grow forever; the query planner
    enforces neither silently, so this operator encodes them."""
    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"), F.col("value").alias("click_value"),
    ).withWatermark("c_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("p_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id", "p_user", "p_ts", "click_id", "c_ts", "click_value"
    )


def decontaminate_stream(stream_docs: DataFrame, bench: DataFrame,
                         path: str, checkpoint: str, *, k: int = 8):
    """Streaming benchmark decontamination — the landing-zone curation
    gate: as document files arrive, each micro-batch runs the batch
    ``contamination_hits`` (operators/dedup.py) against the STATIC
    benchmark, whose shingle set broadcasts per epoch exactly as in the
    batch plan.

    Per-document results depend only on (document, benchmark), never on
    other stream rows, so no watermark or state store is needed and the
    union over epochs equals the batch answer on the same corpus (the
    stream/batch equivalence the test asserts).  Output is epoch-keyed
    like ``write_incremental`` — a replayed epoch overwrites itself, so
    the flagged-doc table is exactly-once per epoch."""
    from cosmap_spark.operators.dedup import contamination_hits

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        hits = contamination_hits(batch_df, bench, k=k)
        hits.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

    return (
        stream_docs.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def knn_serve_stream(query_stream: DataFrame, index: DataFrame,
                     path: str, checkpoint: str, *, k: int = 5,
                     dim: int = 64, tables: int = 4, planes: int = 8,
                     seed: int = 13):
    """Streaming vector-search serve: micro-batches of query vectors
    against a PREBUILT corpus LSH index (`lsh_build` result — at scale
    a persisted table ``partitionBy("tbl", pmod(bucket, P))``, so each
    probe prunes to its bucket partitions).  The index is built once
    and served to every micro-batch, the streaming counterpart of
    ``knn_ann_union`` with injected artifacts.

    Each epoch re-bucketizes only the arriving queries (the plane
    normals are seed-derived constants, so any session reproduces the
    index's geometry — tables/planes/seed/dim must match the build) and
    runs the batch :func:`~cosmap_spark.operators.knn.knn_lsh` against
    the static index: broadcast candidate join + exact re-rank, nothing
    corpus-sized recomputed.  A query's top-k depends only on (query,
    index), never on other stream rows, so there is no watermark or
    state store, and the union over epochs equals the batch answer on
    the same query set (asserted in tests/test_streaming.py).  Results
    land epoch-keyed like ``write_incremental`` — replayed epochs
    overwrite themselves (exactly-once per epoch)."""
    from cosmap_spark.operators.knn import knn_lsh

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        topk = knn_lsh(
            index, batch_df, k=k, dim=dim, tables=tables, planes=planes,
            seed=seed, prebuilt_buckets=index,
        )
        topk.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

    return (
        query_stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def quality_gate(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """C4 line cleaning + Gopher document gate as ONE stateless
    transformation — the landing-zone quality filter.

    Purely map-side column expressions (functions/text.py), so it works
    identically on a STREAMING DataFrame (each arriving file's rows are
    gated within their micro-batch; no watermark, no state store — a
    document's fate depends on nothing but the document) and on a batch
    DataFrame — Spark's unified API, which is what the stream/batch
    equivalence test asserts.  Survivors carry ``clean_text`` plus the
    full Gopher audit struct (``quality_audit``) for downstream
    mixture/weighting decisions."""
    from cosmap_spark.functions.text import c4_clean, gopher_rules

    out = docs.withColumn("__c4", c4_clean(F.col(text_col)))
    out = out.withColumn("__g", gopher_rules(F.col("__c4.clean_text")))
    return (
        out.where(F.col("__g.passes"))
        .withColumn("clean_text", F.col("__c4.clean_text"))
        .withColumn("quality_audit", F.col("__g"))
        .drop("__c4", "__g")
    )


def stateful_user_counter_tws(events: DataFrame) -> DataFrame:
    """The ``stateful_user_counter`` semantics on the MODERN arbitrary-
    state API (``transformWithStateInPandas``, Spark 4): a
    ``StatefulProcessor`` with a typed ``ValueState`` per key.

    Versus ``applyInPandasWithState`` this is the forward path — typed
    named state variables (value/list/map) instead of one opaque state
    tuple, first-class timers, TTL support on each state variable, and
    an initial-state hook for bootstrapping from a batch table.  State
    still lives in the checkpointed state store, partitioned by key:
    per-key memory is O(1) here (a single counter), the property that
    keeps a 10^9-user stream bounded.

    Runtime requirements: the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) and a working
    ``google.protobuf`` (the TWS Python runner speaks protobuf to the
    JVM).  protobuf is broken in this build environment, so the test is
    import-gated (tests/test_streaming.py) — the same discipline as the
    h5py-gated HDF5 reader; semantics are covered by the
    ``stateful_user_counter`` twin, which runs here."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Counter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        Counter(),
        outputStructType="user_id long, n_events long",
        outputMode="Update",
        timeMode="None",
    )


def dedup_stream(stream_docs: DataFrame, store_path: str, out_path: str,
                 checkpoint: str, *, text_col: str = "text",
                 id_col: str = "doc_id", threshold: float = 0.5):
    """Streaming incremental near-dup detection — the landing-zone
    dedup gate: each arriving micro-batch bands its MinHash signatures
    against the PERSISTENT signature store
    (operators/dedup.py::incremental_minhash_dedup — history is read as
    signatures only, never re-shingled), writes the flagged pairs
    epoch-keyed, and upserts the batch's signatures into the store.

    Exactly-once story under foreachBatch's at-least-once contract:
    a replayed epoch re-bands against a store that already holds its
    signatures, but re-submitted ids are superseded inside
    ``incremental_minhash_dedup`` (the retry discipline), so the same
    pair set is produced and the ``epoch=<id>`` overwrite replaces the
    previous attempt — pair table contents are exactly-once, and the
    keyed signature upsert is idempotent."""
    from cosmap_spark.operators.dedup import incremental_minhash_dedup

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        pairs = incremental_minhash_dedup(
            batch_df.sparkSession, batch_df, store_path,
            text_col=text_col, id_col=id_col, threshold=threshold,
        )
        pairs.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")

    return (
        stream_docs.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _ledgered_loop(stream_df: DataFrame, store_path: str, checkpoint: str,
                   *, subdir: str, op: str, batch_state, merge_state,
                   sidecars: dict[str, str] | None = None,
                   pre_epoch=None):
    """The shared exactly-once store driver every batch-twin monitor
    rides (sketch_stream, drift_stream, category_drift_stream,
    abtest_stream; heavy_hitters_stream keeps its bespoke copy because
    its sidecar carries batch-dependent state — the running N):
    per micro-batch, ``batch_state(batch_df)`` reduces the batch to
    its bounded state frame, ``merge_state(old, batch)`` folds it into
    the persisted store at ``store_path/subdir``, and the store is
    atomically swapped (``_swap_in``/``_bootstrap_store``).

    Exactly-once is TWO-layered:

    - the epoch ledger (``_epochs/epoch-<id>`` marker files) is the
      fast path — a replayed epoch returns before any Spark work;
    - a ``_last_epoch`` sidecar INSIDE the swapped store closes the
      ledger's crash window: foreachBatch acknowledges only after
      ``run`` returns, so a driver crash BETWEEN the completed swap
      and the marker write re-delivers the epoch — the marker check
      misses, and without the stamp the batch would merge twice
      (silent double-counting of monitor state).  The stamp rides the
      SAME atomic rename as the data (the heavy-hitters/mg-meta
      discipline), so on replay ``stamp >= epoch_id`` proves the
      store already contains this epoch: only the marker is restored.

    ``sidecars`` (static name → content, e.g. the kmv k or the A/B
    quantization dp) are re-written with every swap; ``pre_epoch``
    (optional callable) runs validation before any work — stores
    created after stream start still get parameter-checked.  Same
    driver-local filesystem durability contract as documented on
    ``sketch_stream``."""
    import os

    from cosmap_spark.sinks.writers import (
        _bootstrap_store,
        _refuse_interrupted_swap,
        _require_local,
        _swap_in,
    )

    _require_local(store_path, op)
    store = os.path.join(store_path, subdir)
    stamp_file = os.path.join(store, "_last_epoch")

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ledger = os.path.join(store_path, "_epochs")
        done_marker = os.path.join(ledger, f"epoch-{epoch_id}")
        if os.path.exists(done_marker):
            return  # replayed epoch: state already includes it
        if pre_epoch is not None:
            pre_epoch()
        _refuse_interrupted_swap(store)
        os.makedirs(ledger, exist_ok=True)
        if os.path.exists(stamp_file):
            with open(stamp_file) as f:
                last = int(f.read().strip())
            if last >= epoch_id:
                # crash landed between the completed swap and the
                # marker write: the store already contains this epoch
                # (the stamp swapped in with it) — re-merging would
                # double-count, so only the marker is restored
                with open(done_marker, "w") as f:
                    f.write("ok")
                return
        extra = dict(sidecars or {})
        extra["_last_epoch"] = str(epoch_id)
        batch = batch_state(batch_df)
        if os.path.exists(store):
            old = spark.read.parquet(store)
            _swap_in(store, merge_state(old, batch), extra_files=extra)
        else:
            _bootstrap_store(store, batch, extra_files=extra)
        with open(done_marker, "w") as f:
            f.write("ok")

    return (
        stream_df.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def sketch_stream(stream_df: DataFrame, store_path: str, checkpoint: str,
                  *, keys: list[str], col: str, lg_k: int = 12,
                  kind: str = "hll", k: int = 256):
    """Streaming maintenance of a persisted HLL sketch store — live
    per-key distinct counts over an unbounded stream with BOUNDED
    state: each micro-batch is sketched (``hll_sketch_agg``), merged
    into the parquet store via
    ``operators.sketch.merge_sketch_tables`` (history is touched as
    O(groups · 2^lg_k) sketch bytes, never re-scanned), and the store
    is atomically swapped.  Because HLL union is idempotent ONLY
    across distinct items — not across replayed batches wholesale —
    exactly-once is provided by an epoch ledger: a replayed epoch id
    is detected and skipped, so at-least-once foreachBatch delivery
    still yields exactly-once sketch state.

    Read the live estimates any time with ``spark.read.parquet(store)``
    + ``hll_sketch_estimate`` (or feed the store to
    ``distinct_rollup``-style level merges).  Estimates sit within
    sketch accuracy of the true distinct counts and replays leave the
    store byte-stable (both asserted in tests/test_streaming.py);
    merge ORDER may legitimately move a sketch between coupon-exact
    and dense-register representations, so bit-equality with a
    one-shot batch sketch is not promised — only the accuracy
    bound is.

    Durability assumption: the epoch ledger and the store swap use
    DRIVER-LOCAL ``os`` filesystem calls, so the exactly-once markers
    survive driver restarts only when ``store_path`` lives on a
    filesystem every prospective driver sees (single node, NFS, or a
    fuse-mounted object store).  A driver restarted on a different
    node without shared storage loses the ledger and re-merges
    delivered epochs — harmless to the ESTIMATES (HLL union is
    idempotent across distinct items) but it breaks the byte-stability
    promise above.  A multi-node deployment should swap these calls
    for the same Hadoop ``FileSystem`` abstraction the checkpoint
    uses.

    ``kind="kmv"`` maintains a KMV store instead
    (``operators.sketch.kmv_leaf`` / ``merge_kmv_tables``, sketch
    size ``k``): same ledger and swap mechanics, but with a STRONGER
    replay contract — KMV merge is wholesale-idempotent and
    merge-order bit-stable, so even a ledger lost to an unshared
    driver filesystem leaves the store BIT-identical to a one-shot
    batch build (asserted in tests/test_streaming.py); the ledger is
    then purely a skip-work optimization.  The sketch ``k`` is
    recorded in the store (``_kmv_k``) and a mismatched resume is
    rejected loudly (merging under a smaller k would silently cap
    history)."""
    import os

    from pyspark.sql import functions as F

    from cosmap_spark.operators.sketch import (
        kmv_leaf,
        merge_kmv_tables,
        merge_sketch_tables,
    )

    if kind not in ("hll", "kmv"):
        raise ValueError(f"kind must be 'hll' or 'kmv'; got {kind!r}")
    from cosmap_spark.sinks.writers import _require_local

    _require_local(store_path, "sketch_stream")

    def check_k() -> None:
        # the k sidecar lives INSIDE the sketches dir (written by the
        # same atomic swap/rename as the data, so a store can never
        # exist without its k — the heavy_hitters meta discipline);
        # the store_path root is the pre-hardening legacy location
        for kfile in (
            os.path.join(store_path, "sketches", "_kmv_k"),
            os.path.join(store_path, "_kmv_k"),
        ):
            if os.path.exists(kfile):
                with open(kfile) as f:
                    stored_k = int(f.read().strip())
                if stored_k != k:
                    raise ValueError(
                        f"store at {store_path} was built with k="
                        f"{stored_k}, resume requested k={k}"
                    )
                return

    if kind == "kmv":
        # validate SYNCHRONOUSLY against an existing store — a
        # mismatched k must refuse before any epoch runs (the ledger
        # short-circuits replayed epochs, so an in-run-only check
        # would silently skip straight past the refusal)
        check_k()

    def batch_state(batch_df: DataFrame) -> DataFrame:
        if kind == "kmv":
            return kmv_leaf(batch_df, keys, col, k=k)
        return batch_df.groupBy(*keys).agg(
            F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("__sk")
        )

    def merge_state(old: DataFrame, batch: DataFrame) -> DataFrame:
        if kind == "kmv":
            return merge_kmv_tables(old, batch, keys, k=k)
        return merge_sketch_tables(old, batch, keys)

    return _ledgered_loop(
        stream_df, store_path, checkpoint,
        subdir="sketches", op="sketch_stream",
        batch_state=batch_state, merge_state=merge_state,
        sidecars={"_kmv_k": str(k)} if kind == "kmv" else None,
        # a store created after setup still gets parameter-checked
        pre_epoch=check_k if kind == "kmv" else None,
    )


def drift_stream(stream_df: DataFrame, store_path: str, checkpoint: str,
                 *, cols: list[str], reference: DataFrame | None = None,
                 bins: int = 10,
                 relative_error: float | None = None):
    """The LIVE member of the drift family (batch twins:
    ``operators.diff.snapshot_drift`` / ``category_drift``;
    changepoints: ``changepoint_stream``): maintain per-(column, bin)
    counts of an unbounded stream against a FROZEN reference
    distribution, so PSI is readable any time without scanning
    history.

    First start freezes the reference: ``drift_reference`` computes
    per-column equi-depth boundaries + the reference's own bin counts
    from ``reference`` (pass ``relative_error`` for the sketch
    quantiles at scale) and persists them under ``store_path/ref``
    with the boundaries in a ``_drift_meta`` sidecar INSIDE the dir
    (same atomic write as the data — the sketch_stream k-sidecar
    discipline).  Subsequent starts REUSE the stored reference — that
    is what frozen means — and ``reference`` may be ``None``;
    passing different ``cols``/``bins`` than the store records
    refuses loudly.

    Each micro-batch is binned against the frozen boundaries
    (``operators.diff.drift_bin_counts`` — map-side stack + one tiny
    groupBy) and merged into ``store_path/counts`` by integer
    addition over O(cols·bins) rows — history is never re-scanned.
    Exactly-once via the shared ``_ledgered_loop`` driver (epoch
    ledger fast path + a ``_last_epoch`` stamp swapped in atomically
    with the counts, closing the crash window between a completed
    swap and the marker write), and
    because the merge is plain integer addition over exact counts,
    the monitor state is BIT-identical to a one-shot batch over the
    concatenated stream: ``drift_state(spark, store)`` ≡
    ``snapshot_drift(reference, all_data, cols)`` row-for-row,
    including the psi doubles (asserted in tests/test_streaming.py).

    Read with :func:`drift_state` (the snapshot_drift-shaped table)
    or :func:`drift_alarms` (per-column PSI vs a threshold).  Same
    driver-local-filesystem durability contract as ``sketch_stream``.
    """
    import json as _json
    import os

    from cosmap_spark.operators.diff import drift_bin_counts, drift_reference
    from cosmap_spark.sinks.writers import _require_local

    _require_local(store_path, "drift_stream")
    ref_dir = os.path.join(store_path, "ref")
    meta_file = os.path.join(ref_dir, "_drift_meta")
    if os.path.exists(ref_dir):
        with open(meta_file) as f:
            meta = _json.load(f)
        if meta["cols"] != list(cols) or meta["bins"] != bins:
            raise ValueError(
                f"drift_stream: store at {store_path} was frozen with "
                f"cols={meta['cols']}, bins={meta['bins']}; resume "
                f"requested cols={list(cols)}, bins={bins}"
            )
        bounds = {c: [float(x) for x in meta["bounds"][c]] for c in cols}
    else:
        if reference is None:
            raise ValueError(
                "drift_stream: no frozen reference at "
                f"{store_path} — pass reference= on first start"
            )
        bounds, ref_counts = drift_reference(
            reference, cols, bins=bins, relative_error=relative_error
        )
        from cosmap_spark.sinks.writers import _bootstrap_store

        _bootstrap_store(
            ref_dir, ref_counts,
            extra_files={"_drift_meta": _json.dumps(
                {"cols": list(cols), "bins": bins, "bounds": bounds}
            )},
        )

    return _ledgered_loop(
        stream_df, store_path, checkpoint,
        subdir="counts", op="drift_stream",
        batch_state=lambda b: drift_bin_counts(b, cols, bounds),
        merge_state=lambda old, batch: (
            old.unionByName(batch)
            .groupBy("column", "bin")
            .agg(F.sum("n").cast("long").alias("n"))
        ),
    )


def drift_state(spark: SparkSession, store_path: str) -> DataFrame:
    """The live PSI table of a :func:`drift_stream` store — EXACTLY
    ``snapshot_drift``'s shape and floats:
    ``[column, bin, n_old, n_new, p_old, p_new, psi_term]`` with
    n_old = the frozen reference's bin counts and n_new = everything
    streamed so far (every bin present, zero counts included).  The
    store is O(cols·bins), so this reads and assembles driver-side;
    a column whose streamed rows are all NULL so far raises the same
    no-distribution error as the batch operator."""
    import json as _json
    import os

    from cosmap_spark.operators.diff import _lit_chain, _psi_terms

    with open(os.path.join(store_path, "ref", "_drift_meta")) as f:
        meta = _json.load(f)
    cols, bins = meta["cols"], meta["bins"]
    ref = {
        (r["column"], r["bin"]): r["n"]
        for r in spark.read.parquet(
            os.path.join(store_path, "ref")
        ).collect()
    }
    counts_dir = os.path.join(store_path, "counts")
    new = (
        {
            (r["column"], r["bin"]): r["n"]
            for r in spark.read.parquet(counts_dir).collect()
        }
        if os.path.exists(counts_dir)
        else {}
    )
    totals_a = {c: sum(v for (cc, _), v in ref.items() if cc == c)
                for c in cols}
    totals_b = {c: sum(v for (cc, _), v in new.items() if cc == c)
                for c in cols}
    for c in cols:
        if totals_b[c] == 0:
            raise ValueError(
                f"drift_state: column {c!r} has no non-null rows on "
                "the new side — no distribution to compare"
            )
    rows = [
        (c, b, int(ref.get((c, b), 0)), int(new.get((c, b), 0)))
        for c in cols
        for b in range(bins)
    ]
    j = spark.createDataFrame(
        rows, "column string, bin long, n_old long, n_new long"
    )
    pa = F.col("n_old").cast("double") / _lit_chain(cols, totals_a)
    pb = F.col("n_new").cast("double") / _lit_chain(cols, totals_b)
    return j.select(
        "column", "bin", "n_old", "n_new", *_psi_terms(pa, pb, 1e-6)
    )


def drift_alarms(
    spark: SparkSession, store_path: str, *, threshold: float = 0.25
) -> DataFrame:
    """Per-column PSI verdicts of a :func:`drift_stream` store —
    ``[column, psi, alarmed]`` (alarmed = psi > threshold; the usual
    reading: < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted)."""
    return (
        drift_state(spark, store_path)
        .groupBy("column")
        .agg(F.round(F.sum("psi_term"), 6).alias("psi"))
        .select(
            "column", "psi",
            (F.col("psi") > F.lit(float(threshold))).alias("alarmed"),
        )
    )


def category_drift_stream(stream_df: DataFrame, store_path: str,
                          checkpoint: str, *, cols: list[str],
                          reference: DataFrame | None = None,
                          top_n: int = 20,
                          other_label: str = "(other)",
                          null_label: str = "(null)",
                          frozen_categories: dict[str, list[str]]
                          | None = None):
    """The CATEGORICAL twin of :func:`drift_stream` — live PSI for
    language / source-domain / license mixes: first start FREEZES the
    reference's category selection (``operators.diff.category_drift``
    semantics — top-``top_n`` old-side categories by (count DESC,
    category ASC), NULL a first-class ``null_label`` category,
    everything else folding into ``other_label``) plus the reference's
    folded counts; each micro-batch folds against that frozen
    selection and merges per-(column, category) counts by INTEGER
    addition.  State is O(cols·(top_n+2)); history never re-scans;
    exactly-once via the epoch ledger; mismatched cols/top_n/labels on
    resume refuse loudly.

    Because selection is old-side-only in the batch operator too, the
    live readout (:func:`category_drift_state`) is BIT-identical to
    ``category_drift(reference, all_streamed_data)`` — counts AND psi
    doubles (asserted in tests/test_streaming.py).  Same driver-local
    durability contract as ``sketch_stream``.

    ``frozen_categories`` ({column: [categories keeping identity]} —
    derive with ``operators.diff.heavy_hitter_categories``) is the
    UNBOUNDED-vocabulary freeze: the reference folds MAP-SIDE against
    the caller's selection before any aggregation, so the freeze never
    builds or collects a vocabulary-sized count frame (the default
    top-N freeze collects O(reference vocabulary) rows driver-side —
    fine for bounded mixes, not for open key spaces).  The sidecar
    records the selection's provenance (``selection_source``); resume
    with a different selection refuses loudly."""
    import json as _json
    import os

    from pyspark.sql import Window as W

    from cosmap_spark.operators.diff import (
        _cat_stack,
        _check_frozen,
        _frozen_fold,
    )
    from cosmap_spark.sinks.writers import _require_local

    _require_local(store_path, "category_drift_stream")
    if other_label == null_label:
        raise ValueError(
            "category_drift_stream: other_label and null_label must differ"
        )
    if frozen_categories is not None:
        # canonicalized to the exact strings _cat_stack casts to —
        # every downstream consumer (the fold, the sidecar, the resume
        # comparison, the sel_chain array literals) sees strings only,
        # so the batch fold and the stream's array_contains agree on
        # type AND rendering (round-9 review findings 1+2)
        frozen_categories = _check_frozen(
            cols, frozen_categories, other_label,
            "category_drift_stream", null_label=null_label,
        )
    ref_dir = os.path.join(store_path, "ref")
    meta_file = os.path.join(ref_dir, "_catdrift_meta")
    if os.path.exists(ref_dir):
        with open(meta_file) as f:
            meta = _json.load(f)
        want = {"cols": list(cols), "top_n": top_n,
                "other_label": other_label, "null_label": null_label}
        have = {k: meta[k] for k in want}
        if have != want:
            raise ValueError(
                f"category_drift_stream: store at {store_path} was "
                f"frozen with {have}; resume requested {want}"
            )
        if frozen_categories is not None and {
            c: sorted(set(frozen_categories[c])) for c in cols
        } != {c: sorted(meta["selected"][c]) for c in cols}:
            raise ValueError(
                f"category_drift_stream: store at {store_path} was "
                f"frozen with selection {meta['selected']} "
                f"(source: {meta.get('selection_source', 'unknown')}); "
                "resume requested a different frozen_categories set"
            )
        selected = {c: set(meta["selected"][c]) for c in cols}
    else:
        if reference is None:
            raise ValueError(
                "category_drift_stream: no frozen reference at "
                f"{store_path} — pass reference= on first start"
            )
        if frozen_categories is not None:
            # unbounded-vocabulary freeze: fold BEFORE the aggregation
            # — the ref-count frame is O(cols·(|frozen|+1)) by
            # construction and that bounded frame is all that is ever
            # collected (for the per-column no-rows check)
            selected = {c: set(frozen_categories[c]) for c in cols}
            ref_counts = (
                _cat_stack(reference, cols, null_label)
                .select(
                    "column",
                    _frozen_fold(cols, frozen_categories, other_label)
                    .alias("category"),
                )
                .groupBy("column", "category")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
                .localCheckpoint()
            )
            present = {r["column"] for r in
                       ref_counts.select("column").distinct().collect()}
            missing = [c for c in cols if c not in present]
            if missing:
                raise ValueError(
                    f"category_drift_stream: columns {missing} have no "
                    "rows in the reference — no distribution to compare"
                )
            source = "frozen_categories"
        else:
            counts = (
                _cat_stack(reference, cols, null_label)
                .groupBy("column", "category")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            rn = F.row_number().over(
                W.partitionBy("column").orderBy(
                    F.col("n").desc(), F.col("category").asc()
                )
            )
            rows = counts.withColumn("__rn", rn).collect()
            selected = {
                c: {r["category"] for r in rows
                    if r["column"] == c and r["__rn"] <= top_n}
                for c in cols
            }
            for c in cols:
                if not selected[c]:
                    # refuse at freeze time (mirrors the batch
                    # operator's no-distribution error): an empty
                    # frozen selection would otherwise build a
                    # zero-element array literal whose array_contains
                    # folds every streamed row into OTHER — the monitor
                    # would start and silently compare against nothing
                    raise ValueError(
                        f"category_drift_stream: column {c!r} has no "
                        "rows in the reference — no distribution to "
                        "compare"
                    )
            folded = {}
            for r in rows:
                key = (
                    r["column"],
                    r["category"]
                    if r["category"] in selected[r["column"]]
                    else other_label,
                )
                folded[key] = folded.get(key, 0) + r["n"]
            ref_counts = reference.sparkSession.createDataFrame(
                [(c, cat, n) for (c, cat), n in sorted(folded.items())],
                "column string, category string, n long",
            )
            source = "reference_top_n"
        from cosmap_spark.sinks.writers import _bootstrap_store

        _bootstrap_store(
            ref_dir, ref_counts,
            extra_files={"_catdrift_meta": _json.dumps({
                "cols": list(cols), "top_n": top_n,
                "other_label": other_label, "null_label": null_label,
                "selected": {c: sorted(selected[c]) for c in cols},
                "selection_source": source,
            })},
        )

    sel_chain = None
    for c in cols:
        # selected values are canonical STRINGS by construction (meta
        # stores strings; frozen selections canonicalize at entry), so
        # the array literal is array<string> and array_contains against
        # the string category column type-checks
        arr = F.array(*[F.lit(str(x)) for x in sorted(selected[c])])
        sel_chain = (
            F.when(F.col("column") == c, arr) if sel_chain is None
            else sel_chain.when(F.col("column") == c, arr)
        )

    def batch_state(batch_df: DataFrame) -> DataFrame:
        return (
            _cat_stack(batch_df, cols, null_label)
            .select(
                "column",
                F.when(
                    F.array_contains(sel_chain, F.col("category")),
                    F.col("category"),
                ).otherwise(F.lit(other_label)).alias("category"),
            )
            .groupBy("column", "category")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return _ledgered_loop(
        stream_df, store_path, checkpoint,
        subdir="counts", op="category_drift_stream",
        batch_state=batch_state,
        merge_state=lambda old, batch: (
            old.unionByName(batch)
            .groupBy("column", "category")
            .agg(F.sum("n").cast("long").alias("n"))
        ),
    )


def category_drift_state(spark: SparkSession, store_path: str) -> DataFrame:
    """The live categorical-PSI table of a
    :func:`category_drift_stream` store — EXACTLY ``category_drift``'s
    shape and floats: ``[column, category, n_old, n_new, p_old, p_new,
    psi_term]``, one row per (column, category) present on either
    side.  O(cols·categories) — assembled driver-side; a column whose
    streamed rows are all absent so far raises the batch operator's
    no-distribution error."""
    import json as _json
    import os

    from cosmap_spark.operators.diff import _lit_chain, _psi_terms

    with open(os.path.join(store_path, "ref", "_catdrift_meta")) as f:
        meta = _json.load(f)
    cols = meta["cols"]
    ref = {
        (r["column"], r["category"]): r["n"]
        for r in spark.read.parquet(
            os.path.join(store_path, "ref")
        ).collect()
    }
    counts_dir = os.path.join(store_path, "counts")
    new = (
        {
            (r["column"], r["category"]): r["n"]
            for r in spark.read.parquet(counts_dir).collect()
        }
        if os.path.exists(counts_dir)
        else {}
    )
    totals_a = {c: sum(v for (cc, _), v in ref.items() if cc == c)
                for c in cols}
    totals_b = {c: sum(v for (cc, _), v in new.items() if cc == c)
                for c in cols}
    for c in cols:
        if totals_b.get(c, 0) == 0:
            raise ValueError(
                f"category_drift_state: column {c!r} has no rows on "
                "the new side — no distribution to compare"
            )
    keys = sorted(set(ref) | set(new))
    rows = [
        (c, cat, int(ref.get((c, cat), 0)), int(new.get((c, cat), 0)))
        for c, cat in keys
    ]
    j = spark.createDataFrame(
        rows, "column string, category string, n_old long, n_new long"
    )
    pa = F.col("n_old").cast("double") / _lit_chain(cols, totals_a)
    pb = F.col("n_new").cast("double") / _lit_chain(cols, totals_b)
    return j.select(
        "column", "category", "n_old", "n_new",
        *_psi_terms(pa, pb, 1e-6),
    )


def category_drift_chi2(
    spark: SparkSession, store_path: str, *, units: int = 10 ** 8,
) -> DataFrame:
    """The SIGNIFICANCE readout of a :func:`category_drift_stream`
    store — two-sample chi-squared homogeneity (``stats_tests.
    chi2_test`` semantics) between the frozen reference and everything
    streamed so far, over the SAME folded category bins the monitor
    maintains (top-N + other + null — the test answers "is the mix
    over the monitored bins different?", the PSI readout answers "by
    how much?").  One store, two readouts: no second state, no second
    scan.  Returns ``[column, n_old, n_new, k, dof, chi2_units,
    chi2]``; feed to ``decide(..., "chi2")`` for the p-value verdict.
    Exact integers in, the defined two-stage integer division out —
    bit-identical to ``chi2_test`` over the concatenated (folded)
    data."""
    import json as _json
    import os

    from cosmap_spark.operators.stats_tests import chi2_from_counts

    with open(os.path.join(store_path, "ref", "_catdrift_meta")) as f:
        meta = _json.load(f)
    ref = spark.read.parquet(os.path.join(store_path, "ref")).select(
        "column", "category", F.col("n").alias("n_o")
    )
    counts_dir = os.path.join(store_path, "counts")
    if os.path.exists(counts_dir):
        new = spark.read.parquet(counts_dir).select(
            "column", "category", F.col("n").alias("n_n")
        )
    else:
        new = spark.createDataFrame(
            [], "column string, category string, n_n long"
        )
    counts = (
        ref.join(new, ["column", "category"], "full_outer")
        .select(
            "column", "category",
            F.coalesce("n_o", F.lit(0)).cast("long").alias("n_o"),
            F.coalesce("n_n", F.lit(0)).cast("long").alias("n_n"),
        )
    )
    return chi2_from_counts(counts, units=units, cols=meta["cols"])


def abtest_stream(stream_df: DataFrame, store_path: str, checkpoint: str,
                  *, variant_col: str, value_col: str,
                  quantize_dp: int = 6):
    """Live A/B experiment monitor — the streaming twin of
    ``operators.stats_tests.welch_ttest``: per-arm moment accumulators
    (n, Σq, Σq² over values quantized to exact integers) are merged
    into a parquet store per micro-batch by INTEGER addition — state
    is O(arms), history is never re-scanned, and because the sums are
    exact the live readout (:func:`abtest_state`) is BIT-identical to
    a one-shot ``welch_ttest`` over the concatenated stream (t, dof,
    means — all of it; asserted in tests/test_streaming.py).

    Exactly-once via the shared ``_ledgered_loop`` driver (ledger +
    atomic ``_last_epoch`` stamp); the quantization dp is recorded
    in a sidecar INSIDE the store (the sketch_stream k discipline) and
    a mismatched resume refuses loudly — merging sums at two different
    scales would silently corrupt every statistic.  Same driver-local
    durability contract as ``sketch_stream``; NULL variants/values are
    excluded (matching the batch operator)."""
    import os

    from cosmap_spark.sinks.writers import _require_local

    _require_local(store_path, "abtest_stream")
    scale = float(10 ** quantize_dp)

    def check_dp() -> None:
        f = os.path.join(store_path, "arms", "_abtest_dp")
        if os.path.exists(f):
            with open(f) as fh:
                stored = int(fh.read().strip())
            if stored != quantize_dp:
                raise ValueError(
                    f"abtest_stream: store at {store_path} was built "
                    f"with quantize_dp={stored}, resume requested "
                    f"{quantize_dp} — sums at different scales cannot "
                    "merge"
                )

    check_dp()

    def batch_state(batch_df: DataFrame) -> DataFrame:
        q = F.round(F.col(value_col) * F.lit(scale)).cast("long")
        return (
            batch_df.where(F.col(variant_col).isNotNull()
                           & F.col(value_col).isNotNull())
            .select(F.col(variant_col).cast("string").alias("variant"),
                    q.alias("q"))
            .groupBy("variant")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("q").cast("decimal(20,0)"))
                .cast("decimal(20,0)").alias("s"),
                F.sum(
                    F.col("q").cast("decimal(38,0)")
                    * F.col("q").cast("decimal(38,0)")
                ).cast("decimal(38,0)").alias("ss"),
            )
        )

    return _ledgered_loop(
        stream_df, store_path, checkpoint,
        subdir="arms", op="abtest_stream",
        batch_state=batch_state,
        merge_state=lambda old, batch: (
            old.unionByName(batch)
            .groupBy("variant")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("s").cast("decimal(20,0)").alias("s"),
                F.sum("ss").cast("decimal(38,0)").alias("ss"),
            )
        ),
        sidecars={"_abtest_dp": str(quantize_dp)},
        pre_epoch=check_dp,
    )


def abtest_state(spark: SparkSession, store_path: str) -> DataFrame:
    """The live Welch readout of an :func:`abtest_stream` store —
    EXACTLY ``welch_ttest``'s shape and floats for every unordered
    arm pair: ``[variant_a, variant_b, n_a, n_b, mean_a, mean_b,
    t_stat, dof]``.  The store holds exact integer sums, so this is
    bit-identical to the batch operator over all data streamed so
    far."""
    import os

    from cosmap_spark.operators.stats_tests import _welch_from_moments

    with open(os.path.join(store_path, "arms", "_abtest_dp")) as f:
        dp = int(f.read().strip())
    g = spark.read.parquet(os.path.join(store_path, "arms"))
    return _welch_from_moments(g, float(10 ** dp))


def ks_stream(stream_df: DataFrame, store_path: str, checkpoint: str,
              *, cols: list[str], reference: DataFrame | None = None,
              quantize_dp: int = 6):
    """Live two-sample Kolmogorov–Smirnov monitor — the inferential
    sibling of :func:`drift_stream` (PSI measures effect size; KS
    answers "is the distributional shift statistically real?"), and
    the first monitor built as pure CONFIG over the shared
    :func:`_ledgered_loop` (the round-8 consolidation's purpose): the
    batch kernel is ``stats_tests.one_side_quantized_counts``, the
    merge is integer addition per (column, q), the sidecar records
    cols + quantize_dp with loud mismatch refusal.

    First start freezes the reference's quantized-value counts under
    ``store_path/ref``; each micro-batch's counts accumulate into
    ``store_path/counts`` — state is O(distinct quantized values per
    column), the same bound as the batch test (lower ``quantize_dp``
    for genuinely continuous data).  Because the store holds EXACT
    integers and the statistic is one fixed expression tree
    (``ks_from_counts``), :func:`ks_state` is BIT-identical to
    ``ks_test(reference, all_streamed_data)`` — d_num, d_stat and
    lambda_stat included (asserted in tests).  Read verdicts with
    ``decide(ks_state(...), "ks")``.  Exactly-once via the shared
    driver (ledger + atomic ``_last_epoch`` stamp); same driver-local
    durability contract as ``sketch_stream``."""
    import json as _json
    import os

    from cosmap_spark.operators.stats_tests import (
        one_side_quantized_counts,
    )
    from cosmap_spark.sinks.writers import _bootstrap_store, _require_local

    _require_local(store_path, "ks_stream")
    ref_dir = os.path.join(store_path, "ref")
    meta_file = os.path.join(ref_dir, "_ks_meta")
    if os.path.exists(ref_dir):
        with open(meta_file) as f:
            meta = _json.load(f)
        if meta["cols"] != list(cols) or meta["quantize_dp"] != quantize_dp:
            raise ValueError(
                f"ks_stream: store at {store_path} was frozen with "
                f"cols={meta['cols']}, quantize_dp="
                f"{meta['quantize_dp']}; resume requested "
                f"cols={list(cols)}, quantize_dp={quantize_dp}"
            )
    else:
        if reference is None:
            raise ValueError(
                "ks_stream: no frozen reference at "
                f"{store_path} — pass reference= on first start"
            )
        ref_counts = one_side_quantized_counts(
            reference, cols, quantize_dp, "ks_stream"
        )
        _bootstrap_store(
            ref_dir, ref_counts,
            extra_files={"_ks_meta": _json.dumps(
                {"cols": list(cols), "quantize_dp": quantize_dp}
            )},
        )

    return _ledgered_loop(
        stream_df, store_path, checkpoint,
        subdir="counts", op="ks_stream",
        batch_state=lambda b: one_side_quantized_counts(
            b, cols, quantize_dp, "ks_stream"
        ),
        merge_state=lambda old, batch: (
            old.unionByName(batch)
            .groupBy("column", "q")
            .agg(F.sum("n").cast("long").alias("n"))
        ),
    )


def _ks_store_counts(
    spark: SparkSession, store_path: str
) -> tuple[DataFrame, dict]:
    """The shared front half of every :func:`ks_stream`-store readout:
    the merged ``[column, q, co, cn]`` count frame (frozen reference
    full-outer-joined with everything streamed so far, absent sides
    zero-filled) plus the store meta.  ``ks_state`` / ``mwu_state``
    are config over this; the next readout on the same quantized
    counts (e.g. a live median-shift estimate) is one ``*_from_counts``
    call away."""
    import json as _json
    import os

    with open(os.path.join(store_path, "ref", "_ks_meta")) as f:
        meta = _json.load(f)
    ref = spark.read.parquet(os.path.join(store_path, "ref")).select(
        "column", "q", F.col("n").alias("co")
    )
    counts_dir = os.path.join(store_path, "counts")
    if os.path.exists(counts_dir):
        new = spark.read.parquet(counts_dir).select(
            "column", "q", F.col("n").alias("cn")
        )
    else:
        new = spark.createDataFrame([], "column string, q long, cn long")
    counts = (
        ref.join(new, ["column", "q"], "full_outer")
        .select(
            "column", "q",
            F.coalesce("co", F.lit(0)).cast("long").alias("co"),
            F.coalesce("cn", F.lit(0)).cast("long").alias("cn"),
        )
    )
    return counts, meta


def ks_state(spark: SparkSession, store_path: str) -> DataFrame:
    """The live KS table of a :func:`ks_stream` store — EXACTLY
    ``ks_test``'s shape and floats: ``[column, n_old, n_new, d_num,
    d_stat, lambda_stat]`` with the frozen reference as the old side
    and everything streamed so far as the new.  Unlike the
    O(cols·bins) drift readouts this does NOT assemble driver-side:
    the count table is O(distinct quantized values), so the full-outer
    count merge and the cumulative windows run as the same Spark plan
    ``ks_test`` uses (``ks_from_counts`` over
    :func:`_ks_store_counts`)."""
    from cosmap_spark.operators.stats_tests import ks_from_counts

    counts, meta = _ks_store_counts(spark, store_path)
    return ks_from_counts(counts, meta["cols"])


def mwu_state(spark: SparkSession, store_path: str) -> DataFrame:
    """The live Mann–Whitney rank-sum readout of the SAME
    :func:`ks_stream` store — ``mann_whitney_u``'s exact shape and
    floats between the frozen reference and everything streamed so
    far.  The quantized-count state already contains everything the
    rank statistics need (the batch test computes from the identical
    ``[column, q, co, cn]`` frame, here :func:`_ks_store_counts`), so
    one store serves BOTH distributional readouts — KS for shape, MWU
    for location — the one-store-two-readouts pattern of
    ``category_drift_chi2``.  Bit-identical to
    ``mann_whitney_u(reference, concatenated stream)`` (asserted in
    tests); feed to ``decide(..., "mwu")``."""
    from cosmap_spark.operators.stats_tests import mwu_from_counts

    counts, meta = _ks_store_counts(spark, store_path)
    return mwu_from_counts(counts, meta["cols"])


def reservoir_merge(rows: DataFrame, *, k: int, key_cols: list[str],
                    strata_cols: list[str] | None = None) -> DataFrame:
    """The min-k fold at the heart of :func:`reservoir_stream`: keep,
    per stratum, the ``k`` distinct rows with the smallest ``__h``
    (ties broken by the key columns — the same total order
    ``operators.sampler.exact_k_sample`` uses, so stream ≡ batch holds
    exactly).  ``distinct()`` FIRST is what makes the fold idempotent
    across replays by construction (the KMV property applied to
    sampling): re-merging rows the state already contains cannot
    change it — min-k(S ∪ S) = min-k(S) — so this is the rare monitor
    that is exactly-once even if the epoch ledger were lost.  The
    flip side of that property is the semantics: the reservoir samples
    the DISTINCT rows of the stream (an exact duplicate row is one
    candidate, not two)."""
    from pyspark.sql import Window as W

    strata = list(strata_cols or [])
    deduped = rows.distinct()
    if strata:
        w = W.partitionBy(*strata).orderBy("__h", *key_cols)
        return (
            deduped.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
    # global budget: the TakeOrdered shape (per-partition heap of k,
    # heap merge), never a global sort
    return deduped.orderBy("__h", *key_cols).limit(k)


def reservoir_stream(stream_df: DataFrame, store_path: str,
                     checkpoint: str, *, k: int, key_cols: list[str],
                     strata_cols: list[str] | None = None,
                     weight_col: str | None = None,
                     seed: int = 83):
    """Streaming fixed-size uniform sample — the live twin of
    ``operators.sampler.exact_k_sample``: maintain, per stratum (or
    globally), the ``k`` rows with the smallest ``xxhash64(key, seed)``
    over everything streamed so far, in O(k·strata) state.  Reading
    the store (:func:`reservoir_state`) at any time yields EXACTLY
    what the batch operator would return over the DISTINCT rows of the
    concatenated stream (asserted bit-equal in tests) — eval-set
    carving and debugging slices that stay stable as data keeps
    arriving, because a row's sampling fate is its hash rank, not its
    arrival order.  The distinctness qualifier is the price of replay
    idempotence (see :func:`reservoir_merge`): an exact duplicate row
    delivered twice counts ONCE here, while ``exact_k_sample`` over a
    concatenation containing it twice would give it two slots — with
    a unique sampling key (the intended use) the twin is
    unconditional.

    Exactly-once is DOUBLY held: the shared epoch ledger short-circuits
    replays like every monitor, and — uniquely — the min-k fold itself
    is idempotent across replays by construction
    (:func:`reservoir_merge`: distinct rows, KMV property), so even a
    lost ledger cannot corrupt the sample.  Keys should uniquely
    identify rows (it is a SAMPLING key): rows identical in every
    column count once.

    ``weight_col`` switches the rank to the Efraimidis–Spirakis
    ``−ln(u)/w`` (the ``operators.sampler.weighted_k_sample`` twin —
    shared rank expression, so the live sample is bit-equal to the
    batch one over the concatenated stream); invalid weights
    (NULL/NaN/≤0) never enter the reservoir.  The min-k idempotence
    holds identically — the rank is a pure function of (key, weight).

    State/scale shape: each micro-batch folds to its own ≤k(·strata)
    candidate set batch-side, the store merge touches O(k·strata)
    rows, history is never re-scanned.  Parameters ride a sidecar and
    a mismatched resume refuses (the sketch_stream k lesson)."""
    import json as _json
    import os

    from cosmap_spark.operators.sampler import _es_rank, _key_hash

    params = {"k": int(k), "key_cols": list(key_cols),
              "strata_cols": list(strata_cols or []),
              "weight_col": weight_col, "seed": int(seed)}
    meta_path = os.path.join(store_path, "sample", "_reservoir_meta")

    def check_params() -> None:
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                have = _json.load(f)
            if have != params:
                raise ValueError(
                    f"reservoir_stream: store at {store_path} was built "
                    f"with {have}; resume requested {params}"
                )

    check_params()

    def batch_state(batch_df: DataFrame) -> DataFrame:
        if weight_col is not None:
            rank = _es_rank(weight_col, list(key_cols), int(seed))
        else:
            rank = _key_hash(list(key_cols), F.lit(int(seed)))
        hashed = batch_df.withColumn("__h", rank).where(
            F.col("__h").isNotNull()
        )
        return reservoir_merge(hashed, k=k, key_cols=list(key_cols),
                               strata_cols=strata_cols)

    def merge_state(old: DataFrame, batch: DataFrame) -> DataFrame:
        return reservoir_merge(
            old.unionByName(batch), k=k, key_cols=list(key_cols),
            strata_cols=strata_cols,
        )

    return _ledgered_loop(
        stream_df, store_path, checkpoint,
        subdir="sample", op="reservoir_stream",
        batch_state=batch_state, merge_state=merge_state,
        sidecars={"_reservoir_meta": _json.dumps(params)},
        pre_epoch=check_params,
    )


def reservoir_state(spark: SparkSession, store_path: str) -> DataFrame:
    """The current sample of a :func:`reservoir_stream` store — the
    payload rows without the internal hash rank."""
    import os

    return spark.read.parquet(os.path.join(store_path, "sample")) \
        .drop("__h")


def monitor_report(
    spark: SparkSession,
    *,
    drift_store: str | None = None,
    category_store: str | None = None,
    abtest_store: str | None = None,
    ks_store: str | None = None,
    alpha: float = 0.05,
    psi_threshold: float = 0.25,
    health_stores: dict[str, str] | None = None,
) -> DataFrame:
    """ONE verdict table across every live monitor store — the page an
    on-call user actually reads:
    ``[monitor, subject, statistic, value, p_value, significant]``.

    Pass whichever stores exist; each contributes its readout(s):

    - ``ks_store`` (a :func:`ks_stream` store): TWO rows per column —
      the KS shape test (λ, Kolmogorov p) and the MWU location test
      (z, normal p) from ONE shared quantized-count frame
      (:func:`_ks_store_counts`, built once and fed to both
      ``*_from_counts`` back halves);
    - ``abtest_store``: Welch's t per arm pair
      (subject = ``a>b``, A&S 26.7.8 p);
    - ``category_store``: the PSI effect size per column
      (``significant`` = psi > ``psi_threshold``, p NULL — PSI has no
      sampling distribution here) AND the chi-squared significance
      over the same frozen bins (Wilson–Hilferty p);
    - ``drift_store``: numeric PSI per column (threshold verdict,
      p NULL).

    Assembly is a union of the O(columns·arms)-sized readouts — no
    store is scanned twice, nothing history-sized is touched.  All
    p-values come from :func:`cosmap_spark.operators.stats_tests.
    decide` (asymptotic; NULL statistic → NULL verdict, never a
    silent pass)."""
    from cosmap_spark.operators.stats_tests import decide

    def shape(df, monitor, subject, statistic, value,
              p=None, sig=None):
        return df.select(
            F.lit(monitor).alias("monitor"),
            subject.cast("string").alias("subject"),
            F.lit(statistic).alias("statistic"),
            value.cast("double").alias("value"),
            (F.col("p_value") if p is None else p)
            .cast("double").alias("p_value"),
            (F.col("significant") if sig is None else sig)
            .cast("boolean").alias("significant"),
        )

    parts = []
    if ks_store is not None:
        from cosmap_spark.operators.stats_tests import (
            ks_from_counts,
            mwu_from_counts,
        )

        counts, meta = _ks_store_counts(spark, ks_store)
        parts.append(shape(
            decide(ks_from_counts(counts, meta["cols"]), "ks",
                   alpha=alpha),
            "ks", F.col("column"), "lambda", F.col("lambda_stat"),
        ))
        parts.append(shape(
            decide(mwu_from_counts(counts, meta["cols"]), "mwu",
                   alpha=alpha),
            "mwu", F.col("column"), "z", F.col("z_stat"),
        ))
    if abtest_store is not None:
        parts.append(shape(
            decide(abtest_state(spark, abtest_store), "welch",
                   alpha=alpha),
            "abtest", F.concat(F.col("variant_a"), F.lit(">"),
                               F.col("variant_b")),
            "t", F.col("t_stat"),
        ))
    if category_store is not None:
        psi = (
            category_drift_state(spark, category_store)
            .groupBy("column")
            .agg(F.round(F.sum("psi_term"), 6).alias("psi"))
        )
        parts.append(shape(
            psi, "category_psi", F.col("column"), "psi", F.col("psi"),
            p=F.lit(None),
            sig=F.col("psi") > F.lit(float(psi_threshold)),
        ))
        parts.append(shape(
            decide(category_drift_chi2(spark, category_store), "chi2",
                   alpha=alpha),
            "category_chi2", F.col("column"), "chi2", F.col("chi2"),
        ))
    if drift_store is not None:
        parts.append(shape(
            drift_alarms(spark, drift_store, threshold=psi_threshold),
            "drift_psi", F.col("column"), "psi", F.col("psi"),
            p=F.lit(None), sig=F.col("alarmed"),
        ))
    if health_stores:
        parts.append(store_health(spark, health_stores))
    if not parts:
        raise ValueError("monitor_report: no store paths given")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def store_health(spark: SparkSession, stores: dict[str, str], *,
                 compact_after: int = 10) -> DataFrame:
    """The MAINTENANCE half of the one-page readout (round-9 verdict
    task #8): the facts an operator acts on, per store, in
    ``monitor_report``'s exact schema so the two union —
    ``[monitor='health', subject=<store name>, statistic=<fact>,
    value, p_value=NULL, significant=<needs action>]``.

    Facts by store kind (probed from the layout):

    - any manifest store: ``manifest_versions`` / ``orphan_data_dirs``
      (vacuum dry-run; orphans significant — expire/vacuum me); a
      merge-on-read store adds ``mor_epochs`` (delta stack depth;
      significant once ≥ ``compact_after`` — compact me) and
      ``mor_oldest_delta_age_s``;
    - any rename-swap streaming store: ``pending_interrupted_swap``
      (backup present with the live dir MISSING — significant, the
      one state needing a manual restore), ``ledger_last_epoch``;
    - monitor stores additionally report ``rows:<subdir>`` per state
      table (monitor state is O(cols·bins)-sized, so counting is
      cheap; MOR bases are table-sized and deliberately NEVER counted
      here — health must not cost a scan);
    - sync destinations (a ``<path>.sync`` / ``<path>.aggsync`` cursor
      beside the store) report ``sync_src_version`` /
      ``aggsync_src_version`` and, via the cursor's ``src_path``
      stamp, ``*_lag_versions`` = source head − synced (significant
      when behind — sync me).

    Everything else is driver-local filesystem listings — zero Spark
    jobs except the small state-table counts."""
    import os as _os
    import time as _time

    from cosmap_spark.sinks.commit import ManifestStore

    rows: list[tuple] = []

    def fact(name: str, stat: str, value, sig: bool) -> None:
        rows.append((
            "health", name, stat,
            None if value is None else float(value), None, bool(sig),
        ))

    def ledger_last(path: str) -> int | None:
        led = _os.path.join(path, "_epochs")
        if not _os.path.isdir(led):
            return None
        es = [
            int(n.split("-", 1)[1])
            for n in _os.listdir(led)
            if n.startswith("epoch-") and n.split("-", 1)[1].isdigit()
        ]
        return max(es) if es else None

    def sync_facts(name: str, path: str) -> None:
        # a replica / maintained-aggregate destination carries its
        # cursor BESIDE the store (<path>.sync / <path>.aggsync); the
        # round-10 src_path stamp lets health compute staleness —
        # source head minus synced version, significant when behind
        for suffix in (".sync", ".aggsync"):
            cursor = ManifestStore(path.rstrip("/") + suffix)
            if not cursor.exists():
                continue
            cur = cursor.latest()[1]
            synced = int(cur["src_version"])
            kind = suffix[1:]
            fact(name, f"{kind}_src_version", synced, False)
            sp = cur.get("src_path")
            try:
                src_versions = ManifestStore(sp).versions() if sp else []
            except ValueError:
                # a source synced through a custom CommitFS is recorded
                # by its URI; without that fs its head is unknown here
                src_versions = []
            if src_versions:
                head = src_versions[-1]
                fact(name, f"{kind}_lag_versions", head - synced,
                     head > synced)

    for name, path in stores.items():
        sync_facts(name, path)
        ms = ManifestStore(path)
        if ms.exists():
            _, man = ms.latest()
            fact(name, "manifest_versions", len(ms.versions()), False)
            orphans = ms.vacuum(dry_run=True)  # default age guard
            fact(name, "orphan_data_dirs", len(orphans), len(orphans) > 0)
            if "epochs" not in man:
                continue  # no delta-log facts for index stores
            epochs = man["epochs"]
            fact(name, "mor_epochs", len(epochs),
                 len(epochs) >= compact_after)
            if epochs:
                oldest = min(
                    _os.stat(ms.data_path(e["dir"])).st_mtime
                    for e in epochs
                )
                fact(name, "mor_oldest_delta_age_s",
                     round(_time.time() - oldest, 1), False)
            le = ledger_last(path)
            if le is not None:
                fact(name, "ledger_last_epoch", le, False)
            continue
        # generic monitor store: ledger + per-state-table row counts +
        # interrupted-swap flags on each state subdir
        le = ledger_last(path)
        if le is not None:
            fact(name, "ledger_last_epoch", le, False)
        if _os.path.isdir(path):
            for sub in sorted(_os.listdir(path)):
                full = _os.path.join(path, sub)
                if sub.startswith(("_", ".")) or not _os.path.isdir(full):
                    continue
                if sub.endswith("__merge_backup"):
                    live = full[: -len(".__merge_backup")]
                    interrupted = not _os.path.exists(live)
                    fact(name, f"pending_interrupted_swap:{sub}",
                         int(interrupted), interrupted)
                    continue
                if any(
                    f.endswith(".parquet")
                    for f in _os.listdir(full)
                    if _os.path.isfile(_os.path.join(full, f))
                ):
                    n = spark.read.parquet(full).count()
                    fact(name, f"rows:{sub}", n, False)
    from pyspark.sql.types import (
        BooleanType, DoubleType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("monitor", StringType()),
        StructField("subject", StringType()),
        StructField("statistic", StringType()),
        StructField("value", DoubleType()),
        StructField("p_value", DoubleType()),
        StructField("significant", BooleanType()),
    ])
    return spark.createDataFrame(rows, schema)


def heavy_hitters_stream(stream_df: DataFrame, store_path: str,
                         checkpoint: str, *, key_col: str, k: int = 64):
    """Streaming maintenance of a persisted Misra-Gries counter store
    — live heavy-hitter candidates over an unbounded stream with
    k·(key + 8 B) state: each micro-batch is summarized
    (``operators.sketch.mg_summary``, one bounded-state scan of the
    batch) and merged into the ≤k-row store
    (``merge_mg_tables`` — Agarwal et al. mergeable summaries, the
    undercount bound accumulating as Σ Nᵢ/(k+1)).  The store records
    the running total N in ``_mg_meta.json`` so readers can state the
    guarantee: any key whose TRUE total frequency exceeds N/(k+1) is
    present, with ``mg_count`` a lower bound undercounting by at most
    N/(k+1).

    MG merge is NOT replay-idempotent (re-merging a batch double-
    counts), so exactly-once rides the same epoch ledger as the
    HLL/KMV stores — hardened here because a double-count is silent
    data corruption, not just wasted work: the meta sidecar (running
    N, k, and the LAST MERGED EPOCH) is written INSIDE the counters
    directory by the same atomic swap that replaces the counters, so
    a crash between the swap and the done-marker is detected on
    replay (``last_epoch`` already equals the epoch id ⇒ skip the
    merge, restore the marker) instead of double-merging.  A
    mismatched ``k`` on resume is refused synchronously (merging
    under a different k silently changes the guarantee).  Exact
    counts for the surviving candidates, when needed, are one
    broadcast-verify scan over the archived corpus — the batch
    ``heavy_hitters_sketch`` second pass, by design not possible from
    a stream alone."""
    import json as _json
    import os

    from cosmap_spark.operators.sketch import merge_mg_tables, mg_summary

    from cosmap_spark.sinks.writers import _require_local

    _require_local(store_path, "heavy_hitters_stream")
    store = os.path.join(store_path, "counters")
    # meta lives INSIDE the counters dir so the swap replaces both
    # atomically; the legacy location (store_path root) is read as a
    # fallback for stores written before the hardening
    meta_name = "_mg_meta.json"
    legacy_meta = os.path.join(store_path, meta_name)

    def read_meta() -> dict:
        for p in (os.path.join(store, meta_name), legacy_meta):
            if os.path.exists(p):
                with open(p) as f:
                    return _json.load(f)
        return {"k": k, "n": 0}

    meta0 = read_meta()
    if meta0["k"] != k:
        raise ValueError(
            f"store at {store_path} was built with k={meta0['k']}, "
            f"resume requested k={k}"
        )

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ledger = os.path.join(store_path, "_epochs")
        done_marker = os.path.join(ledger, f"epoch-{epoch_id}")
        if os.path.exists(done_marker):
            return  # replayed epoch: counters already include it
        from cosmap_spark.sinks.writers import (
            _refuse_interrupted_swap,
            _swap_in,
        )

        _refuse_interrupted_swap(store)
        meta = read_meta()
        if meta["k"] != k:
            raise ValueError(
                f"store at {store_path} was built with k={meta['k']}, "
                f"resume requested k={k}"
            )
        os.makedirs(ledger, exist_ok=True)
        if meta.get("last_epoch") == epoch_id:
            # crash landed between the store swap and the marker: the
            # counters already contain this epoch (the stamp swapped in
            # with them) — re-merging would double-count, so only the
            # marker is restored
            with open(done_marker, "w") as f:
                f.write("ok")
            return
        batch, n_batch = mg_summary(batch_df, key_col, k=k)
        new_meta = _json.dumps(
            {"k": k, "n": meta["n"] + n_batch, "last_epoch": epoch_id}
        )
        if os.path.exists(store):
            old = spark.read.parquet(store)
            _swap_in(
                store, merge_mg_tables(old, batch, k=k),
                extra_files={meta_name: new_meta},
            )
        else:
            from cosmap_spark.sinks.writers import _bootstrap_store

            _bootstrap_store(store, batch,
                             extra_files={meta_name: new_meta})
        with open(done_marker, "w") as f:
            f.write("ok")

    return (
        stream_df.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def vector_ingest_stream(vec_stream: DataFrame, index_path: str,
                         checkpoint: str, *, id_col: str = "vec_id",
                         vec_col: str = "embedding"):
    """Online IVF index maintenance — the WRITE half of the streaming
    vector story (`knn_serve_stream` is the read half): micro-batches
    of new vectors are ASSIGNED to the persisted index's frozen
    centroids (`index_store.ivf_append` semantics — one Arrow pass
    over the batch, history untouched) and appended to the inverted
    lists as an epoch-keyed parquet sub-directory, so a replayed epoch
    overwrites itself (exactly-once per epoch) and readers reconstruct
    the full lists as base ∪ appends.

    Centroids never move here — periodic retrain (ivf_build on the
    accumulated corpus) handles drift; that is the standard
    serve-while-ingesting split.  ``load_appended_index`` reassembles
    ``(centroids, assigned)`` for `knn_ann_union`/`knn_ivf`.

    When the persisted index carries PQ artifacts (codebooks in the
    manifest), each batch is ALSO encoded with the frozen codebooks —
    residuals first if the manifest records the residual layout — and
    written to epoch-keyed ``pq_coded_appends``, keeping the coded
    corpus serveable while ingesting (``load_appended_coded`` folds
    them in; the streaming twin of ``index_store.pq_append``)."""
    from pyspark.sql import SparkSession as _SS

    from cosmap_spark.operators.index_store import load_ann_index
    from cosmap_spark.operators.knn import ivf_assign
    from cosmap_spark.operators.pq import ivf_residuals, pq_encode

    # centroids/codebooks are FROZEN by contract: load them ONCE at
    # stream start and close over them — a per-batch reload would pay
    # a manifest + collect per epoch and, worse, silently mix
    # OLD-artifact epochs with NEW ones if a retrain rewrites the
    # index mid-stream (review finding)
    loaded = load_ann_index(
        _SS.getActiveSession() or vec_stream.sparkSession, index_path
    )
    cents, _ = loaded["index"]
    books = loaded.get("codebooks")
    residual = bool(loaded.get("residual"))

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        fresh = ivf_assign(
            batch_df, cents, id_col=id_col, vec_col=vec_col
        )
        fresh.select("nid", "nvec", "cid").write.mode("overwrite").parquet(
            f"{index_path}/ivf_appends/epoch={epoch_id}"
        )
        if books is not None:
            src, vec = (
                (ivf_residuals(fresh, cents), "rvec") if residual
                else (fresh, "nvec")
            )
            pq_encode(
                src, books, id_col="nid", vec_col=vec, keep=["cid"]
            ).select("nid", "codes", "cid").write.mode("overwrite").parquet(
                f"{index_path}/pq_coded_appends/epoch={epoch_id}"
            )

    return (
        vec_stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def load_appended_index(spark: SparkSession, index_path: str):
    """``(centroids, assigned)`` with streaming appends folded in —
    feed to ``knn_ivf``/``knn_ann_union`` exactly like a fresh
    ``ivf_build`` result."""
    import os

    from cosmap_spark.operators.index_store import load_ann_index

    cents, assigned = load_ann_index(spark, index_path)["index"]
    appends_dir = f"{index_path}/ivf_appends"
    if os.path.exists(appends_dir):
        appends = spark.read.parquet(appends_dir).select(
            "nid", "nvec", "cid"
        )
        assigned = assigned.select("nid", "nvec", "cid").unionByName(appends)
    return cents, assigned


def load_appended_coded(spark: SparkSession, index_path: str):
    """The PQ-coded corpus with streaming ``pq_coded_appends`` folded
    in — pass as ``knn_ivfpq(coded=...)`` alongside
    :func:`load_appended_index`'s result (and the manifest's
    ``residual`` flag).  ``None`` when the index has no coded
    component."""
    import os

    from cosmap_spark.operators.index_store import load_ann_index

    coded = load_ann_index(spark, index_path).get("coded")
    if coded is None:
        return None
    appends_dir = f"{index_path}/pq_coded_appends"
    if os.path.exists(appends_dir):
        coded = coded.select("nid", "codes", "cid").unionByName(
            spark.read.parquet(appends_dir).select("nid", "codes", "cid")
        )
    return coded


def lex_ingest_stream(doc_stream: DataFrame, index_path: str,
                      checkpoint: str, *, id_col: str = "doc_id",
                      text_col: str = "text"):
    """Online lexical-index maintenance — the BM25 twin of
    :func:`vector_ingest_stream`: each micro-batch tokenizes ONLY its
    own documents (``retrieval.build_lex_index`` over the batch —
    history never re-tokenizes) and lands its (doc, term, tf) and
    doc-length rows as epoch-keyed parquet sub-directories, so a
    replayed epoch overwrites itself (exactly-once per epoch) and
    readers reconstruct the index as base ∪ appends
    (:func:`load_appended_lex`).

    APPEND-ONLY contract on disk, like the vector twin: resubmitted
    doc ids land as a NEW epoch without touching history, and
    :func:`load_appended_lex` resolves them LAST-WRITER-WINS at read
    time (the batch path ``index_store.lex_append`` instead publishes
    one segment per batch); periodic compaction = ``save_lex_index`` over the
    folded index, which also restores the term-sorted pruning layout
    appends lack."""
    from cosmap_spark.operators.retrieval import build_lex_index

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        tf, _ = build_lex_index(
            batch_df, id_col=id_col, text_col=text_col
        )
        tf_dir = f"{index_path}/lex_tf_appends/epoch={epoch_id}"
        tf.write.mode("overwrite").parquet(tf_dir)
        # lengths from the WRITTEN tf, not the batch lineage: the
        # second write would otherwise re-tokenize the batch files
        batch_df.sparkSession.read.parquet(tf_dir).groupBy("__d").agg(
            F.sum("tf").alias("dl")
        ).write.mode("overwrite").parquet(
            f"{index_path}/lex_lens_appends/epoch={epoch_id}"
        )

    return (
        doc_stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def load_appended_lex(spark: SparkSession, index_path: str) -> dict:
    """The ``prebuilt`` dict ``retrieval.bm25_search`` serves from,
    with streaming appends folded in (base index optional — a stream
    may start from nothing).  Corpus stats are RECOMPUTED from the
    folded lens table (one doc-count-sized aggregation): the
    manifest's stats are stale the moment appends exist.

    A doc id appearing in SEVERAL epochs (a resubmission under the
    append-only ingest) is resolved LAST-WRITER-WINS at read time:
    the highest epoch's rows serve, earlier versions are filtered out
    (base counts as epoch −1).  A naive union would instead join each
    tf row of the doc against EVERY lens version — multiplying its
    BM25 terms and double-counting it in n_docs.  The winner filter
    is one doc-count-sized aggregation + a semi-join on (__d, epoch);
    on-disk state stays append-only (compaction = ``save_lex_index``
    over this fold)."""
    import os

    from cosmap_spark.operators.index_store import load_lex_index
    from cosmap_spark.sinks.commit import ManifestStore

    parts_tf, parts_lens = [], []
    if ManifestStore(index_path).exists():
        base = load_lex_index(spark, index_path)
        parts_tf.append(
            base["tf"].select("__d", "term", "tf")
            .withColumn("__ep", F.lit(-1).cast("long"))
        )
        parts_lens.append(
            base["lens"].select("__d", "dl")
            .withColumn("__ep", F.lit(-1).cast("long"))
        )
    tf_dir = f"{index_path}/lex_tf_appends"
    if os.path.exists(tf_dir):
        parts_tf.append(
            spark.read.parquet(tf_dir)
            .select("__d", "term", "tf", F.col("epoch").cast("long").alias("__ep"))
        )
        parts_lens.append(
            spark.read.parquet(f"{index_path}/lex_lens_appends")
            .select("__d", "dl", F.col("epoch").cast("long").alias("__ep"))
        )
    if not parts_tf:
        raise ValueError(f"{index_path}: no lexical index or appends")
    tf, lens = parts_tf[0], parts_lens[0]
    for t, l in zip(parts_tf[1:], parts_lens[1:]):
        tf, lens = tf.unionByName(t), lens.unionByName(l)
    winners = lens.groupBy("__d").agg(F.max("__ep").alias("__ep"))
    lens = lens.join(winners, ["__d", "__ep"], "left_semi").select("__d", "dl")
    tf = tf.join(winners, ["__d", "__ep"], "left_semi").select(
        "__d", "term", "tf"
    )
    row = lens.agg(
        F.count("*").alias("n"), F.sum("dl").alias("t")
    ).collect()[0]
    out = {"tf": tf, "lens": lens, "n_docs": int(row["n"] or 0)}
    if out["n_docs"]:
        out["avgdl"] = int(row["t"]) / out["n_docs"]
    return out


def mor_ingest_stream(changes: DataFrame, store_path: str,
                      checkpoint: str, *, seq_col: str | None = None):
    """Streaming CDC into a merge-on-read store — the MOR twin of
    :func:`upsert_stream`: each micro-batch APPENDS one delta epoch
    (``sinks.mor.mor_append`` — O(batch), no base file opened, one
    manifest publish) instead of rewriting the table; reads reconcile
    via ``mor_read`` and ``mor_compact`` folds the log on whatever
    cadence taste dictates.  The change envelope is the store schema plus the
    optional ``__deleted`` tombstone flag and an optional ``seq_col``
    (collapses within-batch duplicate keys to the latest —
    ``latest_per_key``; without it batches must be key-unique, which
    ``mor_append`` validates).

    Exactly-once is DOUBLY held, like the reservoir: the epoch ledger
    (``_epochs`` markers beside the store, each recording the batch's
    content FINGERPRINT — ``upsert_stream``'s discipline, because
    epoch ids alone cannot distinguish a replay from NEW data landing
    under a reused id after a checkpoint rebuild) short-circuits
    replays before any Spark work, and even a marker lost to the
    crash-after-append window is harmless — the re-delivered batch
    appends a SECOND identical delta epoch whose application is a
    no-op under the reconcile algebra (the suffix-idempotence law
    pinned in tests/test_mor.py), so the view can never double-apply.
    A marker hit with a DIFFERENT fingerprint raises instead of
    silently dropping genuine data.  The store must already exist
    (``mor_init`` first — a stream must not invent the base
    snapshot's schema)."""
    import os

    from cosmap_spark.operators.merge import latest_per_key
    from cosmap_spark.sinks.mor import _meta_for, mor_append
    from cosmap_spark.sinks.writers import _require_local

    # the epoch LEDGER here is os-based, unlike the store's own commit
    # protocol — a remote store with a CommitFS still needs its ledger
    # local
    _require_local(store_path, "mor_ingest_stream")
    keys = _meta_for(store_path)["keys"]

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        ledger = os.path.join(store_path, "_epochs")
        marker = os.path.join(ledger, f"epoch-{epoch_id}")
        fp = _batch_fingerprint(batch_df)  # one batch-sized job
        if os.path.exists(marker):
            with open(marker) as f:
                recorded = f.read().strip()
            if recorded == fp:
                return  # replayed epoch: the log already contains it
            raise ValueError(
                f"mor_ingest_stream: epoch {epoch_id} marker exists "
                "but the batch content differs from what was appended "
                "— a rebuilt checkpoint is re-delivering NEW data "
                "under a completed epoch id.  Refusing to silently "
                f"drop it; remove the ledger {ledger!r} together with "
                "the checkpoint to re-apply from a clean slate (extra "
                "re-appends are harmless — suffix idempotence)."
            )
        os.makedirs(ledger, exist_ok=True)
        spark = batch_df.sparkSession
        if seq_col is not None:
            batch = latest_per_key(batch_df, keys, seq_col=seq_col)
            mor_append(spark, store_path, batch, assume_unique=True)
        else:
            mor_append(spark, store_path, batch_df)
        _write_marker_atomic(marker, fp)

    return (
        changes.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _write_marker_atomic(marker: str, content: str) -> None:
    """Write a ledger marker whose CONTENT is compared on replay
    (fingerprint markers) via dot-prefixed temp + ``os.rename``: a
    torn plain write would leave a partial fingerprint that differs
    from the replayed batch, turning a harmless replay window into the
    hard 'marker exists but content differs' stop (round-9 advice).
    Existence-only markers ('ok') don't need this — a torn one still
    exists, which is the only fact checked."""
    import os
    import uuid

    d = os.path.dirname(marker)
    tmp = os.path.join(d, f".{os.path.basename(marker)}.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(content)
    os.rename(tmp, marker)


def _batch_fingerprint(batch_df: DataFrame) -> str:
    """Order-independent content fingerprint of a micro-batch: row
    count + XOR + SUM of per-row xxhash64 over every column.  Two
    hardening details (both bugs a plain xor-of-xxhash64(cols)
    fingerprint has):

    * every column slot contributes (position, isnull flag, value) —
      Spark's hash expressions SKIP null inputs, so ``('a', NULL)``
      and ``(NULL, 'a')`` would otherwise produce the SAME row hash,
      and a bare positional anchor is still ambiguous when a VALUE
      numerically equals the next slot's anchor (INT ``(1, NULL)`` vs
      ``(NULL, 1)`` both hash ``[0, 1, 1]``) — the explicit flag makes
      the token stream's parse deterministic (the merge.py
      snapshot_cdc discipline);
    * the wrap-around SUM component catches even-multiplicity
      differences XOR cancels (``[A, A, C]`` vs ``[B, B, C]``
      xor-collide at equal counts; their sums differ)."""
    anchored = ", ".join(
        f"{i}, cast(`{c}` is null as int), `{c}`"
        for i, c in enumerate(batch_df.columns)
    )
    row = batch_df.select(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({anchored}))").alias("x"),
        # summed as decimal (sum widens to decimal(30,0) — room for
        # ~10^11 rows before overflow) and reduced mod 2^64
        # driver-side, since a LONG sum would ANSI-throw on wrap
        F.sum(F.expr(f"cast(xxhash64({anchored}) as decimal(20, 0))"))
        .alias("s"),
    ).first()
    s = None if row["s"] is None else int(row["s"]) % (1 << 64)
    return f"{row['n']}:{row['x']}:{s}"


def upsert_stream(changes: DataFrame, table_path: str, checkpoint: str,
                  keys: list[str], *, seq_col: str | None = None,
                  delete_col: str | None = None):
    """Streaming CDC apply — the live half of the lakehouse merge
    story: each micro-batch of change rows (updates / inserts /
    tombstone deletes, late duplicates resolved by ``seq_col``) merges
    into the parquet snapshot at ``table_path`` through the frame
    algebra in :func:`cosmap_spark.operators.merge.merge_upsert`, with
    the copy-on-write backup-swap of the batch sinks.

    Exactly-once story under foreachBatch's at-least-once contract:
    with an intact checkpoint only the IN-FLIGHT batch can replay,
    and re-applying that identical batch is a no-op by merge
    semantics (same winners, same tombstones ⇒ same table).  The
    ``<table>.__upsert_epochs`` sibling ledger (sketch_stream's
    discipline, same driver-local-filesystem durability caveat; named
    after the table directory so concurrent streams under one parent
    never share markers) additionally skips the redundant O(table)
    rewrite such a replay would pay — and guards the one genuinely
    dangerous replay: a rebuilt checkpoint re-delivering COMPLETED
    epochs, where re-applying an old batch is NOT idempotent (it can
    resurrect a key a later batch deleted).  Epoch ids alone cannot
    distinguish that replay from NEW data landing under a reused epoch
    id (a rebuilt checkpoint restarts at 0), so each marker records a
    content fingerprint (row count + order-independent XOR and SUM of
    positionally-anchored per-row xxhash64 — anchors because Spark's
    hash skips null slots, the sum because XOR cancels even-repeated
    rows): a marker hit with a MATCHING fingerprint
    skips the redundant rewrite; a MISMATCH raises instead of silently
    dropping genuine data — wipe the ledger (or the checkpoint AND the
    ledger together) to re-apply from a clean slate.  A MISSING table
    invalidates the ledger (it is wiped and the stream bootstraps
    cleanly) — markers can only describe a table that still exists.  Snapshot schema = change schema minus ``seq_col``
    / ``delete_col``, fixed by the first batch.

    At scale: each micro-batch costs one broadcastable anti-join over
    the snapshot plus the rewrite — the rewrite is the copy-on-write
    price of format-free parquet; a real deployment points this at a
    partitioned table and swaps per touched partition
    (``merge_upsert_partitioned``), or at a log-backed table format."""
    import os
    import shutil

    from cosmap_spark.operators.merge import merge_upsert as _merge_plan

    from cosmap_spark.sinks.writers import _require_local

    _require_local(table_path, "upsert_stream")
    drop_cols = [c for c in (seq_col, delete_col) if c is not None]
    # the ledger is a SIBLING named after the table directory itself:
    # two streams under one parent never share markers, and the ledger
    # dies with the table name it describes
    ledger = f"{table_path.rstrip('/')}.__upsert_epochs"

    fingerprint = _batch_fingerprint

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        from cosmap_spark.sinks.writers import _refuse_interrupted_swap

        spark = batch_df.sparkSession
        done_marker = os.path.join(ledger, f"epoch-{epoch_id}")
        # a crash inside a previous epoch's swap leaves the table
        # missing with only the backup: the bootstrap branch below
        # would wipe the ledger and rebuild the table from ONE batch —
        # refuse until the operator restores the backup
        _refuse_interrupted_swap(table_path)
        fp = fingerprint(batch_df)  # one batch-sized job
        if os.path.exists(table_path):
            if os.path.exists(done_marker):
                with open(done_marker) as f:
                    recorded = f.read().strip()
                if recorded == fp:
                    return  # replayed epoch: already merged
                raise ValueError(
                    f"upsert_stream: epoch {epoch_id} marker exists but "
                    "the batch content differs from what was merged — a "
                    "rebuilt checkpoint is re-delivering NEW data under "
                    "a completed epoch id.  Refusing to silently drop "
                    f"it; remove the ledger {ledger!r} together with "
                    "the checkpoint to re-apply from a clean slate."
                )
            existing = spark.read.parquet(table_path)
        else:
            # bootstrap — any surviving ledger is STALE (it can only
            # describe a table that no longer exists, e.g. a wiped-and-
            # rebuilt lineage); honoring it would silently drop every
            # replayed batch and never re-create the table
            if os.path.exists(ledger):
                shutil.rmtree(ledger)
            existing = spark.createDataFrame(
                [], batch_df.drop(*drop_cols).schema
            )
        merged = _merge_plan(existing, batch_df, keys,
                             seq_col=seq_col, delete_col=delete_col)
        if os.path.exists(table_path):
            from cosmap_spark.sinks.writers import _swap_in

            _swap_in(table_path, merged)
        else:
            merged.write.mode("overwrite").parquet(table_path)
        os.makedirs(ledger, exist_ok=True)
        _write_marker_atomic(done_marker, fp)

    return (
        changes.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
