"""Real Structured Streaming runs: file source → windowed aggregations /
stateful dedup → memory sink, with availableNow triggers; plus a
two-phase watermark run demonstrating late-data drop."""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from cosmap_spark.streaming import (
    events_stream,
    session_counts,
    stateful_user_counter,
    tumbling_counts,
    windowed_dedup,
)

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture()
def stream_dir(tmp_path: Path) -> Path:
    d = tmp_path / "landing"
    d.mkdir()
    shutil.copy(SF_EVENTS, d / "part-000.parquet")
    return d


def _run_to_memory(sdf, name: str, tmp_path: Path, output_mode: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_matches_batch(spark, stream_dir, tmp_path):
    sdf = events_stream(spark, str(stream_dir))
    assert sdf.isStreaming
    name = f"tumble_{uuid.uuid4().hex[:8]}"
    _run_to_memory(tumbling_counts(sdf), name, tmp_path, "append")
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # batch twin over the same files.  Append mode emits a window only
    # once the watermark (max ts − 1 h) passes its end, so the final
    # open windows legitimately stay unemitted: require equality on all
    # comfortably-closed windows and containment overall.
    from cosmap_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    want = {(r["w"]["start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert set(got).issubset(set(want))
    assert all(want[k] == v for k, v in got.items())
    import datetime

    closed = {
        k: v for k, v in want.items()
        if k[0] + datetime.timedelta(minutes=10) <= max_ts - datetime.timedelta(hours=2)
    }
    assert set(closed).issubset(set(got)), "closed windows must all be emitted"


def test_session_stream_runs(spark, stream_dir, tmp_path):
    sdf = events_stream(spark, str(stream_dir))
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_to_memory(session_counts(sdf), name, tmp_path, "append")
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert len(rows) > 0
    assert all(r["n_events"] >= 1 for r in rows)
    assert all(r["session_end"] > r["session_start"] for r in rows)


def test_streaming_dedup_drops_replayed_file(spark, tmp_path):
    # same file twice in the landing zone ⇒ every event_id duplicated;
    # dropDuplicatesWithinWatermark must emit each id once
    d = tmp_path / "landing_dup"
    d.mkdir()
    shutil.copy(SF_EVENTS, d / "a.parquet")
    shutil.copy(SF_EVENTS, d / "b.parquet")
    sdf = events_stream(spark, str(d))
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(windowed_dedup(sdf), name, tmp_path, "append")
    out = spark.sql(
        f"SELECT count(*) AS n, count(DISTINCT event_id) AS nd FROM {name}"
    ).collect()[0]
    n_src = spark.read.parquet(SF_EVENTS).count()
    assert out["n"] == out["nd"] == n_src


def test_stateful_counter(spark, stream_dir, tmp_path):
    sdf = events_stream(spark, str(stream_dir))
    name = f"state_{uuid.uuid4().hex[:8]}"
    _run_to_memory(stateful_user_counter(sdf), name, tmp_path, "update")
    got = {
        r["user_id"]: r["n_events"]
        for r in spark.sql(
            f"SELECT user_id, max(n_events) AS n_events FROM {name} GROUP BY user_id"
        ).collect()
    }
    from cosmap_spark.tables import load_table

    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two-trigger run: after the watermark advances past the corpus'
    max ts, a file of much-older (late) rows arrives; the append-mode
    windowed aggregation must not re-emit those old windows."""
    d = tmp_path / "landing_late"
    d.mkdir()
    shutil.copy(SF_EVENTS, d / "onTime.parquet")
    sdf = events_stream(spark, str(d))
    agg = tumbling_counts(sdf, watermark="10 minutes")
    ckpt = str(tmp_path / "ckpt-late")
    out_dir = str(tmp_path / "out-late")  # file sink: supports restart

    def trigger():
        q = (
            agg.writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    trigger()
    n_after_first = spark.read.parquet(out_dir).count()
    assert n_after_first > 0  # watermark advanced; closed windows emitted

    # a late file: same events shifted 30 days into the past.  Written
    # via the unit-normalized loader so the staged file carries
    # TIMESTAMP(MICROS) ts, matching what events_stream probes.
    from cosmap_spark.tables import load_table

    late = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 30 DAYS"))
        .limit(500)
    )
    staging = tmp_path / "late_staging"
    late.coalesce(1).write.mode("overwrite").parquet(str(staging))
    part = next(staging.glob("part-*.parquet"))
    shutil.copy(part, d / "late.parquet")
    trigger()
    emitted = spark.read.parquet(out_dir).agg(
        F.min("window_start").alias("lo")
    ).collect()[0]
    # late windows (30 days earlier) must NOT appear in the output
    min_on_time = load_table(spark, "/root/testdata/sf0.001", "events").agg(
        F.min("ts")
    ).collect()[0][0].replace(minute=0, second=0, microsecond=0)
    assert emitted["lo"] >= min_on_time


def test_stream_static_enrichment(spark, stream_dir, tmp_path):
    from cosmap_spark.streaming import enrich_with_dimension
    from cosmap_spark.tables import load_table

    events = events_stream(spark, str(stream_dir))
    # synthetic user dimension: user_id -> tier
    dim = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id").distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "a").otherwise("b"))
    )
    q = _run_to_memory(
        enrich_with_dimension(events, dim), "enriched", tmp_path, "append"
    )
    out = spark.table("enriched")
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    assert out.count() == batch.count()          # left join keeps all events
    assert out.where(F.col("tier").isNull()).count() == 0
    q.stop()


def test_foreachbatch_incremental_sink(spark, stream_dir, tmp_path):
    from cosmap_spark.streaming import write_incremental
    from cosmap_spark.tables import load_table

    events = events_stream(spark, str(stream_dir))
    out_path = str(tmp_path / "out")
    q = write_incremental(
        events, out_path, str(tmp_path / "ckpt-inc"), partition_by=["event_type"]
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out_path)
    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    assert back.count() == batch.count()
    # second run with the same checkpoint: no new files → no duplicates
    q2 = write_incremental(events, out_path, str(tmp_path / "ckpt-inc"))
    q2.awaitTermination(120)
    assert spark.read.parquet(out_path).count() == batch.count()


def test_streaming_pipeline_composition(spark, stream_dir, tmp_path):
    """The full streaming story end-to-end: landing zone -> stateful
    dedup -> stream-static enrichment -> checkpointed incremental sink;
    then a replayed file (duplicate event_ids) adds ZERO new rows —
    exactly-once across the whole composition."""
    from cosmap_spark.streaming import (
        enrich_with_dimension,
        windowed_dedup,
        write_incremental,
    )
    from cosmap_spark.tables import load_table

    dim = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id").distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "a").otherwise("b"))
    )
    out_path = str(tmp_path / "pipe_out")
    ckpt = str(tmp_path / "pipe_ckpt")

    def run_once():
        events = events_stream(spark, str(stream_dir))
        q = write_incremental(
            enrich_with_dimension(windowed_dedup(events), dim), out_path, ckpt
        )
        q.awaitTermination(120)

    run_once()
    n_batch = load_table(spark, "/root/testdata/sf0.001", "events").count()
    first = spark.read.parquet(out_path)
    assert first.count() == n_batch          # source has unique event_ids
    assert "tier" in first.columns

    # replay: same events under a new file name -> all dups, nothing lands
    shutil.copy(SF_EVENTS, stream_dir / "part-001-replay.parquet")
    run_once()
    assert spark.read.parquet(out_path).count() == n_batch


def _kv_landing(spark, land, ids):
    spark.range(*ids).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    ).coalesce(1).write.mode("append").parquet(str(land))
    return spark.readStream.schema("k long, v long").parquet(str(land))


def test_write_incremental_refuses_new_rows_under_reused_epoch(spark, tmp_path):
    """A rebuilt checkpoint restarts at epoch 0: 3 new rows arriving
    through a fresh checkpoint must not replace the 5 rows epoch 0
    first wrote (the sink used to overwrite ``epoch=0`` with them)."""
    from cosmap_spark.streaming import write_incremental

    out = str(tmp_path / "out")
    write_incremental(_kv_landing(spark, tmp_path / "land1", (0, 5)), out,
                      str(tmp_path / "ck1")).awaitTermination(120)
    q = write_incremental(_kv_landing(spark, tmp_path / "land2", (5, 8)), out,
                          str(tmp_path / "ck2"))
    with pytest.raises(Exception, match="content differs"):
        q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert sorted(r["k"] for r in back.collect()) == [0, 1, 2, 3, 4]


def test_write_incremental_csv_header_per_file(spark, tmp_path):
    """CSV epochs go through the sinks' one format switch, so every
    part file starts with a header, as in ``write_output``."""
    import glob

    from cosmap_spark.streaming import write_incremental

    out = str(tmp_path / "out")
    write_incremental(_kv_landing(spark, tmp_path / "land", (0, 6)), out,
                      str(tmp_path / "ck"), fmt="csv").awaitTermination(120)
    parts = glob.glob(f"{out}/epoch=*/part-*.csv")
    assert parts
    for part in parts:
        with open(part) as f:
            assert f.readline().strip() == "k,v", part
    back = spark.read.option("header", True).csv(out)
    assert sorted(int(r["k"]) for r in back.collect()) == list(range(6))


def test_write_incremental_refuses_at_call_time(spark, tmp_path):
    """An unknown format and a non-local path are refused before the
    query starts, not inside its first micro-batch."""
    from cosmap_spark.streaming import write_incremental

    stream = _kv_landing(spark, tmp_path / "land", (0, 3))
    with pytest.raises(ValueError, match="unsupported sink format 'xml'"):
        write_incremental(stream, str(tmp_path / "out"), str(tmp_path / "ck"),
                          fmt="xml")
    with pytest.raises(ValueError, match="local-filesystem renames"):
        write_incremental(stream, "s3a://bucket/out", str(tmp_path / "ck"))
    assert not (tmp_path / "ck").exists()


def test_sliding_stream_matches_batch(spark, stream_dir, tmp_path):
    from cosmap_spark.streaming import sliding_counts
    from cosmap_spark.tables import load_table

    events = events_stream(spark, str(stream_dir))
    q = _run_to_memory(
        sliding_counts(events), "sliding_out", tmp_path, "append"
    )
    stream_rows = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.table("sliding_out").collect()
    }
    batch = sliding_counts(
        load_table(spark, "/root/testdata/sf0.001", "events")
    )
    batch_rows = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in batch.collect()
    }
    # append mode emits only watermark-closed windows: subset w/ equal counts
    assert stream_rows
    for k, v in stream_rows.items():
        assert batch_rows[k] == v
    q.stop()


def test_stream_stream_join_matches_batch(spark, stream_dir, tmp_path):
    """Watermarked stream-stream join vs the identical batch join: the
    streaming result must be a subset (watermark may hold back the
    tail) and agree exactly on every emitted row."""
    from cosmap_spark.streaming import stream_stream_join

    sdf = events_stream(spark, str(stream_dir))
    clicks = sdf.where(F.col("event_type") == "click")
    purchases = sdf.where(F.col("event_type") == "purchase")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_stream_join(clicks, purchases), name, tmp_path, "append"
    )
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    from cosmap_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got, "stream-stream join emitted nothing"
    assert got.issubset(want)
    # everything whose purchase time is comfortably behind the final
    # watermark must have been emitted
    import datetime

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - datetime.timedelta(hours=3)
    p_ts = {r["event_id"]: r["ts"] for r in ev.where(F.col("event_type") == "purchase").collect()}
    closed = {pair for pair in want if p_ts[pair[0]] <= cutoff}
    assert closed.issubset(got)


def test_streaming_decontam_matches_batch(spark, tmp_path):
    """Stream/batch equivalence for the decontamination gate: documents
    arriving file-by-file produce exactly the flagged set the batch
    operator computes over the whole corpus."""
    from cosmap_spark.operators.dedup import contamination_hits
    from cosmap_spark.streaming.ops import decontaminate_stream
    from cosmap_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    bench = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)

    land = tmp_path / "doc_landing"
    corpus.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    corpus.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(land), mode="append"
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = decontaminate_stream(
        stream, bench, str(tmp_path / "flags"), str(tmp_path / "flag_ckpt")
    )
    q.awaitTermination(180)

    got = {
        (r["doc_id"], r["n_shingles"], r["n_bench"])
        for r in spark.read.parquet(str(tmp_path / "flags")).drop("epoch").collect()
    }
    want = {
        (r["doc_id"], r["n_shingles"], r["n_bench"])
        for r in contamination_hits(corpus, bench, k=8).collect()
    }
    assert got == want and len(want) > 0


def _protobuf_works() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_works(),
    reason="transformWithState's Python runner needs google.protobuf, "
    "broken in this environment (see stateful_user_counter_tws docstring)",
)
def test_stateful_counter_tws(spark, stream_dir, tmp_path):
    """The transformWithStateInPandas twin must produce the same final
    per-user counts as the batch aggregation (and as the
    applyInPandasWithState version)."""
    from cosmap_spark.streaming.ops import stateful_user_counter_tws
    from cosmap_spark.tables import load_table

    sdf = events_stream(spark, str(stream_dir))
    name = f"tws_{uuid.uuid4().hex[:8]}"
    # transformWithState requires the RocksDB state store
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        _run_to_memory(stateful_user_counter_tws(sdf), name, tmp_path, "update")
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)
    got = {
        r["user_id"]: r["n_events"]
        for r in spark.sql(
            f"SELECT user_id, max(n_events) AS n_events FROM {name} GROUP BY user_id"
        ).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_events_stream_starts_on_empty_landing_dir(spark, tmp_path):
    """The landing-zone pattern starts the stream BEFORE the first file
    arrives; the ts-unit probe must fall back, not fail startup."""
    d = tmp_path / "empty_landing"
    d.mkdir()
    sdf = events_stream(spark, str(d))
    assert sdf.isStreaming
    assert dict(sdf.dtypes)["ts"] == "timestamp"


def test_dedup_stream_matches_batch_incremental(spark, tmp_path):
    """Streaming landing-zone dedup: two arriving document files
    processed through dedup_stream must flag exactly the pairs the
    batch incremental_minhash_dedup finds on the same two batches
    against a fresh store."""
    from cosmap_spark.operators.dedup import incremental_minhash_dedup
    from cosmap_spark.streaming.ops import dedup_stream

    def docs(ids, texts):
        return spark.createDataFrame(
            list(zip(ids, texts)), "doc_id long, text string"
        )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    b1 = docs([1, 2], [base, "totally different words here now one two"])
    b2 = docs([3, 4], [base + " iota", "unrelated content again four five six"])

    # batch reference on a fresh store
    ref_store = str(tmp_path / "ref_store")
    ref = set()
    for b in (b1, b2):
        for r in incremental_minhash_dedup(spark, b, ref_store).collect():
            ref.add((r["id_a"], r["id_b"]))
    assert (1, 3) in ref  # the planted near-dup across batches

    # streaming: the same two batches as arriving files, one per trigger
    land = tmp_path / "land"
    land.mkdir()
    store = str(tmp_path / "stream_store")
    out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    b1.coalesce(1).write.mode("overwrite").parquet(str(land / "f1"))
    q = dedup_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*")),
        store, out, ckpt,
    )
    q.awaitTermination(120)
    b2.coalesce(1).write.mode("overwrite").parquet(str(land / "f2"))
    q = dedup_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*")),
        store, out, ckpt,
    )
    q.awaitTermination(120)

    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out).select("id_a", "id_b").collect()
    }
    assert got == ref


def test_knn_serve_stream_matches_batch(spark, tmp_path):
    """Stream/batch equivalence for the ANN serve path: query vectors
    arriving file-by-file against a prebuilt LSH index produce exactly
    the top-k sets the batch knn_lsh computes over the whole query set
    with the same index."""
    from cosmap_spark.operators.knn import knn_lsh, lsh_build
    from cosmap_spark.streaming.ops import knn_serve_stream
    from cosmap_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.where(F.col("vec_id") >= 20)
    queries = emb.where(F.col("vec_id") < 20)
    index = lsh_build(corpus).localCheckpoint()  # the persisted index

    land = tmp_path / "query_landing"
    queries.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    queries.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        str(land), mode="append"
    )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = knn_serve_stream(
        stream, index, str(tmp_path / "topk"), str(tmp_path / "topk_ckpt")
    )
    q.awaitTermination(180)

    got = {
        (r["qid"], r["nid"], r["sim"], r["rn"])
        for r in spark.read.parquet(str(tmp_path / "topk"))
        .drop("epoch").collect()
    }
    want = {
        (r["qid"], r["nid"], r["sim"], r["rn"])
        for r in knn_lsh(corpus, queries, prebuilt_buckets=index).collect()
    }
    assert got == want and len(want) > 0


def test_sketch_stream_matches_batch(spark, tmp_path):
    """Streaming HLL store maintenance: per-key estimates after two
    micro-batches sit within sketch accuracy of the true distinct
    counts (merge order may shift the sketch between coupon-exact and
    dense-register mode, so bit-equality with a one-shot batch sketch
    is NOT the contract), and replays leave the store untouched."""
    from cosmap_spark.streaming.ops import sketch_stream

    land = tmp_path / "ev_landing"
    rows = spark.range(20_000).select(
        (F.col("id") % 4).alias("grp"), (F.col("id") % 3_000).alias("uid")
    )
    rows.where(F.col("uid") % 2 == 0).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    rows.where(F.col("uid") % 2 == 1).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    stream = (
        spark.readStream.schema("grp long, uid long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    store = tmp_path / "hll_store"
    q = sketch_stream(
        stream, str(store), str(tmp_path / "hll_ckpt"),
        keys=["grp"], col="uid",
    )
    q.awaitTermination(180)

    got = {
        r["grp"]: r["ndv"]
        for r in spark.read.parquet(str(store / "sketches"))
        .select("grp", F.hll_sketch_estimate("__sk").alias("ndv"))
        .collect()
    }
    exact = {
        r["grp"]: r["n"]
        for r in rows.groupBy("grp")
        .agg(F.countDistinct("uid").alias("n")).collect()
    }
    assert len(got) == 4
    for g, n in exact.items():
        assert got[g] == pytest.approx(n, rel=0.03), g
    # epoch ledger makes replays no-ops: re-running the same batch
    # directly through the store must not change the estimates
    import cosmap_spark.streaming.ops as ops
    q2 = sketch_stream(
        (spark.readStream.schema("grp long, uid long")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        str(store), str(tmp_path / "hll_ckpt2"), keys=["grp"], col="uid",
    )
    q2.awaitTermination(180)
    got2 = {
        r["grp"]: r["ndv"]
        for r in spark.read.parquet(str(store / "sketches"))
        .select("grp", F.hll_sketch_estimate("__sk").alias("ndv"))
        .collect()
    }
    assert got2 == got


def test_vector_ingest_stream_matches_batch_index(spark, tmp_path):
    """Online IVF maintenance: after streaming two files of new
    vectors into a persisted index, serving from the appended index
    equals serving from a batch index built with ivf_append over the
    same rows (frozen centroids, identical assignments)."""
    from cosmap_spark.operators.index_store import (
        ivf_append,
        save_ann_index,
    )
    from cosmap_spark.operators.knn import ivf_build, knn_ivf
    from cosmap_spark.streaming.ops import (
        load_appended_index,
        vector_ingest_stream,
    )
    from cosmap_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    old = emb.where(F.col("vec_id") % 4 != 0)
    new = emb.where(F.col("vec_id") % 4 == 0)
    cents, assigned = ivf_build(old, nlist=8, iters=1)
    p = str(tmp_path / "vindex")
    save_ann_index(p, index=(cents, assigned.localCheckpoint(eager=True)))

    land = tmp_path / "vec_landing"
    new.where(F.col("vec_id") % 8 == 0).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    new.where(F.col("vec_id") % 8 == 4).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    q = vector_ingest_stream(
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1).parquet(str(land)),
        p, str(tmp_path / "vckpt"),
    )
    q.awaitTermination(180)

    cents2, appended = load_appended_index(spark, p)
    # loader orders centroids by cid; identity is the cid→vector map
    assert dict(cents2) == {c: list(map(float, v)) for c, v in cents}
    _, want_assigned = ivf_append((cents, assigned), new)
    want = {(r["nid"], r["cid"]) for r in want_assigned.collect()}
    got = {(r["nid"], r["cid"]) for r in appended.collect()}
    assert got == want

    queries = emb.where(F.col("vec_id") < 5)
    serve_stream = knn_ivf(
        emb, queries, k=5, nlist=8, nprobe=4, prebuilt=(cents2, appended)
    ).collect()
    serve_batch = knn_ivf(
        emb, queries, k=5, nlist=8, nprobe=4,
        prebuilt=ivf_append((cents, assigned), new),
    ).collect()
    key = lambda r: (r["qid"], r["rn"])  # noqa: E731
    assert sorted(map(tuple, serve_stream)) == sorted(map(tuple, serve_batch))


def test_vector_ingest_maintains_pq_coded(spark, tmp_path):
    """When the persisted index carries PQ artifacts, the ingest
    stream must ALSO encode each batch with the frozen codebooks
    (residual layout honored from the manifest): the folded coded
    table equals batch pq_append over the same rows, and ivfpq serve
    from the streamed index equals the batch-appended one."""
    from cosmap_spark.operators.index_store import (
        pq_append,
        save_ann_index,
    )
    from cosmap_spark.operators.knn import ivf_build
    from cosmap_spark.operators.pq import (
        ivf_residuals,
        knn_ivfpq,
        pq_encode,
        pq_train,
    )
    from cosmap_spark.streaming.ops import (
        load_appended_coded,
        load_appended_index,
        vector_ingest_stream,
    )
    from cosmap_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    old = emb.where(F.col("vec_id") % 4 != 0)
    new = emb.where(F.col("vec_id") % 4 == 0)
    cents, assigned = ivf_build(old, nlist=8, iters=1)
    assigned = assigned.localCheckpoint(eager=True)
    res = ivf_residuals(assigned, cents)
    books = pq_train(res, m=8, ksub=16, iters=1, id_col="nid", vec_col="rvec")
    coded = pq_encode(
        res, books, id_col="nid", vec_col="rvec", keep=["cid"]
    ).localCheckpoint(eager=True)
    p = str(tmp_path / "pq_vindex")
    save_ann_index(
        p, index=(cents, assigned), codebooks=books, coded=coded,
        residual=True,
    )

    land = tmp_path / "pq_vec_landing"
    new.where(F.col("vec_id") % 8 == 0).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    new.where(F.col("vec_id") % 8 == 4).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    q = vector_ingest_stream(
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1).parquet(str(land)),
        p, str(tmp_path / "pq_vckpt"),
    )
    q.awaitTermination(180)

    idx2, coded2 = pq_append(
        (cents, assigned), books, coded, new, residual=True
    )
    got = sorted(
        (r["nid"], r["cid"], tuple(r["codes"]))
        for r in load_appended_coded(spark, p).collect()
    )
    want = sorted(
        (r["nid"], r["cid"], tuple(r["codes"])) for r in coded2.collect()
    )
    assert got == want and len(got) == emb.count()

    queries = emb.where(F.col("vec_id") < 5)
    streamed_idx = load_appended_index(spark, p)
    a = sorted(map(tuple, knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=4, m=8, ksub=16,
        prebuilt=streamed_idx, codebooks=books,
        coded=load_appended_coded(spark, p), residual=True,
    ).collect()))
    b = sorted(map(tuple, knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=4, m=8, ksub=16,
        prebuilt=idx2, codebooks=books, coded=coded2, residual=True,
    ).collect()))
    assert a == b


def test_funnel_stream_matches_batch_sliding(spark, stream_dir, tmp_path):
    """One availableNow pass over the real events must emit exactly the
    batch funnel_sliding result (same steps/horizon) for every user."""
    from cosmap_spark.operators.funnel import funnel_sliding
    from cosmap_spark.streaming.ops import funnel_stream
    from cosmap_spark.tables import load_table

    steps = ["view", "click", "purchase"]
    sdf = events_stream(spark, str(stream_dir))
    _run_to_memory(
        funnel_stream(sdf, steps, horizon="2 days"),
        "funnel_stream_t", tmp_path, "update",
    )
    got = {
        r["user_id"]: (r["anchor_ts"], r["steps_completed"], r["converted"])
        for r in spark.table("funnel_stream_t").collect()
    }
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    want = {
        r["user_id"]: (r["anchor_ts"], r["steps_completed"], r["converted"])
        for r in funnel_sliding(ev, steps, horizon="2 days").collect()
    }
    assert got == want


class FakeState:
    """Minimal GroupState stand-in for driving the update closure
    directly (state carry, TTL eviction)."""

    def __init__(self):
        self.exists, self._v = False, None
        self.hasTimedOut = False
        self.removed = False
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.exists, self._v = True, v

    def remove(self):
        self.exists, self._v, self.removed = False, None, True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _captured_update(funnel_stream, steps, **kw):
    """Build funnel_stream against a fake events frame and return the
    captured applyInPandasWithState update closure.  The fake absorbs
    the operator's JVM-side pre-projection (where/select), so the
    closure is fed kernel-shaped (__lvl, ts) frames by the tests."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )

    captured = {}

    class Capture:
        schema = StructType([
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts", TimestampType()),
        ])

        def where(self, *a, **k):
            return self

        def select(self, *a, **k):
            return self

        def groupBy(self, *cols):
            return self

        def applyInPandasWithState(self, fn, **k):
            captured["fn"] = fn
            return None

    funnel_stream(Capture(), steps, **kw)
    return captured["fn"]


def test_funnel_stream_state_carries_across_batches():
    """The O(steps) state must resume mid-funnel: feed the update
    function two ts-ordered chunks through a fake state handle and
    check the second emission completes the funnel started in the
    first (incl. the same-timestamp strictness at the batch seam)."""
    import datetime as dt

    import pandas as pd

    from cosmap_spark.streaming.ops import funnel_stream

    update = _captured_update(funnel_stream, ["A", "B", "C"], horizon="1 hour")
    t0 = dt.datetime(2024, 1, 1)

    def pdf(rows):
        # the operator pre-projects steps to a matched-level column
        # JVM-side; the kernel sees (__lvl, ts) rows
        return pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "ts": [t0 + dt.timedelta(minutes=r[1]) for r in rows],
                "__lvl": ["ABC".index(r[0]) + 1 for r in rows],
            }
        )

    st = FakeState()
    out1 = list(update((7,), iter([pdf([("A", 0), ("B", 5)])]), st))
    assert len(out1) == 1 and out1[0]["steps_completed"][0] == 2
    # batch 2: C at the SAME ts as B from batch 1 must NOT chain
    # (strict >), a later C must
    out2 = list(update((7,), iter([pdf([("C", 5)])]), st))
    assert out2[0]["steps_completed"][0] == 2
    out3 = list(update((7,), iter([pdf([("C", 20)])]), st))
    assert out3[0]["steps_completed"][0] == 3
    assert bool(out3[0]["converted"][0])
    # horizon: a fresh user whose C falls outside 1 hour of its anchor
    st2 = FakeState()
    out4 = list(update((8,), iter([pdf([("A", 0), ("B", 10), ("C", 90)])]), st2))
    assert out4[0]["steps_completed"][0] == 2


def test_funnel_stream_property_random_streams_and_splits():
    """Hypothesis: for ANY ts-ordered event stream split at ANY batch
    boundaries, the final funnel_stream emission equals the exhaustive
    sliding-anchor reference on the whole stream — the cross-batch
    strict/cur promotion and same-ts seam handling get hundreds of
    adversarial cases (heavy timestamp ties by construction)."""
    import datetime as dt

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cosmap_spark.streaming.ops import funnel_stream

    T0 = dt.datetime(2024, 1, 1)

    def reference(rows, steps, horizon_min):
        best_level, best_anchor = 0, None
        tss = [(T0 + dt.timedelta(minutes=m), s) for s, m in rows]
        tss.sort(key=lambda x: x[0])
        anchors = [t for t, s in tss if s == steps[0]]
        for anchor in anchors:
            level, prev = 1, anchor
            for s in steps[1:]:
                cand = [
                    t for t, e in tss
                    if e == s and t > prev and (
                        horizon_min is None
                        or t <= anchor + dt.timedelta(minutes=horizon_min)
                    )
                ]
                if not cand:
                    break
                prev = min(cand)
                level += 1
            if level > best_level or (
                level == best_level and anchor > best_anchor
            ):
                best_level, best_anchor = level, anchor
        return (best_level, best_anchor) if best_level else None

    @given(
        rows=st.lists(
            st.tuples(st.sampled_from("ABC"), st.integers(0, 12)),
            max_size=16,
        ),
        n_cuts=st.integers(0, 3),
        horizon_min=st.sampled_from([None, 5]),
        data=st.data(),
    )
    @settings(max_examples=300, deadline=None)
    def check(rows, n_cuts, horizon_min, data):
        steps = ["A", "B", "C"]
        horizon = f"{horizon_min} minutes" if horizon_min else None
        update = _captured_update(funnel_stream, steps, horizon=horizon)
        ordered = sorted(rows, key=lambda r: r[1])
        cuts = sorted(
            data.draw(st.lists(st.integers(0, len(ordered)),
                               min_size=n_cuts, max_size=n_cuts))
        )
        batches, prev = [], 0
        for c in cuts + [len(ordered)]:
            batches.append(ordered[prev:c])
            prev = c
        st_ = FakeState()
        last = None
        for b in batches:
            if not b:
                continue
            pdf = pd.DataFrame({
                "user_id": [1] * len(b),
                "ts": [T0 + dt.timedelta(minutes=m) for _, m in b],
                "__lvl": ["ABC".index(s) + 1 for s, _ in b],
            })
            out = list(update((1,), iter([pdf]), st_))
            if out:
                last = out[0]
        want = reference(rows, steps, horizon_min)
        if want is None:
            assert last is None
        else:
            assert last is not None
            assert int(last["steps_completed"][0]) == want[0]
            got_anchor = pd.Timestamp(last["anchor_ts"][0]).to_pydatetime()
            assert got_anchor == want[1]

    check()


def test_funnel_stream_repeated_step_types_match_batch(spark, stream_dir, tmp_path):
    """view→click→view: a type at several levels must work in the
    stream exactly as in funnel_sliding (a plain type→rank dict would
    silently keep only the LAST level for 'view')."""
    from cosmap_spark.operators.funnel import funnel_sliding
    from cosmap_spark.streaming.ops import funnel_stream
    from cosmap_spark.tables import load_table

    steps = ["view", "click", "view"]
    sdf = events_stream(spark, str(stream_dir))
    _run_to_memory(
        funnel_stream(sdf, steps), "funnel_stream_rep", tmp_path, "update",
    )
    got = {
        r["user_id"]: (r["steps_completed"], r["converted"])
        for r in spark.table("funnel_stream_rep").collect()
    }
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    want = {
        r["user_id"]: (r["steps_completed"], r["converted"])
        for r in funnel_sliding(ev, steps).collect()
    }
    assert got == want
    assert any(v[1] for v in want.values()), "fixture must convert someone"


def test_funnel_stream_predicate_steps_match_batch(spark, stream_dir, tmp_path):
    """windowFunnel cond1..condN on the LIVE path: Column predicates and
    a repeated type, stream ≡ batch funnel_sliding on the same steps —
    the round-4 stream/batch surface asymmetry, closed (predicates are
    pre-projected to matched levels JVM-side, stateless, so they ride
    ahead of the stateful kernel)."""
    from cosmap_spark.operators.funnel import funnel_sliding
    from cosmap_spark.streaming.ops import funnel_stream
    from cosmap_spark.tables import load_table

    steps = [
        "view",
        (F.col("event_type") == "click") & (F.col("value") >= 0),
        F.col("event_type").isin("view", "purchase"),
    ]
    sdf = events_stream(spark, str(stream_dir))
    _run_to_memory(
        funnel_stream(sdf, steps, horizon="2 days"),
        "funnel_stream_pred", tmp_path, "update",
    )
    got = {
        r["user_id"]: (r["anchor_ts"], r["steps_completed"], r["converted"])
        for r in spark.table("funnel_stream_pred").collect()
    }
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    want = {
        r["user_id"]: (r["anchor_ts"], r["steps_completed"], r["converted"])
        for r in funnel_sliding(ev, steps, horizon="2 days").collect()
    }
    assert got == want
    assert any(v[2] for v in want.values()), "fixture must convert someone"


def test_funnel_stream_state_ttl_eviction():
    """state_ttl arms a processing-time timeout: the kernel must arm
    the duration after every update, evict (state.remove) on
    hasTimedOut without emitting, and let the user restart from
    scratch afterwards.  Without state_ttl no duration is ever armed
    (state is honestly permanent — the round-4 advice: the API must
    not imply eviction it doesn't perform)."""
    import datetime as dt

    import pandas as pd

    from cosmap_spark.streaming.ops import funnel_stream

    t0 = dt.datetime(2024, 1, 1)

    def pdf(rows):
        return pd.DataFrame(
            {
                "user_id": [3] * len(rows),
                "ts": [t0 + dt.timedelta(minutes=m) for _, m in rows],
                "__lvl": [lv for lv, _ in rows],
            }
        )

    update = _captured_update(
        funnel_stream, ["A", "B"], state_ttl="30 minutes"
    )
    st = FakeState()
    out = list(update((3,), iter([pdf([(1, 0)])]), st))
    assert len(out) == 1 and st.timeout_ms == 30 * 60 * 1000
    # timeout fires: state dropped, nothing emitted
    st.hasTimedOut = True
    assert list(update((3,), iter([]), st)) == []
    assert st.removed and not st.exists
    # the user's next event starts a fresh funnel (level 2 alone: no row)
    st.hasTimedOut = False
    assert list(update((3,), iter([pdf([(2, 40)])]), st)) == []
    out2 = list(update((3,), iter([pdf([(1, 50), (2, 55)])]), st))
    assert out2[0]["steps_completed"][0] == 2
    # no TTL → no duration armed, ever
    update2 = _captured_update(funnel_stream, ["A", "B"])
    st2 = FakeState()
    list(update2((3,), iter([pdf([(1, 0)])]), st2))
    assert st2.timeout_ms is None


def test_upsert_stream_applies_cdc_batches(spark, tmp_path):
    """Streaming CDC apply: two change batches arriving as files merge
    into the parquet snapshot exactly like the batch algebra applied
    sequentially — update/insert/delete/late-duplicate all honored,
    and a restarted (replayed) run leaves the table unchanged."""
    from cosmap_spark.operators.merge import merge_upsert
    from cosmap_spark.streaming.ops import upsert_stream

    schema = "id long, v string, seq long, deleted boolean"

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    b1 = batch([(1, "a", 1, False), (2, "b", 1, False), (3, "c", 1, False)])
    b2 = batch([
        (2, "b2", 2, False),      # update
        (3, None, 2, True),       # delete
        (4, "d", 2, False),       # insert
        (4, "late", 1, False),    # stale duplicate: seq 1 loses
    ])

    # batch reference: sequential algebra application
    t0 = b1.select("id", "v")
    ref = merge_upsert(t0, b2, ["id"], seq_col="seq", delete_col="deleted")
    ref_rows = sorted((r["id"], r["v"]) for r in ref.collect())
    assert ref_rows == [(1, "a"), (2, "b2"), (4, "d")]

    land = tmp_path / "cdc_land"
    land.mkdir()
    table = str(tmp_path / "snap" / "table")
    ckpt = str(tmp_path / "cdc_ckpt")

    def run_stream():
        q = upsert_stream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(str(land / "*")),
            table, ckpt, ["id"], seq_col="seq", delete_col="deleted",
        )
        q.awaitTermination(120)

    b1.coalesce(1).write.mode("overwrite").parquet(str(land / "f1"))
    run_stream()
    assert sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(table).collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]

    b2.coalesce(1).write.mode("overwrite").parquet(str(land / "f2"))
    run_stream()
    got = sorted((r["id"], r["v"]) for r in spark.read.parquet(table).collect())
    assert got == ref_rows
    assert spark.read.parquet(table).columns == ["id", "v"]  # envelope stripped

    # replay protection: wipe the checkpoint so the source re-delivers
    # everything; the epoch ledger must keep the table untouched
    import shutil

    shutil.rmtree(ckpt)
    run_stream()
    again = sorted((r["id"], r["v"]) for r in spark.read.parquet(table).collect())
    assert again == ref_rows


def test_upsert_stream_ledgers_do_not_collide(spark, tmp_path):
    """Two streams targeting sibling tables under one parent must not
    share epoch markers (the ledger is named after the table), and a
    wiped-and-rebuilt table must not be starved by its own stale
    ledger."""
    from cosmap_spark.streaming.ops import upsert_stream

    schema = "id long, v string"
    land_a = tmp_path / "la"
    land_b = tmp_path / "lb"
    land_a.mkdir(); land_b.mkdir()
    parent = tmp_path / "tables"
    ta, tb = str(parent / "a"), str(parent / "b")

    def feed(land, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(land / f"f{len(rows)}"))

    def run(land, table, ckpt):
        upsert_stream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(str(land / "*")),
            table, str(tmp_path / ckpt), ["id"],
        ).awaitTermination(120)

    feed(land_a, [(1, "a1")])
    run(land_a, ta, "ck_a")
    # stream B starts at epoch 0 too — with a shared parent-scoped
    # ledger its first batch would be silently dropped
    feed(land_b, [(1, "b1"), (2, "b2")])
    run(land_b, tb, "ck_b")
    assert spark.read.parquet(tb).count() == 2
    assert {r["v"] for r in spark.read.parquet(ta).collect()} == {"a1"}

    # rebuild: wipe table B + its checkpoint; the stale ledger must be
    # invalidated so the table is re-created from the replayed feed
    import shutil

    shutil.rmtree(tb)
    shutil.rmtree(str(tmp_path / "ck_b"))
    run(land_b, tb, "ck_b")
    assert spark.read.parquet(tb).count() == 2


def test_upsert_stream_rejects_content_mismatch_replay(spark, tmp_path):
    """A rebuilt checkpoint delivering NEW content under a completed
    epoch id must raise, not silently skip (markers fingerprint batch
    content — round-6 guard): wipe the checkpoint and replace the
    landing file so epoch 0 re-fires with different rows."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from cosmap_spark.streaming.ops import upsert_stream

    schema = "id long, v string"
    land = tmp_path / "land"
    land.mkdir()
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")

    def run():
        upsert_stream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(str(land / "*")),
            table, ckpt, ["id"],
        ).awaitTermination(120)

    spark.createDataFrame([(1, "a")], schema).coalesce(1).write.parquet(
        str(land / "f1")
    )
    run()
    assert spark.read.parquet(table).count() == 1

    # rebuild the checkpoint with DIFFERENT epoch-0 content: the f1
    # batch is gone, a new file takes its slot
    shutil.rmtree(ckpt)
    shutil.rmtree(str(land / "f1"))
    spark.createDataFrame([(2, "b"), (3, "c")], schema).coalesce(1).write.parquet(
        str(land / "f2")
    )
    with pytest.raises(StreamingQueryException, match="content differs"):
        run()
    # the table was not silently left stale-but-"complete": it still
    # holds exactly the merged epoch-0 data, nothing was dropped quietly
    assert spark.read.parquet(table).count() == 1


def test_lex_ingest_stream_matches_batch_rebuild(spark, tmp_path):
    """Online lexical maintenance: after streaming two files of new
    documents into a persisted lexical index, BM25 serving from the
    folded (base ∪ appends) index is row-identical to a from-scratch
    search over the merged corpus; stats recompute over the folded
    lens (the manifest's are stale once appends exist)."""
    from cosmap_spark.operators.index_store import save_lex_index
    from cosmap_spark.operators.retrieval import bm25_search, build_lex_index
    from cosmap_spark.streaming.ops import (
        lex_ingest_stream,
        load_appended_lex,
    )

    base_rows = [(i, f"alpha tok{i} beta") for i in range(20)]
    new_rows = [(100 + i, f"gamma tok{100 + i} alpha") for i in range(10)]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    p = str(tmp_path / "lexidx")
    save_lex_index(p, *build_lex_index(base))

    land = tmp_path / "doc_landing"
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    new.where(F.col("doc_id") < 105).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    new.where(F.col("doc_id") >= 105).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    q = lex_ingest_stream(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(land)),
        p, str(tmp_path / "lexckpt"),
    )
    q.awaitTermination(180)

    loaded = load_appended_lex(spark, p)
    assert loaded["n_docs"] == 30  # folded stats, not the stale manifest
    queries = {"q1": "alpha gamma", "q2": "tok103 beta"}
    served = bm25_search(None, queries, top_n=5, prebuilt=loaded)
    merged = spark.createDataFrame(
        base_rows + new_rows, "doc_id long, text string"
    )
    rebuilt = bm25_search(merged, queries, top_n=5)
    key = lambda r: (r["query_id"], r["doc_id"])  # noqa: E731
    assert sorted(map(tuple, served.collect()), key=lambda t: (t[0], t[1])) \
        == sorted(map(tuple, rebuilt.collect()), key=lambda t: (t[0], t[1]))
    assert served.count() > 0


def test_load_appended_lex_keeps_manifest_base(spark, tmp_path):
    """The folded index must find its saved base through the index's
    manifest: 2 base docs plus 1 streamed doc serve 3 docs, not just
    the streamed one."""
    from cosmap_spark.operators.index_store import save_lex_index
    from cosmap_spark.operators.retrieval import build_lex_index
    from cosmap_spark.sinks.commit import ManifestStore
    from cosmap_spark.streaming.ops import (
        lex_ingest_stream,
        load_appended_lex,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    p = str(tmp_path / "lexidx")
    save_lex_index(p, *build_lex_index(base))
    assert ManifestStore(p).exists()
    land = tmp_path / "doc_landing"
    spark.createDataFrame(
        [(3, "delta alpha")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(land))
    lex_ingest_stream(
        spark.readStream.schema("doc_id long, text string").parquet(str(land)),
        p, str(tmp_path / "lexckpt"),
    ).awaitTermination(180)
    loaded = load_appended_lex(spark, p)
    assert loaded["n_docs"] == 3
    assert sorted(r["__d"] for r in loaded["lens"].collect()) == [1, 2, 3]


def test_sketch_stream_kmv_bit_stable(spark, tmp_path):
    """KMV mode's stronger contract: after two micro-batches the store
    sketches are BIT-identical to a one-shot batch build over all the
    data (merge-order stability), a re-merge WITHOUT the epoch ledger
    leaves them bit-identical (wholesale idempotence), and a resume
    with a mismatched k is rejected loudly."""
    import pytest as _pytest

    from cosmap_spark.operators.sketch import kmv_leaf, merge_kmv_tables
    from cosmap_spark.streaming.ops import sketch_stream

    land = tmp_path / "kmv_landing"
    rows = spark.range(12_000).select(
        (F.col("id") % 3).alias("grp"), (F.col("id") % 2_000).alias("uid")
    )
    rows.where(F.col("uid") % 2 == 0).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    rows.where(F.col("uid") % 2 == 1).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    stream = (
        spark.readStream.schema("grp long, uid long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    store = tmp_path / "kmv_store"
    q = sketch_stream(
        stream, str(store), str(tmp_path / "kmv_ckpt"),
        keys=["grp"], col="uid", kind="kmv", k=64,
    )
    q.awaitTermination(180)

    def snap():
        return sorted(
            (r["grp"], tuple(r["__sk"]))
            for r in spark.read.parquet(str(store / "sketches")).collect()
        )

    got = snap()
    oneshot = sorted(
        (r["grp"], tuple(r["__sk"]))
        for r in kmv_leaf(rows, ["grp"], "uid", k=64).collect()
    )
    assert got == oneshot  # bit-equal, not approx — the KMV contract
    # wholesale re-merge of an arbitrary already-seen batch, ledger
    # bypassed on purpose: the store must not move by a single bit
    from cosmap_spark.sinks.writers import publish

    old = spark.read.parquet(str(store / "sketches"))
    replay = kmv_leaf(
        rows.where(F.col("uid") % 2 == 0), ["grp"], "uid", k=64
    )
    params = (store / "sketches" / "_params.json").read_text()
    publish(
        str(store / "sketches"),
        merge_kmv_tables(old, replay, ["grp"], k=64),
        # the parameters ride INSIDE the store dir (atomic with the
        # data) — a manual swap must carry them like the operator does
        extra_files={"_params.json": params},
    )
    assert snap() == got
    # mismatched k on resume is refused (the error surfaces either as
    # an awaitTermination raise or via query.exception())
    with _pytest.raises(ValueError):
        sketch_stream(
            rows, "unused", "unused", keys=["grp"], col="uid",
            kind="nope",
        )
    with _pytest.raises(ValueError, match="k=64"):
        sketch_stream(
            (spark.readStream.schema("grp long, uid long")
             .option("maxFilesPerTrigger", 1).parquet(str(land))),
            str(store), str(tmp_path / "kmv_ckpt3"),
            keys=["grp"], col="uid", kind="kmv", k=32,
        )
    assert snap() == got  # the refused resume left the store untouched


@pytest.mark.parametrize("k", [0, -1, True, 2.0])
def test_k_refused_by_name(k):
    """A sample, counter or sketch size that is not an int >= 1 is
    refused at call time: k=0 kept an empty reservoir forever and died
    inside a Python worker for heavy hitters."""
    from cosmap_spark.streaming.ops import (
        heavy_hitters_stream,
        reservoir_stream,
        sketch_stream,
    )

    for start in (
        lambda: reservoir_stream(None, "s", "c", k=k, key_cols=["u"]),
        lambda: heavy_hitters_stream(None, "s", "c", key_col="u", k=k),
        lambda: sketch_stream(None, "s", "c", keys=["g"], col="u",
                              kind="kmv", k=k),
    ):
        with pytest.raises(ValueError, match="k must be an int >= 1"):
            start()


def test_batch_fingerprint_null_slots_and_multiplicity(spark):
    """Regression (round-6 review): the upsert_stream replay-guard
    fingerprint must distinguish ('a', NULL) from (NULL, 'a') — Spark's
    hash skips null slots — and equal-count batches that differ only in
    even-repeated rows (XOR alone cancels them); order must NOT matter."""
    from cosmap_spark.streaming.ops import _batch_fingerprint

    def fp(rows):
        return _batch_fingerprint(
            spark.createDataFrame(rows, "a string, b string")
        )

    assert fp([("a", None)]) != fp([(None, "a")])
    assert fp([("a", "x"), ("a", "x"), ("c", "y")]) != \
        fp([("b", "x"), ("b", "x"), ("c", "y")])
    # order-independence (the property the guard relies on for
    # legitimately replayed identical batches)
    assert fp([("a", "x"), ("c", "y")]) == fp([("c", "y"), ("a", "x")])


def test_batch_fingerprint_value_vs_anchor_ambiguity(spark):
    """Regression (round-6 review #2): INT (1, NULL) vs (NULL, 1) — a
    value that equals the next slot's positional anchor — must not
    fingerprint-collide (bare anchors hash both as [0, 1, 1])."""
    from cosmap_spark.streaming.ops import _batch_fingerprint

    def fp(rows):
        return _batch_fingerprint(
            spark.createDataFrame(rows, "a int, b int")
        )

    assert fp([(1, None)]) != fp([(None, 1)])


def test_lex_ingest_resubmitted_doc_last_writer_wins(spark, tmp_path):
    """Regression (round-6 review #3): a doc id resubmitted in a later
    epoch must serve its LATEST version only — a naive base ∪ appends
    union multiplies the doc's tf rows by every lens version (score
    corruption), it does not 'score both versions'."""
    from cosmap_spark.operators.index_store import save_lex_index
    from cosmap_spark.operators.retrieval import bm25_search, build_lex_index
    from cosmap_spark.streaming.ops import (
        lex_ingest_stream,
        load_appended_lex,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    p = str(tmp_path / "lexidx2")
    save_lex_index(p, *build_lex_index(base))
    land = tmp_path / "doc_landing2"
    # epoch 0: fresh doc 3; epoch 1: RESUBMITTED doc 1 (new text)
    spark.createDataFrame(
        [(3, "delta alpha")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(land), mode="append")
    spark.createDataFrame(
        [(1, "epsilon zeta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(land), mode="append")
    q = lex_ingest_stream(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(land)),
        p, str(tmp_path / "lexckpt2"),
    )
    q.awaitTermination(180)
    loaded = load_appended_lex(spark, p)
    assert loaded["n_docs"] == 3  # doc 1 counted ONCE
    # file-source epoch order is deterministic here (one file per
    # trigger, lexicographic listing), but the assertion that matters
    # is version EXCLUSIVITY: exactly one version of doc 1 serves —
    # 'alpha' matching doc 1 and 'epsilon' matching doc 1 are mutually
    # exclusive outcomes
    served_old = bm25_search(None, {"q": "beta"}, prebuilt=loaded).collect()
    served_new = bm25_search(None, {"q": "epsilon"}, prebuilt=loaded).collect()
    assert {r["doc_id"] for r in served_old} | {
        r["doc_id"] for r in served_new
    } <= {1}
    assert (len(served_old) > 0) != (len(served_new) > 0)
    # the winning version scores like a from-scratch rebuild on the
    # corresponding merged corpus
    winner_text = "epsilon zeta" if served_new else "alpha beta"
    merged = spark.createDataFrame(
        [(1, winner_text), (2, "alpha gamma"), (3, "delta alpha")],
        "doc_id long, text string",
    )
    for qs in ({"q": "alpha"}, {"q": "epsilon zeta"}):
        got = sorted(map(tuple, bm25_search(None, qs, prebuilt=loaded).collect()))
        want = sorted(map(tuple, bm25_search(merged, qs).collect()))
        assert got == want, qs


def test_heavy_hitters_stream_guarantee_and_replay(spark, tmp_path):
    """Streaming MG store: after two micro-batches the heavy key is
    present with its count bracketed by the mergeable-summaries bound
    (true − N/(k+1) ≤ mg_count ≤ true), the running N is recorded,
    replays are ledger-skipped byte-stably (MG merge is NOT
    replay-idempotent, so the ledger carries exactly-once), and a
    mismatched k resume is refused synchronously."""
    import json

    from cosmap_spark.streaming.ops import heavy_hitters_stream

    land = tmp_path / "hh_landing"
    # ~1/3 of rows are key -1 (the heavy hitter); tail uniform over 200
    rows = spark.range(12_000).select(
        F.when(F.col("id") % 3 == 0, F.lit(-1))
        .otherwise(F.col("id") % 200).alias("k")
    )
    rows.where(F.col("id") % 2 == 0).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    rows.where(F.col("id") % 2 == 1).coalesce(1).write.parquet(
        str(land), mode="append"
    )
    store = tmp_path / "hh_store"
    q = heavy_hitters_stream(
        (spark.readStream.schema("k long")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        str(store), str(tmp_path / "hh_ckpt"), key_col="k", k=16,
    )
    q.awaitTermination(180)

    def snap():
        return sorted(
            (r["key"], r["mg_count"])
            for r in spark.read.parquet(str(store / "counters")).collect()
        )

    got = dict(snap())
    # N, k and the epoch stamp ride INSIDE the counters dir (same
    # atomic swap as the data)
    meta = json.load(open(store / "counters" / "_mg_meta.json"))
    n_true = 12_000
    heavy_true = rows.where(F.col("k") == -1).count()
    assert meta["n"] == n_true
    assert json.load(open(store / "counters" / "_params.json")) == {"k": 16}
    assert (store / "counters" / "_last_epoch").exists()
    assert len(got) <= 16
    assert -1 in got, got
    assert heavy_true - n_true / 17 <= got[-1] <= heavy_true, got[-1]
    # replay through a FRESH checkpoint: every epoch is ledger-skipped,
    # counters must not move a byte
    before = snap()
    q2 = heavy_hitters_stream(
        (spark.readStream.schema("k long")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        str(store), str(tmp_path / "hh_ckpt2"), key_col="k", k=16,
    )
    q2.awaitTermination(180)
    assert snap() == before
    assert json.load(
        open(store / "counters" / "_mg_meta.json")
    )["n"] == n_true
    with pytest.raises(ValueError, match="k=16"):
        heavy_hitters_stream(
            (spark.readStream.schema("k long")
             .option("maxFilesPerTrigger", 1).parquet(str(land))),
            str(store), str(tmp_path / "hh_ckpt3"), key_col="k", k=8,
        )


def test_heavy_hitters_crash_between_swap_and_marker(spark, tmp_path):
    """If a crash lands after the counters swap but before the epoch
    marker, the replay must NOT re-merge (MG double-counts): the epoch
    stamp swapped in with the counters detects it."""
    import json

    from cosmap_spark.streaming.ops import heavy_hitters_stream

    land = tmp_path / "l"
    spark.range(1000).select((F.col("id") % 7).alias("k")).coalesce(
        1
    ).write.parquet(str(land))
    store = tmp_path / "s"
    q = heavy_hitters_stream(
        spark.readStream.schema("k long").parquet(str(land)),
        str(store), str(tmp_path / "c1"), key_col="k", k=16,
    )
    q.awaitTermination(120)
    counters = sorted(
        (r["key"], r["mg_count"])
        for r in spark.read.parquet(str(store / "counters")).collect()
    )
    meta = json.load(open(store / "counters" / "_mg_meta.json"))
    # simulate the crash window: delete the done marker only
    import os

    ledger = store / "_epochs"
    markers = os.listdir(ledger)
    assert markers
    for m in markers:
        os.remove(ledger / m)
    # replay the same batch through a fresh checkpoint
    q2 = heavy_hitters_stream(
        spark.readStream.schema("k long").parquet(str(land)),
        str(store), str(tmp_path / "c2"), key_col="k", k=16,
    )
    q2.awaitTermination(120)
    after = sorted(
        (r["key"], r["mg_count"])
        for r in spark.read.parquet(str(store / "counters")).collect()
    )
    assert after == counters  # not double-merged
    assert json.load(
        open(store / "counters" / "_mg_meta.json")
    ) == meta
    assert os.listdir(ledger)  # marker restored


def test_streaming_stores_refuse_interrupted_swap(spark, tmp_path):
    """All three streaming stores must refuse to bootstrap over a
    crashed swap (live dir missing, backup present) instead of
    reinitializing from one batch."""
    import os

    from cosmap_spark.streaming.ops import (
        heavy_hitters_stream,
        sketch_stream,
        upsert_stream,
    )

    land = tmp_path / "land"
    spark.range(100).select(
        (F.col("id") % 5).alias("g"),
        F.col("id").alias("v"),
    ).coalesce(1).write.parquet(str(land))

    # --- sketch store
    sp = tmp_path / "sk"
    q = sketch_stream(
        spark.readStream.schema("g long, v long").parquet(str(land)),
        str(sp), str(tmp_path / "skc"), keys=["g"], col="v", kind="kmv",
    )
    q.awaitTermination(120)
    os.rename(sp / "sketches", f"{sp}/sketches.__merge_backup")
    # the crash happened DURING the swap, so its epoch marker was
    # never written — model that by clearing the ledger
    for m in os.listdir(sp / "_epochs"):
        os.remove(sp / "_epochs" / m)
    q = sketch_stream(
        spark.readStream.schema("g long, v long").parquet(str(land)),
        str(sp), str(tmp_path / "skc2"), keys=["g"], col="v", kind="kmv",
    )
    with pytest.raises(Exception, match="interrupted merge swap"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() or "stream finished cleanly")

    # --- upsert table (key-unique batch: merge_upsert's contract)
    land2 = tmp_path / "land2"
    spark.range(50).select(
        F.col("id").alias("g"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(str(land2))
    tp = tmp_path / "tbl"
    q = upsert_stream(
        spark.readStream.schema("g long, v long").parquet(str(land2)),
        str(tp), str(tmp_path / "upc"), keys=["g"],
    )
    q.awaitTermination(120)
    os.rename(tp, f"{tp}.__merge_backup")
    q = upsert_stream(
        spark.readStream.schema("g long, v long").parquet(str(land2)),
        str(tp), str(tmp_path / "upc2"), keys=["g"],
    )
    with pytest.raises(Exception, match="interrupted merge swap"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() or "stream finished cleanly")


def _cusum_ref(series, *, warmup=20, drift=0.5, threshold=5.0,
               min_sigma=1e-9):
    """Pure-python online CUSUM mirroring changepoint_stream's kernel
    bit-for-bit (same float ops, same reset semantics)."""
    n, mean, m2 = 0, 0.0, 0.0
    mu0 = sigma0 = spos = sneg = 0.0
    alarms = []
    for t, x in series:
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
        if hit:
            alarms.append((t, hit[0], hit[1], mu0, sigma0, n))
            n, mean, m2 = 0, 0.0, 0.0
            mu0 = sigma0 = spos = sneg = 0.0
    return alarms


def test_changepoint_stream_matches_reference_across_batches(
    spark, tmp_path
):
    """Two micro-batches (file-per-trigger) must emit exactly the
    reference's alarms over the concatenated series — state (baseline,
    CUSUM accumulators, post-alarm resets) carries across batches."""
    import datetime as dt

    import numpy as np

    from cosmap_spark.streaming.ops import changepoint_stream

    rng = np.random.default_rng(3)
    t0 = dt.datetime(2024, 1, 1)
    series = {}
    # key 0: upshift at 40; key 1: noise only; key 2: downshift at 55
    vals0 = np.concatenate([rng.normal(10, 1, 40), rng.normal(16, 1, 40)])
    vals1 = rng.normal(5, 1, 80)
    vals2 = np.concatenate([rng.normal(0, 1, 55), rng.normal(-8, 1, 25)])
    for k, vals in ((0, vals0), (1, vals1), (2, vals2)):
        series[k] = [
            (t0 + dt.timedelta(minutes=i), float(v))
            for i, v in enumerate(vals)
        ]
    land = tmp_path / "cp_land"
    rows = [
        (int(k), i, t, float(v))
        for k, sv in series.items()
        for i, (t, v) in enumerate(sv)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, i long, ts timestamp, value double"
    )
    df.where("i < 45").coalesce(1).write.parquet(str(land), mode="append")
    df.where("i >= 45").coalesce(1).write.parquet(str(land), mode="append")
    sdf = (
        spark.readStream.schema("user_id long, i long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1).parquet(str(land))
    )
    _run_to_memory(
        changepoint_stream(sdf, warmup=20, drift=0.5, threshold=5.0),
        "chgpt_stream_t", tmp_path, "update",
    )
    got = sorted(
        (r["user_id"], r["ts"], r["direction"], round(r["stat"], 9),
         round(r["baseline"], 9), r["n_seen"])
        for r in spark.table("chgpt_stream_t").collect()
    )
    want = sorted(
        (k, t, d, round(s, 9), round(b, 9), n)
        for k, sv in series.items()
        for (t, d, s, b, _sig, n) in _cusum_ref(sv)
    )
    assert got == want
    by_key = {}
    for k, _, d, *_ in got:
        by_key.setdefault(k, []).append(d)
    assert by_key.get(0, [])[:1] == ["up"]
    assert 1 not in by_key           # pure noise never alarms at h=5
    assert by_key.get(2, [])[:1] == ["down"]


def test_changepoint_stream_validation(spark, tmp_path):
    from cosmap_spark.streaming.ops import changepoint_stream

    land = tmp_path / "cp_v"
    spark.createDataFrame(
        [], "user_id long, ts timestamp, value double"
    ).write.parquet(str(land))
    sdf = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(str(land))
    )
    with pytest.raises(ValueError, match="warmup"):
        changepoint_stream(sdf, warmup=1)
    with pytest.raises(ValueError, match="threshold"):
        changepoint_stream(sdf, threshold=0.0)


def test_drift_stream_matches_batch_snapshot_drift(spark, tmp_path):
    """Streaming PSI monitor: after two micro-batches, drift_state is
    BIT-identical (counts AND psi doubles) to a one-shot
    snapshot_drift over reference vs the concatenated stream; replays
    are no-ops; resume with mismatched cols refuses; the shifted
    column alarms, the stable one does not."""
    import pytest

    from cosmap_spark.operators.diff import snapshot_drift
    from cosmap_spark.streaming.ops import (
        drift_alarms, drift_state, drift_stream,
    )

    ref = spark.range(1200).select(
        ((F.col("id") * 37 % 1000) / 10.0).alias("x"),
        ((F.col("id") * 11 % 500) / 5.0).alias("y"),
    ).localCheckpoint()
    streamed = spark.range(900).select(
        "id",
        ((F.col("id") * 37 % 1000) / 10.0 + 30.0).alias("x"),  # shifted
        ((F.col("id") * 13 % 500) / 5.0).alias("y"),           # stable
    ).localCheckpoint()
    land = tmp_path / "drift_landing"
    streamed.where(F.col("id") % 2 == 0).select("x", "y").coalesce(
        1
    ).write.parquet(str(land), mode="append")
    streamed.where(F.col("id") % 2 == 1).select("x", "y").coalesce(
        1
    ).write.parquet(str(land), mode="append")

    store = str(tmp_path / "drift_store")
    with pytest.raises(ValueError, match="reference"):
        drift_stream(
            spark.readStream.schema("x double, y double").parquet(str(land)),
            store, str(tmp_path / "ck0"), cols=["x", "y"],
        )
    q = drift_stream(
        (spark.readStream.schema("x double, y double")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "ck1"), cols=["x", "y"], reference=ref,
    )
    q.awaitTermination(180)

    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    live = key(drift_state(spark, store).collect())
    batch = key(
        snapshot_drift(ref, streamed.select("x", "y"), ["x", "y"]).collect()
    )
    assert live == batch  # exact, psi doubles included

    # replay with a fresh checkpoint: epoch ledger present but the
    # checkpoint is new, so batches re-deliver — the state must not
    # change because drift_state is re-derivable... it DOES change
    # counts if merged twice, so the ledger is what protects it here
    q2 = drift_stream(
        (spark.readStream.schema("x double, y double")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "ck1"),  # same checkpoint = replay path
        cols=["x", "y"],
    )
    q2.awaitTermination(180)
    assert key(drift_state(spark, store).collect()) == batch

    with pytest.raises(ValueError, match="frozen"):
        drift_stream(
            spark.readStream.schema("x double, y double").parquet(str(land)),
            store, str(tmp_path / "ck2"), cols=["x"],
        )

    al = {r["column"]: (r["psi"], r["alarmed"])
          for r in drift_alarms(spark, store, threshold=0.25).collect()}
    assert al["x"][1] is True and al["x"][0] > 0.25
    assert al["y"][1] is False


def test_abtest_stream_matches_batch_welch(spark, tmp_path):
    """Live A/B monitor: after two micro-batches the store's Welch
    readout is BIT-identical to the batch welch_ttest over the
    concatenated stream (exact integer moment sums); replays are
    no-ops; a mismatched quantize_dp resume refuses."""
    import pytest

    from cosmap_spark.operators.stats_tests import welch_ttest
    from cosmap_spark.streaming.ops import abtest_state, abtest_stream

    rows = spark.range(1200).select(
        F.when(F.col("id") % 3 == 0, F.lit("ctl"))
        .when(F.col("id") % 3 == 1, F.lit("trt"))
        .otherwise(F.lit("t2")).alias("variant"),
        (F.col("id") % 97 / 9.7
         + F.when(F.col("id") % 3 == 1, 1.5).otherwise(0.0)).alias("value"),
    ).localCheckpoint()
    land = tmp_path / "ab_landing"
    rows.where(F.col("value") < 5).coalesce(1).write.parquet(
        str(land), mode="append")
    rows.where(F.col("value") >= 5).coalesce(1).write.parquet(
        str(land), mode="append")

    store = str(tmp_path / "ab_store")
    q = abtest_stream(
        (spark.readStream.schema("variant string, value double")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "ab_ck"), variant_col="variant",
        value_col="value",
    )
    q.awaitTermination(180)

    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    live = key(abtest_state(spark, store))
    batch = key(welch_ttest(rows, "variant", "value"))
    assert live == batch and len(live) == 3  # exact, t/dof bits included

    # replay via the same checkpoint: the ledger short-circuits
    q2 = abtest_stream(
        (spark.readStream.schema("variant string, value double")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "ab_ck"), variant_col="variant",
        value_col="value",
    )
    q2.awaitTermination(180)
    assert key(abtest_state(spark, store)) == batch

    with pytest.raises(ValueError, match="quantize_dp"):
        abtest_stream(
            spark.readStream.schema("variant string, value double")
            .parquet(str(land)),
            store, str(tmp_path / "ab_ck2"), variant_col="variant",
            value_col="value", quantize_dp=2,
        )


def test_category_drift_stream_matches_batch(spark, tmp_path):
    """Live categorical PSI: frozen top-N selection + integer count
    merge -> category_drift_state is BIT-identical to category_drift
    over reference vs the concatenated stream (selection is old-side-
    only in the batch operator too); replays no-op; mismatched
    parameters refuse."""
    import pytest

    from cosmap_spark.operators.diff import category_drift
    from cosmap_spark.streaming.ops import (
        category_drift_state, category_drift_stream,
    )

    ref = spark.range(900).select(
        F.when(F.col("id") % 11 == 3, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("lang"), (F.col("id") % 9).cast("string")))
        .alias("lang"),
    ).localCheckpoint()
    streamed = spark.range(700).select(
        "id",
        F.when(F.col("id") % 13 == 0, F.lit("brandnew"))
        .when(F.col("id") % 11 == 5, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("lang"), ((F.col("id") + 2) % 9)
                            .cast("string"))).alias("lang"),
    ).localCheckpoint()
    land = tmp_path / "cat_landing"
    streamed.where(F.col("id") % 2 == 0).select("lang").coalesce(
        1).write.parquet(str(land), mode="append")
    streamed.where(F.col("id") % 2 == 1).select("lang").coalesce(
        1).write.parquet(str(land), mode="append")

    store = str(tmp_path / "cat_store")
    with pytest.raises(ValueError, match="reference"):
        category_drift_stream(
            spark.readStream.schema("lang string").parquet(str(land)),
            store, str(tmp_path / "ck0"), cols=["lang"], top_n=6,
        )
    q = category_drift_stream(
        (spark.readStream.schema("lang string")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "ck1"), cols=["lang"], top_n=6,
        reference=ref,
    )
    q.awaitTermination(180)

    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    live = key(category_drift_state(spark, store).collect())
    batch = key(
        category_drift(ref, streamed.select("lang"), ["lang"],
                       top_n=6).collect()
    )
    assert live == batch and len(live) > 2  # exact, psi bits included

    # replay via the same checkpoint: ledger short-circuits
    q2 = category_drift_stream(
        (spark.readStream.schema("lang string")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "ck1"), cols=["lang"], top_n=6,
    )
    q2.awaitTermination(180)
    assert key(category_drift_state(spark, store).collect()) == batch

    with pytest.raises(ValueError, match="frozen"):
        category_drift_stream(
            spark.readStream.schema("lang string").parquet(str(land)),
            store, str(tmp_path / "ck2"), cols=["lang"], top_n=5,
        )


def test_ledgered_loop_crash_window_stamp(spark, tmp_path):
    """The exactly-once crash window (round-8 advisory): foreachBatch
    acknowledges only after run() returns, so a driver crash BETWEEN a
    completed store swap and the done-marker write re-delivers the
    epoch with the marker missing.  The ``_last_epoch`` stamp — swapped
    in atomically with the data — must detect that the store already
    contains the epoch and skip the merge (a second merge would
    silently double-count the monitor state)."""
    import os

    from cosmap_spark.operators.diff import snapshot_drift
    from cosmap_spark.streaming.ops import drift_state, drift_stream

    ref = spark.range(600).select(
        ((F.col("id") * 37 % 1000) / 10.0).alias("x"),
    ).localCheckpoint()
    streamed = spark.range(400).select(
        "id", ((F.col("id") * 13 % 1000) / 10.0).alias("x"),
    ).localCheckpoint()
    land = tmp_path / "cw_landing"
    streamed.where(F.col("id") % 2 == 0).select("x").coalesce(1).write.parquet(
        str(land), mode="append"
    )
    streamed.where(F.col("id") % 2 == 1).select("x").coalesce(1).write.parquet(
        str(land), mode="append"
    )
    store = str(tmp_path / "cw_store")
    q = drift_stream(
        (spark.readStream.schema("x double")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "cw_ck"), cols=["x"], reference=ref,
    )
    q.awaitTermination(180)
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    batch = key(snapshot_drift(ref, streamed.select("x"), ["x"]).collect())
    assert key(drift_state(spark, store).collect()) == batch

    # simulate the crash: the last epoch's swap completed (stamp and
    # counts in place) but its marker write was lost, AND the
    # checkpoint is gone so the source re-delivers everything
    markers = sorted(os.listdir(os.path.join(store, "_epochs")))
    lost = os.path.join(store, "_epochs", markers[-1])
    os.remove(lost)
    import shutil

    shutil.rmtree(str(tmp_path / "cw_ck"))
    q2 = drift_stream(
        (spark.readStream.schema("x double")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "cw_ck"), cols=["x"],
    )
    q2.awaitTermination(180)
    # state unchanged (no double count) and the lost marker restored
    assert key(drift_state(spark, store).collect()) == batch
    assert os.path.exists(lost)


def test_category_drift_stream_empty_reference_refuses(spark, tmp_path):
    """A reference with no rows must refuse at freeze time (round-8
    advisory): an empty frozen selection would build a zero-element
    array literal and silently fold every streamed category into
    OTHER where the batch operator raises."""
    import pytest

    from cosmap_spark.streaming.ops import category_drift_stream

    empty_ref = spark.createDataFrame([], "lang string")
    land = tmp_path / "er_landing"
    spark.createDataFrame([("en",)], "lang string").coalesce(
        1
    ).write.parquet(str(land), mode="append")
    with pytest.raises(ValueError, match="no distribution"):
        category_drift_stream(
            spark.readStream.schema("lang string").parquet(str(land)),
            str(tmp_path / "er_store"), str(tmp_path / "er_ck"),
            cols=["lang"], reference=empty_ref,
        )


def test_ks_stream_matches_batch_ks_test(spark, tmp_path):
    """Live KS monitor (round 8 — the first monitor built as pure
    config over _ledgered_loop): after two micro-batches ks_state is
    BIT-identical to a one-shot ks_test(reference, concatenated
    stream) — d_num, d_stat, lambda_stat included; replays are no-ops;
    mismatched quantize_dp resume refuses; decide() yields a verdict
    on the planted shift."""
    import pytest

    from cosmap_spark.operators.stats_tests import decide, ks_test
    from cosmap_spark.streaming.ops import ks_state, ks_stream

    ref = spark.range(1000).select(
        ((F.col("id") * 37 % 500) / 10.0).alias("x"),
    ).localCheckpoint()
    streamed = spark.range(800).select(
        "id", ((F.col("id") * 13 % 500) / 10.0 + 9.0).alias("x"),
    ).localCheckpoint()
    land = tmp_path / "ks_landing"
    for half in (0, 1):
        streamed.where(F.col("id") % 2 == half).select("x").coalesce(
            1
        ).write.parquet(str(land), mode="append")

    store = str(tmp_path / "ks_store")
    with pytest.raises(ValueError, match="reference"):
        ks_stream(
            spark.readStream.schema("x double").parquet(str(land)),
            store, str(tmp_path / "kck0"), cols=["x"],
        )
    q = ks_stream(
        (spark.readStream.schema("x double")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "kck1"), cols=["x"], reference=ref,
    )
    q.awaitTermination(180)

    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    live = key(ks_state(spark, store).collect())
    batch = key(ks_test(ref, streamed.select("x"), ["x"]).collect())
    assert live == batch  # exact, doubles included

    # replay with the same checkpoint: ledger short-circuits
    q2 = ks_stream(
        (spark.readStream.schema("x double")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "kck1"), cols=["x"],
    )
    q2.awaitTermination(180)
    assert key(ks_state(spark, store).collect()) == batch

    with pytest.raises(ValueError, match="frozen"):
        ks_stream(
            spark.readStream.schema("x double").parquet(str(land)),
            store, str(tmp_path / "kck2"), cols=["x"], quantize_dp=2,
        )

    v = decide(ks_state(spark, store), "ks").collect()[0]
    assert v["significant"] is True  # the +9.0 planted shift is real

    # the SAME store serves the rank-sum readout (one store, two
    # distributional readouts): mwu_state must equal the batch
    # mann_whitney_u over reference vs the concatenated stream
    from cosmap_spark.operators.stats_tests import mann_whitney_u
    from cosmap_spark.streaming.ops import mwu_state

    live_m = key(mwu_state(spark, store).collect())
    batch_m = key(
        mann_whitney_u(ref, streamed.select("x"), ["x"]).collect()
    )
    assert live_m == batch_m  # exact, z double included
    vm = decide(mwu_state(spark, store), "mwu").collect()[0]
    assert vm["significant"] is True


def test_reservoir_stream_matches_batch_exact_k_sample(spark, tmp_path):
    """Streaming reservoir (round 9): after three micro-batches the
    store is EXACTLY exact_k_sample over the concatenated stream (same
    hash, same total order); the min-k fold is idempotent across
    replays BY CONSTRUCTION (re-merging already-held rows is a no-op
    even without the ledger); state is O(k); stratified budgets match
    the per-stratum batch twin; mismatched-k resume refuses."""
    import pytest

    from cosmap_spark.operators.sampler import exact_k_sample
    from cosmap_spark.streaming.ops import (
        reservoir_merge,
        reservoir_state,
        reservoir_stream,
    )

    rows = spark.range(0, 900).select(
        F.col("id").alias("uid"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 3 % 101).alias("v"),
    ).localCheckpoint()
    land = tmp_path / "rs_land"
    for third in range(3):
        rows.where(F.col("uid") % 3 == third).coalesce(1).write.parquet(
            str(land), mode="append"
        )

    store = str(tmp_path / "rs_store")
    reservoir_stream(
        (spark.readStream.schema("uid long, grp long, v long")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "rs_ck"), k=25, key_cols=["uid"],
    ).awaitTermination(180)

    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    live = key(reservoir_state(spark, store))
    batch = key(exact_k_sample(rows, k=25, key_cols=["uid"]))
    assert live == batch and len(live) == 25  # O(k) state, exact twin

    # the KMV idempotence law, ledger-free: re-merging any batch the
    # state already absorbed changes nothing
    state = spark.read.parquet(f"{store}/sample")
    replayed = state.limit(10)
    again = reservoir_merge(state.unionByName(replayed), k=25,
                            key_cols=["uid"])
    assert key(again.drop("__h")) == live

    # replay the whole stream on a fresh checkpoint: store byte-stable
    before = sorted(map(tuple, state.collect()))
    reservoir_stream(
        (spark.readStream.schema("uid long, grp long, v long")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "rs_ck2"), k=25, key_cols=["uid"],
    ).awaitTermination(180)
    assert sorted(map(tuple,
                      spark.read.parquet(f"{store}/sample").collect())) \
        == before

    for resumed_at in (store, f"file://{store}"):
        with pytest.raises(ValueError, match="was built with"):
            reservoir_stream(
                spark.readStream.schema("uid long, grp long, v long")
                .parquet(str(land)),
                resumed_at, str(tmp_path / "rs_ck3"), k=30,
                key_cols=["uid"],
            )

    # stratified: per-group budget equals the per-stratum batch twin
    store2 = str(tmp_path / "rs_store2")
    reservoir_stream(
        (spark.readStream.schema("uid long, grp long, v long")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store2, str(tmp_path / "rs_ck4"), k=7, key_cols=["uid"],
        strata_cols=["grp"],
    ).awaitTermination(180)
    live2 = key(reservoir_state(spark, store2))
    want2 = sorted(
        t
        for g in range(4)
        for t in map(tuple, exact_k_sample(
            rows.where(F.col("grp") == g), k=7, key_cols=["uid"]
        ).collect())
    )
    assert live2 == want2 and len(live2) == 4 * 7


def test_reservoir_stream_weighted_matches_batch(spark, tmp_path):
    """The weighted reservoir (round 9): reservoir_stream(weight_col=)
    over three micro-batches equals weighted_k_sample over the
    concatenated stream (shared Efraimidis–Spirakis rank); invalid
    weights never enter; resume with a different weight_col refuses."""
    import pytest

    from cosmap_spark.operators.sampler import weighted_k_sample
    from cosmap_spark.streaming.ops import (
        reservoir_state,
        reservoir_stream,
    )

    rows = spark.range(0, 600).select(
        F.col("id").alias("uid"),
        ((F.col("id") % 23 + 1) / 23.0).alias("w"),
    ).localCheckpoint()
    # plant invalid weights: they must never sample
    rows = rows.withColumn(
        "w", F.when(F.col("uid") % 50 == 0, F.lit(None)).otherwise(
            F.col("w"))
    ).localCheckpoint()
    land = tmp_path / "wrs_land"
    for third in range(3):
        rows.where(F.col("uid") % 3 == third).coalesce(1).write.parquet(
            str(land), mode="append"
        )

    store = str(tmp_path / "wrs_store")
    reservoir_stream(
        (spark.readStream.schema("uid long, w double")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "wrs_ck"), k=30, key_cols=["uid"],
        weight_col="w",
    ).awaitTermination(180)

    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    live = key(reservoir_state(spark, store))
    batch = key(weighted_k_sample(rows, k=30, weight_col="w",
                                  key_cols=["uid"]))
    assert live == batch and len(live) == 30
    assert all(w is not None for _, w in live)

    with pytest.raises(ValueError, match="was built with"):
        reservoir_stream(
            spark.readStream.schema("uid long, w double")
            .parquet(str(land)),
            store, str(tmp_path / "wrs_ck2"), k=30, key_cols=["uid"],
        )


def test_category_drift_stream_frozen_categories(spark, tmp_path):
    """The unbounded-vocabulary freeze (round 9): with
    frozen_categories= the monitor folds the reference MAP-SIDE (no
    vocabulary collect), the readout is BIT-identical to the batch
    category_drift over the same frozen selection, the sidecar records
    the selection's provenance, and a resume with a different
    selection refuses."""
    import json
    import os

    import pytest

    from cosmap_spark.operators.diff import (
        category_drift,
        heavy_hitter_categories,
    )
    from cosmap_spark.streaming.ops import (
        category_drift_state,
        category_drift_stream,
    )

    # heavy-tailed: 3 heavy categories + a singleton tail per side
    ref = spark.createDataFrame(
        [(f"h{j % 3}",) for j in range(120)]
        + [(f"rt{i}",) for i in range(80)], "lang string",
    ).localCheckpoint()
    streamed = spark.createDataFrame(
        [(f"h{(j + 1) % 3}",) for j in range(100)]
        + [(f"st{i}",) for i in range(60)], "lang string",
    ).localCheckpoint()
    land = tmp_path / "fc_land"
    streamed.coalesce(1).write.parquet(str(land), mode="append")

    hh = heavy_hitter_categories(ref, ["lang"], top_n=3, k=64)
    assert sorted(hh["lang"]) == ["h0", "h1", "h2"]
    store = str(tmp_path / "fc_store")
    category_drift_stream(
        (spark.readStream.schema("lang string")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "fc_ck"), cols=["lang"],
        reference=ref, frozen_categories=hh,
    ).awaitTermination(180)

    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    live = key(category_drift_state(spark, store).collect())
    batch = key(category_drift(ref, streamed, ["lang"],
                               frozen_categories=hh).collect())
    assert live == batch  # bit-identical, psi doubles included

    with open(os.path.join(store, "ref", "_catdrift_meta")) as f:
        meta = json.load(f)
    assert meta["selection_source"] == "frozen_categories"
    assert sorted(meta["selected"]["lang"]) == ["h0", "h1", "h2"]

    # resume with a different frozen selection refuses loudly
    with pytest.raises(ValueError, match="different frozen_categories"):
        category_drift_stream(
            spark.readStream.schema("lang string").parquet(str(land)),
            store, str(tmp_path / "fc_ck2"), cols=["lang"],
            frozen_categories={"lang": ["h0", "h1"]},
        )
    # resume with the SAME selection (or none) is fine
    category_drift_stream(
        (spark.readStream.schema("lang string")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "fc_ck3"), cols=["lang"],
        frozen_categories=hh,
    ).awaitTermination(180)
    assert key(category_drift_state(spark, store).collect()) == batch

    # round-9 review finding 2 (reproduced live): NON-STRING frozen
    # values used to freeze fine and then kill every micro-batch with
    # an array_contains type mismatch — canonicalization must make an
    # int selection run end-to-end and match the batch twin
    iref = spark.range(200).select((F.col("id") % 3).cast("int")
                                   .alias("b")).localCheckpoint()
    istream = spark.range(150).select((F.col("id") % 4).cast("int")
                                      .alias("b")).localCheckpoint()
    iland = tmp_path / "fci_land"
    istream.coalesce(1).write.parquet(str(iland), mode="append")
    istore = str(tmp_path / "fci_store")
    category_drift_stream(
        (spark.readStream.schema("b int")
         .option("maxFilesPerTrigger", 1).parquet(str(iland))),
        istore, str(tmp_path / "fci_ck"), cols=["b"],
        reference=iref, frozen_categories={"b": [0, 1, 2]},
    ).awaitTermination(180)
    ilive = key(category_drift_state(spark, istore).collect())
    ibatch = key(category_drift(iref, istream, ["b"],
                                frozen_categories={"b": [0, 1, 2]})
                 .collect())
    assert ilive == ibatch and ilive  # ran, matched, non-empty


def test_monitor_report_unifies_all_live_verdicts(spark, tmp_path):
    """monitor_report (round 9): ONE [monitor, subject, statistic,
    value, p_value, significant] table across the live stores — each
    section must match its individual readout exactly, PSI rows carry
    NULL p by design, and a no-store call refuses."""
    import pytest

    from cosmap_spark.operators.stats_tests import decide
    from cosmap_spark.streaming.ops import (
        abtest_state,
        abtest_stream,
        drift_alarms,
        drift_stream,
        ks_state,
        ks_stream,
        monitor_report,
    )

    ref = spark.range(600).select(((F.col("id") * 37 % 300) / 10.0)
                                  .alias("x")).localCheckpoint()
    streamed = spark.range(500).select(
        "id", ((F.col("id") * 13 % 300) / 10.0 + 6.0).alias("x"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("arm"),
    ).localCheckpoint()
    land = tmp_path / "mr_land"
    streamed.select("x", "arm").coalesce(1).write.parquet(
        str(land), mode="append"
    )

    ks_store = str(tmp_path / "mr_ks")
    dr_store = str(tmp_path / "mr_drift")
    ab_store = str(tmp_path / "mr_ab")
    cat_store = str(tmp_path / "mr_cat")
    ks_stream(
        spark.readStream.schema("x double, arm string").parquet(str(land))
        .select("x"),
        ks_store, str(tmp_path / "mr_kck"), cols=["x"], reference=ref,
    ).awaitTermination(180)
    drift_stream(
        spark.readStream.schema("x double, arm string").parquet(str(land))
        .select("x"),
        dr_store, str(tmp_path / "mr_dck"), cols=["x"], reference=ref,
    ).awaitTermination(180)
    abtest_stream(
        spark.readStream.schema("x double, arm string").parquet(str(land)),
        ab_store, str(tmp_path / "mr_ack"),
        variant_col="arm", value_col="x",
    ).awaitTermination(180)
    from cosmap_spark.streaming.ops import category_drift_stream

    category_drift_stream(
        spark.readStream.schema("x double, arm string").parquet(str(land))
        .select("arm"),
        cat_store, str(tmp_path / "mr_cck"), cols=["arm"],
        reference=streamed.select("arm"),
    ).awaitTermination(180)

    rep = monitor_report(
        spark, drift_store=dr_store, abtest_store=ab_store,
        ks_store=ks_store, category_store=cat_store,
    )
    assert rep.columns == ["monitor", "subject", "statistic", "value",
                           "p_value", "significant"]
    rows = {(r["monitor"], r["subject"]): r for r in rep.collect()}
    assert set(m for m, _ in rows) == {
        "ks", "mwu", "abtest", "drift_psi", "category_psi",
        "category_chi2",
    }
    # category reference == streamed mix: a clean not-drifted verdict
    assert rows[("category_psi", "arm")]["p_value"] is None
    assert rows[("category_psi", "arm")]["significant"] is False
    assert rows[("category_chi2", "arm")]["significant"] is False

    kv = decide(ks_state(spark, ks_store), "ks").collect()[0]
    assert rows[("ks", "x")]["value"] == kv["lambda_stat"]
    assert rows[("ks", "x")]["p_value"] == kv["p_value"]
    assert rows[("ks", "x")]["significant"] is True  # planted +6 shift
    assert rows[("mwu", "x")]["significant"] is True

    av = decide(abtest_state(spark, ab_store), "welch").collect()[0]
    assert rows[("abtest", "a>b")]["value"] == av["t_stat"]
    assert rows[("abtest", "a>b")]["p_value"] == av["p_value"]

    dv = drift_alarms(spark, dr_store).collect()[0]
    drow = rows[("drift_psi", "x")]
    assert drow["value"] == dv["psi"] and drow["p_value"] is None
    assert drow["significant"] == dv["alarmed"]

    with pytest.raises(ValueError, match="no store paths"):
        monitor_report(spark)


def test_category_drift_chi2_matches_batch(spark, tmp_path):
    """The categorical monitor's significance readout: chi2 over the
    store's folded bins is BIT-identical to chi2_test over the same
    folded counts (replayed here from category_drift's batch output),
    and decide() flags the planted shift."""
    from cosmap_spark.operators.diff import category_drift
    from cosmap_spark.operators.stats_tests import (
        chi2_from_counts, decide,
    )
    from cosmap_spark.streaming.ops import (
        category_drift_chi2, category_drift_stream,
    )

    ref = spark.range(900).select(
        F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("lang")
    ).localCheckpoint()
    streamed = spark.range(700).select(
        "id",
        F.concat(F.lit("c"), ((F.col("id") * 3 + 1) % 9).cast("string"))
        .alias("lang"),
    ).localCheckpoint()
    land = tmp_path / "cc_landing"
    for half in (0, 1):
        streamed.where(F.col("id") % 2 == half).select("lang").coalesce(
            1
        ).write.parquet(str(land), mode="append")
    store = str(tmp_path / "cc_store")
    q = category_drift_stream(
        (spark.readStream.schema("lang string")
         .option("maxFilesPerTrigger", 1).parquet(str(land))),
        store, str(tmp_path / "cc_ck"), cols=["lang"], top_n=5,
        reference=ref,
    )
    q.awaitTermination(180)

    live = category_drift_chi2(spark, store).collect()[0]
    # batch twin: chi2 over the SAME folded bins — category_drift's
    # (column, category, n_old, n_new) output IS that count table
    folded = category_drift(
        ref, streamed.select("lang"), ["lang"], top_n=5
    ).select(
        "column", "category",
        F.col("n_old").alias("n_o"), F.col("n_new").alias("n_n"),
    )
    batch = chi2_from_counts(folded).collect()[0]
    assert tuple(live) == tuple(batch)  # exact, chi2 double included
    v = decide(category_drift_chi2(spark, store), "chi2").collect()[0]
    assert v["significant"] is True  # planted category shift


def test_fingerprint_marker_write_is_atomic(tmp_path):
    """Fingerprint ledger markers (every store on _ledgered_loop)
    must never be observable torn: a partial marker would differ from
    the replayed batch's fingerprint and turn a harmless replay window
    into the hard 'content differs' stop (round-10 advice fix).  The
    write stages to a dot-prefixed temp and renames — a crash at the
    rename boundary leaves NO marker (replay re-appends harmlessly,
    suffix idempotence) and a retry lands the full content."""
    import os

    from cosmap_spark.streaming.ops import _write_marker_atomic

    ledger = str(tmp_path / "_epochs")
    os.makedirs(ledger)
    marker = os.path.join(ledger, "epoch-0")

    real_rename = os.rename

    def dying_rename(a, b):
        raise RuntimeError("injected crash at marker publish")

    os.rename = dying_rename
    try:
        try:
            _write_marker_atomic(marker, "fp-abc123")
        except RuntimeError:
            pass
        assert not os.path.exists(marker)  # torn marker never visible
    finally:
        os.rename = real_rename

    _write_marker_atomic(marker, "fp-abc123")
    with open(marker) as f:
        assert f.read() == "fp-abc123"
    # temp files are dot-prefixed (never mistaken for a marker)
    leftovers = [n for n in os.listdir(ledger) if n != "epoch-0"]
    assert all(n.startswith(".") for n in leftovers)


def test_store_health_page(spark, tmp_path):
    """store_health (round-10): one maintenance table in
    monitor_report's schema — epoch depth (significant at the
    compact_after threshold), orphan counts (significant when > 0),
    the interrupted-swap flag, ledger last-epoch, and per-state row
    counts for monitor stores; MOR bases are never scanned."""
    import os

    from pyspark.sql import functions as F

    from cosmap_spark.sinks.mor import (
        DELETE_COL, mor_append, mor_init,
    )
    from cosmap_spark.streaming.ops import monitor_report, store_health

    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    batch = spark.createDataFrame(
        [(1, 99, False)], f"k long, v long, {DELETE_COL} boolean"
    )

    mstore = str(tmp_path / "m")
    mor_init(base, mstore, ["k"])
    mor_append(spark, mstore, batch)
    # orphan data dir (died-before-publish)
    orphan = os.path.join(mstore, "data", "orphan123")
    os.makedirs(orphan)
    os.utime(orphan, (1, 1))

    # a fake monitor store: one state table + a ledger + an
    # interrupted swap (backup present, live missing)
    mon = str(tmp_path / "mon")
    base.limit(5).write.parquet(os.path.join(mon, "state"))
    os.makedirs(os.path.join(mon, "_epochs"))
    for e in (0, 1, 2):
        with open(os.path.join(mon, "_epochs", f"epoch-{e}"), "w") as f:
            f.write("ok")
    os.rename(os.path.join(mon, "state"),
              os.path.join(mon, "state.__merge_backup"))

    h = store_health(spark, {"m": mstore, "mon": mon}, compact_after=1)
    rows = {(r["subject"], r["statistic"]): (r["value"], r["significant"])
            for r in h.collect()}

    assert rows[("m", "mor_epochs")] == (1.0, True)  # >= compact_after
    assert ("m", "mor_oldest_delta_age_s") in rows
    assert rows[("m", "manifest_versions")] == (2.0, False)
    assert rows[("m", "orphan_data_dirs")] == (1.0, True)

    assert rows[("mon", "ledger_last_epoch")] == (2.0, False)
    assert rows[("mon", "pending_interrupted_swap:state.__merge_backup")] \
        == (1.0, True)

    # monitor_report unions the health rows in the same schema
    rep = monitor_report(spark, health_stores={"m": mstore})
    assert rep.columns == ["monitor", "subject", "statistic", "value",
                           "p_value", "significant"]
    assert rep.where(F.col("monitor") == "health").count() >= 3

    # monitor store with a LIVE state table reports its row count
    os.rename(os.path.join(mon, "state.__merge_backup"),
              os.path.join(mon, "state"))
    h2 = store_health(spark, {"mon": mon})
    rows2 = {r["statistic"]: r["value"] for r in h2.collect()}
    assert rows2["rows:state"] == 5.0

    # an upsert table's ledger sits BESIDE the table
    from cosmap_spark.streaming.ops import upsert_stream

    land = tmp_path / "up_land"
    base.limit(3).coalesce(1).write.parquet(str(land))
    table = str(tmp_path / "tbl")
    upsert_stream(
        spark.readStream.schema("k long, v long").parquet(str(land)),
        table, str(tmp_path / "up_ck"), ["k"],
    ).awaitTermination(120)
    h3 = store_health(spark, {"tbl": table})
    rows3 = {r["statistic"]: r["value"] for r in h3.collect()}
    assert rows3["ledger_last_epoch"] == 0.0


def test_store_health_sync_staleness(spark, tmp_path):
    """Replica / maintained-aggregate destinations report their sync
    cursor's source version and STALENESS (source head − synced,
    significant when behind) — the round-10 src_path stamp makes the
    lag computable from the cursor alone."""
    from pyspark.sql import functions as F

    from cosmap_spark.sinks.mor import (
        DELETE_COL, mor_append, mor_init, mor_sync, mor_sync_agg,
    )
    from cosmap_spark.streaming.ops import store_health

    src = str(tmp_path / "src")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), F.lit("a").alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    mor_init(base, src, ["k"])
    rep = str(tmp_path / "rep")
    agg = str(tmp_path / "agg")
    mor_sync(spark, src, rep)
    mor_sync_agg(spark, src, agg, group_by=["g"],
                 aggs={"c": ("count", None)})

    def lag(store):
        h = store_health(spark, {"s": store})
        return {r["statistic"]: (r["value"], r["significant"])
                for r in h.collect()}

    assert lag(rep)["sync_lag_versions"] == (0.0, False)
    assert lag(agg)["aggsync_lag_versions"] == (0.0, False)

    mor_append(spark, src, spark.createDataFrame(
        [(1, "a", 99, False)],
        f"k long, g string, v long, {DELETE_COL} boolean",
    ))
    assert lag(rep)["sync_lag_versions"] == (1.0, True)
    assert lag(agg)["aggsync_lag_versions"] == (1.0, True)
    mor_sync(spark, src, rep)
    assert lag(rep)["sync_lag_versions"] == (0.0, False)

    # a source synced through a custom CommitFS is recorded by its URI;
    # health cannot resolve that head, so it reports the cursor only
    from cosmap_spark.sinks.commit import ManifestStore

    remote_rep = str(tmp_path / "remote_rep")
    ManifestStore(remote_rep + ".sync").publish(
        {"src_version": 3, "dst_version": 1, "spec": None,
         "src_path": "s3://bucket/src"},
        expected_version=0,
    )
    facts = lag(remote_rep)
    assert facts["sync_src_version"] == (3.0, False)
    assert "sync_lag_versions" not in facts


def test_mor_sync_cross_source_refused(spark, tmp_path):
    """A destination tracks ONE source: syncing it from a different
    store refuses loudly (the cursor's src_path stamp) — for both
    mor_sync and mor_sync_agg."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cosmap_spark.sinks.mor import mor_init, mor_sync, mor_sync_agg

    base = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("a").alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    mor_init(base, a, ["k"])
    mor_init(base, b, ["k"])

    rep = str(tmp_path / "rep")
    mor_sync(spark, a, rep)
    with _pytest.raises(ValueError, match="ONE source"):
        mor_sync(spark, b, rep)

    agg = str(tmp_path / "agg")
    spec = {"c": ("count", None)}
    mor_sync_agg(spark, a, agg, group_by=["g"], aggs=spec)
    with _pytest.raises(ValueError, match="ONE source"):
        mor_sync_agg(spark, b, agg, group_by=["g"], aggs=spec)
