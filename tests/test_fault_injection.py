"""Kill-point matrix for every persisted-store crash window.

Every plain directory in the package is replaced by one step,
sinks/writers.py::publish: the overwrite sink that Analysis.run and
both benchmark workloads end in, the merge/delete rewrites and the
streaming monitor stores.  The exactly-once story of the monitors also
rests on WHERE the epoch stamp rides relative to that replace
(streaming/ops.py::_ledgered_loop, the one ledger of every streaming
store).
This suite stops reasoning about it in comments and PROVES it: a
harness injects a simulated process death at each ordered step of
publish, restarts on the same checkpoint, and asserts the final state
equals a golden no-crash run.  Because the monitor states are exact
integers (counts, moment sums, MG counters), equality is a SHARP
double-merge detector — a re-merged epoch inflates them.  (The HLL
sketch monitor's estimates are union-idempotent, so its rows exercise
crash-resume mechanics while the integer monitors carry the
double-merge sharpness.)

Kill points, in the order publish runs them:

  after_tmp       staged directory fully written, death before ANY
                  rename — the live directory untouched, the staging
                  directory leaked under a hidden name; resume
                  re-merges.
  between_renames live directory renamed to .__merge_backup, death
                  before the staging rename (the non-atomic window
                  publish documents) — the next start must REFUSE
                  loudly (_refuse_interrupted_swap) and the documented
                  manual restore must lead back to the golden state.
  after_swap      swap fully complete (stamp INSIDE the store), death
                  before the ledger marker write — resume must restore
                  the marker WITHOUT re-merging.
  after_bootstrap the first-write twin of after_swap (publish's single
                  rename done, marker missing).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")


class KillPoint(Exception):
    pass


@contextmanager
def kill_at(step: str, subdir: str, *, nth: int = 1):
    """Patch writers.publish so the ``nth`` call whose target
    directory's basename is ``subdir`` dies at ``step``.  Discrimination
    by basename keeps construction-time sidecar freezes (drift/ks
    references under ``ref/``) out of the blast radius; the swap steps
    count only calls onto an existing directory, after_bootstrap only
    first writes.  The mid-swap deaths run the REAL publish with
    ``os.rename`` dying from its first (after_tmp) or second
    (between_renames) call on — later renames die too, since a dead
    process restores nothing — so the death lands inside publish's own
    window, not at a call boundary."""
    import cosmap_spark.sinks.writers as W

    real_publish, real_rename = W.publish, os.rename
    seen = {"n": 0}

    def dying_rename(die_at: int):
        calls = {"n": 0}

        def rename(src, dst):
            calls["n"] += 1
            if calls["n"] >= die_at:
                raise KillPoint(step)
            real_rename(src, dst)

        return rename

    def publish(path, df, **kw):
        swap = os.path.exists(path)
        if (os.path.basename(path) != subdir
                or swap != (step != "after_bootstrap")):
            return real_publish(path, df, **kw)
        seen["n"] += 1
        if seen["n"] != nth:
            return real_publish(path, df, **kw)
        if step in ("after_swap", "after_bootstrap"):
            real_publish(path, df, **kw)
            raise KillPoint(step)
        os.rename = dying_rename({"after_tmp": 1, "between_renames": 2}[step])
        try:
            real_publish(path, df, **kw)
        finally:
            os.rename = real_rename
        raise AssertionError(f"publish survived {step}")

    W.publish = publish
    try:
        yield
    finally:
        W.publish = real_publish


def _await(q):
    """Await a query, returning the streaming exception message (or
    None on clean completion)."""
    try:
        q.awaitTermination()
        return None
    except Exception as e:  # StreamingQueryException wraps foreachBatch
        try:
            q.stop()
        except Exception:
            pass
        return str(e)


# ---------------------------------------------------------------------------
# monitor specs: landing data (3 files → 3 epochs), start fn, state reader
# ---------------------------------------------------------------------------

def _land_files(spark, land, frames):
    for f in frames:
        f.coalesce(1).write.mode("append").parquet(str(land))


def _spec_sketch(spark, land):
    rows = [
        spark.range(i * 300, (i + 1) * 300).select(
            (F.col("id") % 3).alias("grp"), (F.col("id") % 97).alias("uid")
        )
        for i in range(3)
    ]
    _land_files(spark, land, rows)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import sketch_stream

        stream = (
            spark.readStream.schema("grp long, uid long")
            .option("maxFilesPerTrigger", 1).parquet(str(land))
        )
        return sketch_stream(stream, str(store), str(ckpt),
                             keys=["grp"], col="uid")

    def state(store):
        return sorted(
            (r["grp"], r["ndv"])
            for r in spark.read.parquet(str(store / "sketches"))
            .select("grp", F.hll_sketch_estimate("__sk").alias("ndv"))
            .collect()
        )

    return start, state, "sketches"


def _spec_drift(spark, land):
    ref = spark.range(0, 1000).select((F.col("id") % 50).cast("double")
                                      .alias("v"))
    rows = [
        spark.range(i * 300, (i + 1) * 300).select(
            ((F.col("id") * 7) % 60).cast("double").alias("v")
        )
        for i in range(3)
    ]
    _land_files(spark, land, rows)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import drift_stream

        stream = (
            spark.readStream.schema("v double")
            .option("maxFilesPerTrigger", 1).parquet(str(land))
        )
        return drift_stream(stream, str(store), str(ckpt),
                            cols=["v"], reference=ref)

    def state(store):
        from cosmap_spark.streaming.ops import drift_state

        return sorted(
            (r["column"], r["bin"], r["n_old"], r["n_new"])
            for r in drift_state(spark, str(store)).collect()
        )

    return start, state, "counts"


def _spec_category(spark, land):
    ref = spark.range(0, 1000).select(
        F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("c")
    )
    rows = [
        spark.range(i * 300, (i + 1) * 300).select(
            F.concat(F.lit("c"), (F.col("id") % 9).cast("string")).alias("c")
        )
        for i in range(3)
    ]
    _land_files(spark, land, rows)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import category_drift_stream

        stream = (
            spark.readStream.schema("c string")
            .option("maxFilesPerTrigger", 1).parquet(str(land))
        )
        return category_drift_stream(stream, str(store), str(ckpt),
                                     cols=["c"], reference=ref)

    def state(store):
        from cosmap_spark.streaming.ops import category_drift_state

        return sorted(
            (r["column"], r["category"], r["n_old"], r["n_new"])
            for r in category_drift_state(spark, str(store)).collect()
        )

    return start, state, "counts"


def _spec_abtest(spark, land):
    rows = [
        spark.range(i * 300, (i + 1) * 300).select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b")
            .alias("variant"),
            ((F.col("id") % 13) / 4.0).alias("value"),
        )
        for i in range(3)
    ]
    _land_files(spark, land, rows)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import abtest_stream

        stream = (
            spark.readStream.schema("variant string, value double")
            .option("maxFilesPerTrigger", 1).parquet(str(land))
        )
        return abtest_stream(stream, str(store), str(ckpt),
                             variant_col="variant", value_col="value")

    def state(store):
        return sorted(
            tuple(r[c] for c in sorted(r.asDict()))
            for r in spark.read.parquet(str(store / "arms")).collect()
        )

    return start, state, "arms"


def _spec_ks(spark, land):
    ref = spark.range(0, 1000).select(((F.col("id") % 31) / 3.0)
                                      .alias("v"))
    rows = [
        spark.range(i * 300, (i + 1) * 300).select(
            (((F.col("id") * 11) % 37) / 3.0).alias("v")
        )
        for i in range(3)
    ]
    _land_files(spark, land, rows)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import ks_stream

        stream = (
            spark.readStream.schema("v double")
            .option("maxFilesPerTrigger", 1).parquet(str(land))
        )
        return ks_stream(stream, str(store), str(ckpt),
                         cols=["v"], reference=ref)

    def state(store):
        from cosmap_spark.streaming.ops import ks_state

        return sorted(
            (r["column"], r["n_old"], r["n_new"], r["d_num"])
            for r in ks_state(spark, str(store)).collect()
        )

    return start, state, "counts"


def _spec_heavy_hitters(spark, land):
    rows = [
        spark.range(i * 300, (i + 1) * 300).select(
            (F.col("id") % (5 + i)).alias("k")
        )
        for i in range(3)
    ]
    _land_files(spark, land, rows)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import heavy_hitters_stream

        stream = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1).parquet(str(land))
        )
        return heavy_hitters_stream(stream, str(store), str(ckpt),
                                    key_col="k", k=8)

    def state(store):
        rows_ = sorted(
            (r["key"], r["mg_count"])
            for r in spark.read.parquet(str(store / "counters")).collect()
        )
        with open(str(store / "counters" / "_mg_meta.json")) as f:
            meta = json.load(f)
        return (rows_, meta["n"])

    return start, state, "counters"


def _spec_reservoir(spark, land):
    rows = [
        spark.range(i * 300, (i + 1) * 300).select(
            F.col("id").alias("uid"), (F.col("id") % 5).alias("g")
        )
        for i in range(3)
    ]
    _land_files(spark, land, rows)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import reservoir_stream

        stream = (
            spark.readStream.schema("uid long, g long")
            .option("maxFilesPerTrigger", 1).parquet(str(land))
        )
        return reservoir_stream(stream, str(store), str(ckpt),
                                k=11, key_cols=["uid"])

    def state(store):
        return sorted(
            map(tuple, spark.read.parquet(str(store / "sample")).collect())
        )

    return start, state, "sample"


def _spec_mor(spark, land):
    schema = "k long, v long, seq long"
    _land_files(spark, land, [
        spark.range(i * 50, (i + 1) * 50).select(
            (F.col("id") % 70).alias("k"), F.col("id").alias("v"),
            F.col("id").alias("seq"),
        )
        for i in range(3)
    ])

    def start(store, ckpt):
        from cosmap_spark.sinks.mor import mor_init
        from cosmap_spark.streaming.ops import mor_ingest_stream

        if not store.exists():
            mor_init(spark.createDataFrame([(0, 0, 0)], schema), str(store),
                     ["k"])
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(land))
        )
        return mor_ingest_stream(stream, str(store), str(ckpt),
                                 seq_col="seq")

    def state(store):
        from cosmap_spark.sinks.mor import mor_read

        return sorted(map(tuple, mor_read(spark, str(store)).collect()))

    return start, state, None


def _spec_upsert(spark, land):
    _land_files(spark, land, [
        spark.range(i * 50, (i + 1) * 50).select(
            (F.col("id") % 70).alias("k"), F.col("id").alias("v"),
        )
        for i in range(3)
    ])

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import upsert_stream

        stream = (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", 1).parquet(str(land))
        )
        return upsert_stream(stream, str(store), str(ckpt), ["k"])

    def state(store):
        return sorted(map(tuple, spark.read.parquet(str(store)).collect()))

    return start, state, None


# ---------------------------------------------------------------------------
# append-sink specs: each epoch lands in an epoch=<id> directory under the
# store, so they have no publish to kill and join only the replay test
# ---------------------------------------------------------------------------

def _stream(spark, land, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(str(land))
    )


def _words(width):
    """A ``text`` column of 12 words ``w<(id * width + j) % 40>``, j < 12:
    ids whose ``id * width`` agree mod 40 share their text."""
    return F.expr(
        "concat_ws(' ', transform(sequence(0, 11), "
        f"j -> concat('w', cast((id * {width} + j) % 40 AS string))))"
    ).alias("text")


def _vectors(ids):
    return ids.select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin((F.col("id") + 1) * (j + 1)) for j in range(8)])
        .cast("array<float>").alias("embedding"),
    )


def _land_docs(spark, land, width):
    _land_files(spark, land, [
        spark.range(i * 30, (i + 1) * 30).select(
            F.col("id").alias("doc_id"), _words(width)
        )
        for i in range(3)
    ])


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def _spec_write_incremental(spark, land):
    _land_files(spark, land, [
        spark.range(i * 50, (i + 1) * 50).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        for i in range(3)
    ])

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import write_incremental

        return write_incremental(_stream(spark, land, "k long, v long"),
                                 str(store), str(ckpt))

    def state(store):
        return _sorted_rows(spark.read.parquet(str(store)))

    return start, state, None


def _spec_decontaminate(spark, land):
    _land_docs(spark, land, 3)
    bench = spark.range(0, 4).select(
        F.col("id").alias("doc_id"), _words(3)
    )

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import decontaminate_stream

        return decontaminate_stream(
            _stream(spark, land, "doc_id long, text string"), bench,
            str(store), str(ckpt),
        )

    def state(store):
        return _sorted_rows(spark.read.parquet(str(store)))

    return start, state, None


def _spec_knn_serve(spark, land):
    from cosmap_spark.operators.knn import lsh_build

    _land_files(spark, land, [
        _vectors(spark.range(i * 10, (i + 1) * 10)) for i in range(3)
    ])
    index = lsh_build(_vectors(spark.range(100, 300)), dim=8)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import knn_serve_stream

        return knn_serve_stream(
            _stream(spark, land, "vec_id long, embedding array<float>"),
            index, str(store), str(ckpt), dim=8,
        )

    def state(store):
        return _sorted_rows(spark.read.parquet(str(store)))

    return start, state, None


def _spec_dedup(spark, land):
    _land_docs(spark, land, 10)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import dedup_stream

        # the signature store sits beside the pair output, so _files
        # checks that a skipped or refused epoch leaves it alone too
        return dedup_stream(
            _stream(spark, land, "doc_id long, text string"),
            f"{store}_sigs", str(store), str(ckpt),
        )

    def state(store):
        return _sorted_rows(spark.read.parquet(str(store)))

    return start, state, None


def _spec_vector_ingest(spark, land):
    _land_files(spark, land, [
        _vectors(spark.range(i * 10, (i + 1) * 10)) for i in range(3)
    ])

    def start(store, ckpt):
        from cosmap_spark.operators.index_store import save_ann_index
        from cosmap_spark.operators.knn import ivf_build
        from cosmap_spark.streaming.ops import vector_ingest_stream

        if not store.exists():
            cents, assigned = ivf_build(
                _vectors(spark.range(100, 300)), nlist=4, iters=1
            )
            save_ann_index(str(store), index=(
                cents, assigned.localCheckpoint(eager=True)
            ))
        return vector_ingest_stream(
            _stream(spark, land, "vec_id long, embedding array<float>"),
            str(store), str(ckpt),
        )

    def state(store):
        from cosmap_spark.streaming.ops import load_appended_index

        return _sorted_rows(load_appended_index(spark, str(store))[1]
                            .select("nid", "cid"))

    return start, state, None


def _spec_lex_ingest(spark, land):
    _land_docs(spark, land, 3)

    def start(store, ckpt):
        from cosmap_spark.streaming.ops import lex_ingest_stream

        return lex_ingest_stream(
            _stream(spark, land, "doc_id long, text string"),
            str(store), str(ckpt),
        )

    def state(store):
        from cosmap_spark.streaming.ops import load_appended_lex

        lex = load_appended_lex(spark, str(store))
        return _sorted_rows(lex["tf"]), lex["n_docs"]

    return start, state, None


SPECS = {
    "sketch": _spec_sketch,
    "reservoir": _spec_reservoir,
    "drift": _spec_drift,
    "category": _spec_category,
    "abtest": _spec_abtest,
    "ks": _spec_ks,
    "heavy_hitters": _spec_heavy_hitters,
}
# every foreachBatch store on the ledger: the monitors, the two CDC
# sinks, whose kill windows have their own tests below, and the six
# epoch-keyed append sinks
REPLAY_SPECS = {
    **SPECS, "mor": _spec_mor, "upsert": _spec_upsert,
    "write_incremental": _spec_write_incremental,
    "decontaminate": _spec_decontaminate, "knn_serve": _spec_knn_serve,
    "dedup": _spec_dedup, "vector_ingest": _spec_vector_ingest,
    "lex_ingest": _spec_lex_ingest,
}
STEPS = ["after_tmp", "between_renames", "after_swap", "after_bootstrap"]


@pytest.mark.parametrize("monitor", sorted(SPECS))
def test_kill_point_matrix(spark, tmp_path, monitor):
    make = SPECS[monitor]
    # golden no-crash run
    gland = tmp_path / "gold_land"
    gstart, gstate, subdir = make(spark, gland)
    gq = gstart(tmp_path / "gold_store", tmp_path / "gold_ckpt")
    assert _await(gq) is None
    golden = gstate(tmp_path / "gold_store")

    for step in STEPS:
        land = tmp_path / f"{step}_land"
        start, state, _ = make(spark, land)
        store = tmp_path / f"{step}_store"
        ckpt = tmp_path / f"{step}_ckpt"
        # after_bootstrap kills the FIRST write (epoch 0); the swap
        # steps kill the first swap (epoch 1, after a clean bootstrap)
        with kill_at(step, subdir):
            err = _await(start(store, ckpt))
        assert err is not None and "KillPoint" in err, (monitor, step, err)

        if step == "between_renames":
            # the documented refusal: live dir missing, backup present
            target = store / subdir
            assert not os.path.exists(target)
            assert os.path.exists(f"{target}.__merge_backup")
            err2 = _await(start(store, ckpt))
            assert err2 is not None and "interrupted merge swap" in err2, (
                monitor, err2)
            # manual restore per the error message, then resume
            os.rename(f"{target}.__merge_backup", target)

        resumed = _await(start(store, ckpt))
        assert resumed is None, (monitor, step, resumed)
        assert state(store) == golden, (monitor, step)


def _files(store):
    """Every file of ``store`` and of a ledger beside it, by path."""
    out = {}
    for root in glob.glob(f"{store}*"):
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, store.parent)] = f.read()
    return out


@pytest.mark.parametrize("kind", sorted(REPLAY_SPECS))
def test_rebuilt_checkpoint_replay(spark, tmp_path, kind):
    """foreachBatch delivers at least once, and a rebuilt checkpoint
    restarts at epoch 0.  Through the one ledger every store tells the
    two replays apart by content: the same landing replayed through a
    fresh checkpoint is skipped and leaves the store byte-stable; a
    landing whose epoch 0 holds other rows raises "content differs"
    and leaves the store as it was."""
    start, state, _ = REPLAY_SPECS[kind](spark, tmp_path / "land")
    store = tmp_path / "store"
    assert _await(start(store, tmp_path / "ck1")) is None
    golden, before = state(store), _files(store)
    assert before

    assert _await(start(store, tmp_path / "ck2")) is None
    assert _files(store) == before

    # a rebuilt checkpoint whose epoch 0 delivers other rows: the first
    # landed file with one of its rows twice
    land2 = tmp_path / "land2"
    start2, _, _ = REPLAY_SPECS[kind](spark, land2)
    shutil.rmtree(land2)
    first = spark.read.parquet(
        min(glob.glob(f"{tmp_path / 'land'}/*.parquet"), key=os.path.getmtime)
    )
    first.unionByName(first.limit(1)).coalesce(1).write.parquet(str(land2))
    err = _await(start2(store, tmp_path / "ck3"))
    assert err is not None and "content differs" in err, (kind, err)
    # the refusal names the store and offers only steps that neither
    # drop nor double-apply data
    assert str(store) in err, (kind, err)
    assert "resume from the checkpoint that committed" in err, (kind, err)
    assert "new store path" in err and "remove the ledger" not in err
    assert _files(store) == before
    assert state(store) == golden


def test_merge_upsert_interrupted_window(spark, tmp_path):
    """The writers-level twin: a death between merge_upsert's two
    renames leaves the table under the backup name; the next merge
    must refuse (never re-init from the batch) and the documented
    restore leads back to the golden result."""
    from cosmap_spark.sinks.writers import delete_keys, merge_upsert

    path = str(tmp_path / "table")
    base = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    upd = spark.createDataFrame([(1, 111), (999, 9)], "k long, v long")
    base.write.parquet(path)
    # golden
    gold_path = str(tmp_path / "gold")
    base.write.parquet(gold_path)
    merge_upsert(spark, gold_path, upd, ["k"])
    golden = sorted((r["k"], r["v"]) for r in
                    spark.read.parquet(gold_path).collect())

    # simulate the crash aftermath: live renamed away, tmp leaked
    os.rename(path, f"{path}.__merge_backup")
    with pytest.raises(RuntimeError, match="interrupted merge swap"):
        merge_upsert(spark, path, upd, ["k"])
    with pytest.raises(RuntimeError, match="interrupted merge swap"):
        delete_keys(spark, path, upd.select("k"), ["k"])
    os.rename(f"{path}.__merge_backup", path)
    merge_upsert(spark, path, upd, ["k"])
    got = sorted((r["k"], r["v"]) for r in
                 spark.read.parquet(path).collect())
    assert got == golden


def test_stale_backup_cleared_after_completed_swap(spark, tmp_path):
    """A crash AFTER a completed swap but before backup cleanup leaves
    live + backup both present; the next swap must treat the backup as
    stale (clear it) and proceed — pinned because publish relies on
    its _refuse_interrupted_swap for the other ordering."""
    from cosmap_spark.sinks.writers import merge_upsert

    path = str(tmp_path / "table")
    spark.range(0, 20).select(F.col("id").alias("k"),
                              F.col("id").alias("v")).write.parquet(path)
    # fake a leftover backup from a completed-but-uncleaned swap
    shutil.copytree(path, f"{path}.__merge_backup")
    upd = spark.createDataFrame([(1, 111)], "k long, v long")
    merge_upsert(spark, path, upd, ["k"])
    assert not os.path.exists(f"{path}.__merge_backup")
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[1] == 111 and len(got) == 20


def test_overwrite_sink_kill_points(spark, tmp_path):
    """The flagship sink: ``write_output(mode="overwrite")`` replaces
    its output through publish, so no death or job failure loses the
    previous output.  First write, death after the staged write, a
    Spark job failing inside the staged write, and death between the
    renames (refusal, then the documented restore)."""
    from cosmap_spark.sinks.writers import write_output

    out = tmp_path / "out"
    old = spark.range(0, 5).select(F.col("id").alias("k"))
    new = spark.range(100, 103).select(F.col("id").alias("k"))

    def rows():
        return sorted(r["k"] for r in spark.read.parquet(str(out)).collect())

    def beside():  # everything next to the output directory
        return sorted(n for n in os.listdir(tmp_path) if n != "out")

    # first write: the staged directory becomes live by one rename
    write_output(old, str(out), mode="overwrite")
    assert rows() == [0, 1, 2, 3, 4] and beside() == []

    # death after the staged write: old rows still readable; the leaked
    # staging directory is hidden from readers of the parent
    with kill_at("after_tmp", "out"), pytest.raises(KillPoint):
        write_output(new, str(out), mode="overwrite")
    assert rows() == [0, 1, 2, 3, 4]
    (leak,) = beside()
    assert leak.startswith(".out.")
    shutil.rmtree(tmp_path / leak)

    # a Spark job that fails inside the staged write: old rows intact,
    # no staging directory left
    bad = spark.range(0, 3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("k")
    )
    with pytest.raises(Exception, match="boom"):
        write_output(bad, str(out), mode="overwrite")
    assert rows() == [0, 1, 2, 3, 4] and beside() == []

    # death between the renames: the next overwrite refuses with the
    # restore instruction instead of publishing over a missing output
    with kill_at("between_renames", "out"), pytest.raises(KillPoint):
        write_output(new, str(out), mode="overwrite")
    assert not out.exists()
    with pytest.raises(RuntimeError, match="interrupted merge swap.*Restore"):
        write_output(new, str(out), mode="overwrite")
    os.rename(f"{out}.__merge_backup", out)
    assert rows() == [0, 1, 2, 3, 4]
    for n in beside():  # the staging directory the death leaked
        shutil.rmtree(tmp_path / n)
    write_output(new, str(out), mode="overwrite")
    assert rows() == [100, 101, 102] and beside() == []


# ---------------------------------------------------------------------------
# manifest-pointer column: mor_ingest_stream into a merge-on-read
# store (sinks/commit.py), killed inside the commit protocol
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("step", ["before_publish", "before_marker"])
def test_mor_manifest_ingest_kill_matrix(spark, tmp_path, step):
    """The merge-on-read store's two ordered crash windows under the
    streaming CDC ingest, restart-equality against a golden no-crash
    run (the kill-matrix discipline):

      before_publish  delta data dir fully written, death before the
                      CAS publish — the store is UNCHANGED (nothing
                      references the dir); resume re-delivers the
                      batch, a fresh dir commits, the orphan is
                      vacuum-eligible.
      before_marker   publish complete, death before the ledger
                      marker — resume re-delivers and appends a SECOND
                      identical epoch, a view no-op by the suffix-
                      idempotence law.
    """
    import cosmap_spark.sinks.commit as C
    import cosmap_spark.streaming.ops as SO
    from cosmap_spark.sinks.mor import mor_init, mor_read, mor_vacuum
    from cosmap_spark.streaming.ops import mor_ingest_stream

    schema = "k long, v long, seq long"

    def batches(land):
        b1 = spark.createDataFrame(
            [(1, 10, 1), (2, 20, 1)], schema)
        b2 = spark.createDataFrame(
            [(1, 11, 2), (3, 30, 1)], schema)
        _land_files(spark, land, [b1, b2])

    def start(store, ckpt, land):
        return mor_ingest_stream(
            (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).parquet(str(land))),
            str(store), str(ckpt), seq_col="seq",
        )

    def init(store):
        mor_init(
            spark.createDataFrame([(0, 0, 0)], schema), str(store),
            ["k"],
        )

    def view(store):
        return sorted(
            (r["k"], r["v"]) for r in mor_read(spark, str(store)).collect()
        )

    # golden no-crash run
    gland = tmp_path / "gold_land"
    batches(gland)
    init(tmp_path / "gold_store")
    assert _await(start(tmp_path / "gold_store",
                        tmp_path / "gold_ckpt", gland)) is None
    golden = view(tmp_path / "gold_store")

    land = tmp_path / f"{step}_land"
    batches(land)
    store = tmp_path / f"{step}_store"
    ckpt = tmp_path / f"{step}_ckpt"
    init(store)

    if step == "before_publish":
        real = C.LocalFS.publish_exclusive
        calls = {"n": 0}

        def dying(self, p, content):
            calls["n"] += 1
            if calls["n"] == 1:
                raise KillPoint(step)
            return real(self, p, content)

        C.LocalFS.publish_exclusive = dying
        try:
            err = _await(start(store, ckpt, land))
        finally:
            C.LocalFS.publish_exclusive = real
        assert err is not None and "KillPoint" in err
        # store unchanged: still only manifest v1, view = base row
        from cosmap_spark.sinks.commit import ManifestStore

        assert ManifestStore(str(store)).versions() == [1]
        assert view(store) == [(0, 0)]
        # the orphan dir exists and is vacuum-eligible
        assert len(os.listdir(store / "data")) == 2
        assert len(mor_vacuum(str(store), min_age_seconds=0)) == 1
    else:  # before_marker
        real = SO._write_marker_atomic
        calls = {"n": 0}

        def dying_marker(marker, content):
            calls["n"] += 1
            if calls["n"] == 1:
                raise KillPoint(step)
            return real(marker, content)

        SO._write_marker_atomic = dying_marker
        try:
            err = _await(start(store, ckpt, land))
        finally:
            SO._write_marker_atomic = real
        assert err is not None and "KillPoint" in err

    # resume on the SAME checkpoint completes and equals golden
    assert _await(start(store, ckpt, land)) is None
    assert view(store) == golden, step
    if step == "before_marker":
        # the double-append is visible in the log (two dirs for the
        # replayed epoch) but invisible in the view — suffix idempotence
        from cosmap_spark.sinks.commit import ManifestStore

        n = len(ManifestStore(str(store)).latest()[1]["epochs"])
        assert n == 3  # 2 batches + 1 replayed duplicate
