"""Sink round-trips (reference O24/O25) and sketch-accuracy bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from cosmap_spark.sinks import multi_output, write_output
from cosmap_spark.tables import load_table


def test_append_csv_roundtrip(spark, tmp_path):
    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "csv_out")
    write_output(nation, path, fmt="csv", mode="append")
    # append mode: second write adds rows
    write_output(nation, path, fmt="csv", mode="append")
    back = spark.read.option("header", True).option("inferSchema", True).csv(path)
    assert back.count() == nation.count() * 2
    assert set(back.columns) == set(nation.columns)


def test_multi_output_fanout(spark, tmp_path):
    region = load_table(spark, "/root/testdata/sf0.001", "region")
    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    multi_output({"region": region, "nation": nation}, str(tmp_path / "multi"))
    assert spark.read.parquet(str(tmp_path / "multi/region")).count() == region.count()
    assert spark.read.parquet(str(tmp_path / "multi/nation")).count() == nation.count()


def test_partitioned_write(spark, tmp_path):
    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    write_output(nation, str(tmp_path / "part"), partition_by=["n_regionkey"])
    back = spark.read.parquet(str(tmp_path / "part"))
    assert back.count() == nation.count()
    # partition dirs exist per region key
    assert any("n_regionkey=" in str(p) for p in (tmp_path / "part").iterdir())


def test_approx_count_distinct_error_bound(spark):
    """HLL++ at rsd=0.02 must land within ~3×rsd of exact (documented
    contract of q_approx_sketches's rows-only check)."""
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    row = orders.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] <= 0.06


def test_cone_search_plans_broadcast_hash_join(spark):
    """Plan-shape guard: the cone search must stay an equi hash join with
    a broadcast build side — a regression to BroadcastNestedLoopJoin
    would be quadratic at scale."""
    from cosmap_spark.operators.cone_search import cone_search
    from cosmap_spark.tables import catalog_df, samples_df

    j = cone_search(
        catalog_df(spark, "/root/testdata/sf0.001"),
        samples_df(spark, "/root/testdata/sf0.001"),
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_bucketed_join_has_no_exchange(spark):
    from cosmap_spark.sinks.bucketing import bucketed_join, write_bucketed

    SF_DIR = "/root/testdata/sf0.001"
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    write_bucketed(li, "b_lineitem", bucket_cols=["l_orderkey"], n_buckets=4,
                   sort_cols=["l_orderkey"])
    write_bucketed(orders, "b_orders", bucket_cols=["l_orderkey"], n_buckets=4,
                   sort_cols=["l_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_lineitem", "b_orders", on=["l_orderkey"])
        n = joined.count()
        assert n == load_table(spark, SF_DIR, "lineitem").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_compact_parquet_reduces_files(spark, tmp_path):
    from cosmap_spark.sinks.writers import compact_parquet

    src = str(tmp_path / "small")
    load_table(spark, "/root/testdata/sf0.001", "lineitem").repartition(16).write.parquet(src)
    import glob
    assert len(glob.glob(f"{src}/*.parquet")) >= 16
    dst = str(tmp_path / "compact")
    n = compact_parquet(spark, src, dst, target_file_mb=256)
    assert n == 1
    assert len(glob.glob(f"{dst}/*.parquet")) == 1
    assert spark.read.parquet(dst).count() == load_table(
        spark, "/root/testdata/sf0.001", "lineitem"
    ).count()


def test_tolerant_csv_quarantines_bad_rows(spark, tmp_path):
    from cosmap_spark.sources.readers import read_csv_tolerant

    p = tmp_path / "landing.csv"
    p.write_text(
        "id,val\n"
        "1,10.5\n"
        "2,not_a_number\n"     # malformed: val not double
        "3,30.25\n"
    )
    df = read_csv_tolerant(spark, str(p), "id long, val double")
    # cache first: corrupt-record column semantics require materialization
    df = df.cache()
    clean = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert clean.count() == 2
    assert bad.count() == 1
    assert "not_a_number" in bad.first()["_corrupt_record"]
    df.unpersist()


def test_zorder_write_prunes_in_both_dimensions(spark, tmp_path):
    """File/row-group min-max stats after a Z-order write must make a
    small (ra, dec) box selective; an id-ordered layout (golden-angle
    positions are uncorrelated with id) leaves nearly every file's
    bounding box covering the whole sky."""
    import glob

    import pyarrow.parquet as pq

    from cosmap_spark.operators.layout import describe_layout, write_zordered
    from cosmap_spark.tables import catalog_df

    cat = catalog_df(spark, "/root/testdata/sf0.01")
    zpath, bpath = str(tmp_path / "zorder"), str(tmp_path / "byid")
    write_zordered(
        cat, zpath, ["ra", "dec"], strategy="range",
        ranges={"ra": (0.0, 360.0), "dec": (-90.0, 90.0)},
        bits=12, num_files=32,
    )
    (
        cat.repartitionByRange(32, "object_id")
        .sortWithinPartitions("object_id")
        .write.mode("overwrite").parquet(bpath)
    )

    def frac_hit(path, box):
        (ra_lo, ra_hi), (dec_lo, dec_hi) = box
        groups = describe_layout(path, ["ra", "dec"])
        assert len(groups) >= 30, "expected ~one row group per file"
        hit = sum(
            1 for g in groups
            if g["ra_max"] >= ra_lo and g["ra_min"] <= ra_hi
            and g["dec_max"] >= dec_lo and g["dec_min"] <= dec_hi
        )
        return hit / len(groups)

    box = ((40.0, 60.0), (10.0, 30.0))  # ~1.5% of the (ra, sin dec) area
    f_z, f_id = frac_hit(zpath, box), frac_hit(bpath, box)
    assert f_id > 0.9, f"id layout should be unselective, got {f_id}"
    assert f_z <= 0.25, f"z-order layout must prune most row groups, got {f_z}"
    # and the data survives intact
    assert spark.read.parquet(zpath).count() == cat.count()


def test_orc_roundtrip(spark, tmp_path):
    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "orc_out")
    write_output(nation, path, fmt="orc", mode="overwrite")
    back = spark.read.orc(path)
    assert back.count() == nation.count()
    assert back.schema == nation.schema


def test_delete_keys_propagates_and_is_idempotent(spark, tmp_path):
    from cosmap_spark.sinks.writers import delete_keys

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "tbl")
    nation.write.parquet(path)
    n0 = nation.count()

    doomed = spark.createDataFrame([(0,), (5,), (9,)], "n_nationkey long")
    assert delete_keys(spark, path, doomed, ["n_nationkey"]) == 3
    back = spark.read.parquet(path)
    assert back.count() == n0 - 3
    assert back.where(F.col("n_nationkey").isin(0, 5, 9)).count() == 0
    # idempotent + no-op fast path: second call touches nothing
    import os

    mtime = max(os.path.getmtime(os.path.join(path, f))
                for f in os.listdir(path))
    assert delete_keys(spark, path, doomed, ["n_nationkey"]) == 0
    mtime2 = max(os.path.getmtime(os.path.join(path, f))
                 for f in os.listdir(path))
    assert mtime2 == mtime, "no-match delete must not rewrite the table"
    # missing table is a 0, not an error
    assert delete_keys(spark, str(tmp_path / "nope"), doomed, ["n_nationkey"]) == 0


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    import os

    from cosmap_spark.sinks.writers import merge_upsert_partitioned

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "ptbl")
    merge_upsert_partitioned(
        spark, path, nation, ["n_nationkey"], partition_col="n_regionkey"
    )
    n0 = nation.count()

    def files_mtime(region):
        d = os.path.join(path, f"n_regionkey={region}")
        return {f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet")}

    before = {r: files_mtime(r) for r in (0, 1, 2, 3, 4)}
    # update nation 12 (region 12 % 5 == 2) + insert a new nation there
    upd = spark.createDataFrame(
        [(97, "ATLANTIS", 2), (12, "UPDATED", 2)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    merge_upsert_partitioned(
        spark, path, upd, ["n_nationkey"], partition_col="n_regionkey"
    )
    back = spark.read.parquet(path)
    assert back.count() == n0 + 1
    got = {r["n_nationkey"]: r["n_name"]
           for r in back.where(F.col("n_regionkey") == 2).collect()}
    assert got[97] == "ATLANTIS" and got[12] == "UPDATED"
    # untouched partitions keep their exact files
    for region in (0, 1, 3, 4):
        assert files_mtime(region) == before[region], f"region {region} rewritten"


def test_jsonl_ingest_quarantines_bad_lines(spark, tmp_path):
    from cosmap_spark.sources.readers import read_jsonl_documents

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web", '
        '"meta": {"url": "http://x"}}\n'
        "{not json at all\n"
        '{"doc_id": "NaN-ish", "text": 42}\n'
    )
    df = read_jsonl_documents(spark, str(p)).cache()
    clean = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert clean.count() == 2
    assert bad.count() == 2
    got = {r["doc_id"]: r for r in clean.collect()}
    assert got[1]["text"] == "hello world"
    assert got[2]["meta"]["url"] == "http://x"
    df.unpersist()


def test_catalog_source_formats_roundtrip(spark, tmp_path):
    """read_catalog_source's format dispatch: parquet/orc column-pruned
    reads and text line reads all round-trip the written data."""
    from cosmap_spark.sinks.writers import write_output
    from cosmap_spark.sources.readers import read_catalog_source

    df = spark.range(100).select(
        "id", (F.col("id") * 2).alias("v"), F.lit("x").alias("tag")
    )
    for fmt in ("parquet", "orc"):
        p = str(tmp_path / f"cat_{fmt}")
        write_output(df, p, fmt=fmt)
        back = read_catalog_source(spark, p, fmt=fmt, columns=["id", "v"])
        assert back.columns == ["id", "v"]
        assert back.count() == 100
        assert back.agg(F.sum("v")).collect()[0][0] == 9900
    tp = str(tmp_path / "cat_text")
    df.select(F.concat_ws(",", "id", "v").alias("value")).write.text(tp)
    lines = read_catalog_source(spark, tp, fmt="text")
    assert lines.count() == 100 and lines.columns == ["value"]


def test_merge_upsert_refuses_interrupted_swap(spark, tmp_path):
    """A crash between publish's swap renames leaves only the backup; the
    next merge must refuse (reinitializing from the update batch would
    silently drop the table, then delete the backup)."""
    import os

    import pytest

    from cosmap_spark.sinks.writers import merge_upsert

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge_upsert(spark, path, df, ["k"])
    # simulate the crash window: live dir renamed away, tmp never moved
    os.rename(path, f"{path}.__merge_backup")
    upd = spark.createDataFrame([(3, "c")], "k long, v string")
    with pytest.raises(RuntimeError, match="interrupted merge swap"):
        merge_upsert(spark, path, upd, ["k"])
    # operator restores the backup as instructed -> merge proceeds
    os.rename(f"{path}.__merge_backup", path)
    merge_upsert(spark, path, upd, ["k"])
    assert sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(path).collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_and_delete_on_file_uri(spark, tmp_path):
    """A ``file:`` URI names the same table as its local path: the
    second upsert merges into the first (it must not take the new-table
    branch and keep only its own batch), and delete_keys finds rows."""
    from cosmap_spark.sinks.writers import delete_keys, merge_upsert

    uri = (tmp_path / "t").as_uri()
    assert uri.startswith("file:///")
    base = spark.range(10).select(
        F.col("id").alias("k"), F.lit("a").alias("v")
    )
    merge_upsert(spark, uri, base, ["k"])
    upd = spark.createDataFrame([(3, "b"), (10, "c")], "k long, v string")
    merge_upsert(spark, uri, upd, ["k"])
    got = {r["k"]: r["v"] for r in
           spark.read.parquet(str(tmp_path / "t")).collect()}
    assert len(got) == 11 and got[3] == "b" and got[10] == "c"
    gone = spark.createDataFrame([(3,), (10,)], "k long")
    assert delete_keys(spark, uri, gone, ["k"]) == 2
    assert sorted(
        r["k"] for r in spark.read.parquet(str(tmp_path / "t")).collect()
    ) == [k for k in range(10) if k != 3]


def test_merge_upsert_partitioned_null_and_unsafe_values(spark, tmp_path):
    """NULL partition values must land in Spark's
    __HIVE_DEFAULT_PARTITION__ directory (not a bogus 'col=None'
    sibling), and values Spark would %-escape are refused."""
    import pytest

    from cosmap_spark.sinks.writers import merge_upsert_partitioned

    path = str(tmp_path / "p")
    base = spark.createDataFrame(
        [(1, "x", "d1"), (2, "y", None)], "k long, v string, p string"
    )
    base.write.mode("overwrite").partitionBy("p").parquet(path)
    upd = spark.createDataFrame([(2, "y2", None)], "k long, v string, p string")
    merge_upsert_partitioned(spark, path, upd, ["k"], partition_col="p")
    got = sorted(
        (r["k"], r["v"], r["p"]) for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, "x", "d1"), (2, "y2", None)]
    bad = spark.createDataFrame(
        [(3, "z", "a/b")], "k long, v string, p string"
    )
    with pytest.raises(ValueError, match="escape"):
        merge_upsert_partitioned(spark, path, bad, ["k"], partition_col="p")


def test_strip_markup_amp_decodes_last(spark):
    """The escaped display form &amp;lt; must decode to the literal
    text '&lt;', never double-decode into '<'."""
    from cosmap_spark.functions.text import strip_markup

    df = spark.createDataFrame(
        [("doc shows &amp;lt;b&amp;gt; and 1 &amp; 2 and a &lt;tag&gt;",)],
        "text string",
    )
    got = df.select(strip_markup(F.col("text")).alias("t")).collect()[0]["t"]
    assert got == "doc shows &lt;b&gt; and 1 & 2 and a <tag>"


def test_ingest_catalog_files_per_zone(spark, tmp_path):
    """files_per_zone must actually fan out each zone's write (it was
    silently ignored), with dec-sliced files so min/max pruning keeps
    narrow dec ranges per file."""
    import glob

    from cosmap_spark.sources.readers import ingest_catalog

    cat = spark.createDataFrame(
        [(i, float(i % 360), -10.0 + (i % 2000) * 0.01, 20.0)
         for i in range(4000)],
        "object_id long, ra double, dec double, mag_r double",
    )
    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    ingest_catalog(cat, one, files_per_zone=1)
    ingest_catalog(cat, many, files_per_zone=4)
    def files_in(base):
        return {
            d: len(glob.glob(f"{base}/{d}/*.parquet"))
            for d in os.listdir(base) if d.startswith("zone=")
        }
    import os

    f1, f4 = files_in(one), files_in(many)
    assert set(f1) == set(f4)
    assert all(n == 1 for n in f1.values())
    assert any(n > 1 for n in f4.values())
    assert all(n <= 4 for n in f4.values())
    # same rows either way
    a = sorted(r["object_id"] for r in spark.read.parquet(one).collect())
    b = sorted(r["object_id"] for r in spark.read.parquet(many).collect())
    assert a == b


def test_merge_upsert_allow_new_columns(spark, tmp_path):
    """Sink-level ADD-only schema evolution (round-9 verdict task #4):
    with the flag, an update batch carrying a new column widens the
    table (existing rows NULL there); without it, extra columns are
    dropped by the alignment (the historical contract, unchanged).
    An old-shaped batch merged into the WIDENED table errors loudly
    (alignment needs every table column) — pinned so the failure mode
    stays a hard error, never a silent drop."""
    import pytest

    from cosmap_spark.sinks.writers import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 10), (2, 20)], "k long, v long") \
        .write.parquet(path)

    wide = spark.createDataFrame([(2, 21, "b"), (3, 30, "c")],
                                 "k long, v long, tag string")
    # without the flag: dropped
    merge_upsert(spark, path, wide, ["k"])
    assert "tag" not in spark.read.parquet(path).columns

    # with the flag: widened, old rows NULL
    merge_upsert(spark, path, wide, ["k"], allow_new_columns=True)
    got = {r["k"]: (r["v"], r["tag"])
           for r in spark.read.parquet(path).collect()}
    assert got == {1: (10, None), 2: (21, "b"), 3: (30, "c")}

    # an old-shaped batch against the widened table is LOUD (the
    # alignment needs every table column) — callers add the column
    # or use the flag path upstream
    old_shaped = spark.createDataFrame([(4, 40)], "k long, v long")
    with pytest.raises(Exception, match="tag|UNRESOLVED"):
        merge_upsert(spark, path, old_shaped, ["k"])


def test_lex_append_forwards_allow_new_columns(spark, tmp_path):
    """lex_append's schema-evolution pass-through: with matching
    schemas the flag is inert (appended ≡ rebuilt, same as the round-8
    pinning), and the underlying sink accepts it."""
    from cosmap_spark.operators.index_store import (
        lex_append, load_lex_index, save_lex_index,
    )
    from cosmap_spark.operators.retrieval import build_lex_index

    docs1 = spark.createDataFrame(
        [(1, "red fox jumps"), (2, "lazy dog sleeps")],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [(3, "red dog barks")], "doc_id long, text string",
    )
    path = str(tmp_path / "lex")
    tf, lens = build_lex_index(docs1, id_col="doc_id", text_col="text")
    save_lex_index(path, tf)
    lex_append(spark, path, docs2, id_col="doc_id", text_col="text",
               allow_new_columns=True)
    loaded = load_lex_index(spark, path)

    tf_all, _ = build_lex_index(
        docs1.union(docs2), id_col="doc_id", text_col="text"
    )
    want = sorted(map(tuple, tf_all.collect()))
    assert sorted(map(tuple, loaded["tf"].collect())) == want
    assert loaded["n_docs"] == 3
