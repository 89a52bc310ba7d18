"""Empty-input behavior of the round-3 operators: every operator must
return an empty (or well-defined) result with the declared schema —
never raise — because at 100 TB a filter upstream routinely leaves a
partition-empty table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


@pytest.fixture(scope="module")
def empty_series(spark):
    return spark.createDataFrame([], "k long, t long, v double")


def test_subsequence_search_empty(spark, empty_series):
    from cosmap_spark.operators.tseries import subsequence_search

    out = subsequence_search(
        empty_series, [0.0, 1.0, 2.0], key_col="k", order_col="t",
        val_col="v",
    )
    assert out.count() == 0
    assert out.columns == ["k", "start", "dist"]


def test_edit_distance_pairs_empty(spark, empty_docs):
    from cosmap_spark.operators.dedup import edit_distance_pairs

    out = edit_distance_pairs(empty_docs)
    assert out.count() == 0 and out.columns == ["id_a", "id_b", "dist"]


def test_rollups_empty(spark):
    from cosmap_spark.operators.sketch import distinct_rollup, quantile_rollup

    ids = spark.createDataFrame([], "g string, c string, uid long")
    d = distinct_rollup(ids, ["g", "c"], "uid").collect()
    assert all(r["ndv"] == 0 for r in d)
    df = spark.createDataFrame([], "g string, c string, v double")
    q = quantile_rollup(df, ["g", "c"], "v").collect()
    for r in q:
        assert r["n"] in (0, None)


def test_corpus_diff_empty_sides(spark, empty_docs):
    from cosmap_spark.operators.diff import corpus_diff

    full = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    added = corpus_diff(empty_docs, full)
    removed = corpus_diff(full, empty_docs)
    assert {r["status"] for r in added.collect()} == {"added"}
    assert {r["status"] for r in removed.collect()} == {"removed"}
    assert corpus_diff(empty_docs, empty_docs).count() == 0


def test_expectations_empty(spark, empty_docs):
    from cosmap_spark.operators.expectations import validate

    rows = validate(
        empty_docs, [{"name": "r", "expr": "doc_id >= 0"}]
    ).collect()
    assert rows[0]["n_rows"] == 0 and rows[0]["passed"]


def test_pair_metrics_empty(spark):
    from cosmap_spark.operators.report import pair_metrics, threshold_sweep

    e = spark.createDataFrame([], "id_a long, id_b long")
    t = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = pair_metrics(e, t).collect()[0]
    assert (r["precision"], r["recall"], r["f1"]) == (0.0, 0.0, 0.0)
    es = spark.createDataFrame([], "id_a long, id_b long, score double")
    sw = threshold_sweep(es, t, [0.5]).collect()[0]
    assert sw["kept"] == 0 and sw["recall"] == 0.0


def test_heavy_hitters_and_hll_empty(spark):
    from cosmap_spark.operators.sketch import heavy_hitters_sketch

    e = spark.createDataFrame([], "k long")
    assert heavy_hitters_sketch(e, "k", k=8).count() == 0


def test_global_rank_empty(spark):
    from cosmap_spark.operators.packing import global_rank

    e = spark.createDataFrame([], "price double, oid long")
    ranked, n = global_rank(e, ["price", "oid"])
    assert n == 0 and ranked.count() == 0


def test_semantic_contamination_empty_bench(spark):
    """An empty benchmark must yield an empty result (not a crash in
    probe generation), with the declared schema."""
    from cosmap_spark.operators.knn import semantic_contamination
    from cosmap_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    out = semantic_contamination(emb, emb.where(F.lit(False)), nlist=4)
    assert out.columns == ["corpus_id", "bench_id", "sim"]
    assert out.count() == 0


def test_funnel_family_empty_events(spark):
    """Empty events through the whole behavioral family: per-user
    funnels, latency, summaries (0-count rows with 0.0 rates — the
    coalesced-SUM contract), and cohort retention all return
    well-defined frames, never raise."""
    from cosmap_spark.operators.funnel import (
        cohort_retention,
        funnel,
        funnel_latency,
        funnel_summary,
        funnel_summary_levels,
    )

    ev = spark.createDataFrame(
        [], "user_id long, event_type string, ts timestamp"
    )
    per_user = funnel(ev, ["A", "B"])
    assert per_user.count() == 0
    assert funnel_latency(per_user, 2).count() == 0
    s = funnel_summary(per_user, 2).collect()
    assert [(r["step"], r["n_users"], r["conversion_from_start"])
            for r in sorted(s, key=lambda r: r["step"])] == [
        (1, 0, 0.0), (2, 0, 0.0)]
    # segmented summary over an empty frame has no segments at all
    seg = per_user.withColumn("g", F.lit("x"))
    assert funnel_summary(seg, 2, by=["g"]).count() == 0
    lv = spark.createDataFrame([], "user_id long, steps_completed long")
    assert funnel_summary_levels(lv, 2).count() == 2  # 0-count rows
    assert cohort_retention(ev).count() == 0


def test_dedup_clusters_single_and_self_edges(spark):
    from cosmap_spark.operators.dedup import dedup_clusters

    # only self-pairs: no real edges, empty assignment
    selfs = spark.createDataFrame([(3, 3), (7, 7)], "id_a long, id_b long")
    assert dedup_clusters(selfs).count() == 0
    # one real pair, larger id first
    one = spark.createDataFrame([(9, 4)], "id_a long, id_b long")
    out = {r["id"]: r["cluster_id"]
           for r in dedup_clusters(one).collect()}
    assert out == {4: 4, 9: 4}


def test_train_bpe_batched_empty_corpus(spark):
    from cosmap_spark.operators.vocab import train_bpe

    empty = spark.createDataFrame([], "doc_id long, text string")
    s: dict = {}
    assert train_bpe(empty, n_merges=4, batch_merges=4, _stats=s) == []
    assert s["passes"] == 1


# ---------------------------------------------------------------------
# Parametrized operator-surface sweep (round 6): EVERY exported
# operator gets an empty / degenerate-input spec here, is covered by a
# targeted test above, or carries a documented exclusion reason —
# enforced by test_sweep_covers_every_export.  Specs assert the
# cheapest well-defined contract: empty in -> empty (or defined) out
# with the declared schema, never an opaque crash.
# ---------------------------------------------------------------------

import datetime as _dt


def _e(spark, schema):
    return spark.createDataFrame([], schema)


_DOCS = "doc_id long, text string"
_EV = ("user_id long, event_type string, ts timestamp, event_id long")
_PAIRS = "id_a long, id_b long"
_EMB = "vec_id long, embedding array<double>"


def _tiny_emb(spark, n=6, dim=4):
    rows = [(i, [float((i * 7 + j * 3) % 5) for j in range(dim)])
            for i in range(n)]
    return spark.createDataFrame(rows, _EMB)


def _tiny_docs(spark):
    return spark.createDataFrame(
        [(1, "a b c"), (2, "b c d"), (3, "x y z")], _DOCS
    )


def _codebooks(m=2, ksub=2, dsub=2):
    return [[[float(s + c + j) for j in range(dsub)]
             for c in range(ksub)] for s in range(m)]


def _spec_asof_join(spark):
    import cosmap_spark.operators as O
    left = _e(spark, "k long, t long")
    right = _e(spark, "k long, t long, v double")
    assert O.asof_join(left, right, on="t", by=["k"]).count() == 0
    one = spark.createDataFrame([(1, 10)], "k long, t long")
    out = O.asof_join(one, right, on="t", by=["k"]).collect()
    assert len(out) == 1 and out[0]["asof_v"] is None


def _spec_asof_join_cogroup(spark):
    import cosmap_spark.operators as O
    left = _e(spark, "k long, t long")
    right = _e(spark, "k long, t long, v double")
    assert O.asof_join_cogroup(left, right, on="t", by=["k"]).count() == 0


def _spec_apply_bpe_merge(spark):
    import cosmap_spark.operators as O
    assert O.apply_bpe_merge(_e(spark, _DOCS), "a", "b").count() == 0


def _spec_attribution(spark):
    import cosmap_spark.operators as O
    ev = _e(spark, _EV)
    assert O.attribution(
        ev, models=("first", "last", "linear", "position", "time_decay")
    ).count() == 0
    # single event that IS the conversion: one direct credit per model
    one = spark.createDataFrame(
        [(1, "purchase", _dt.datetime(2024, 1, 1), 1)], _EV
    )
    got = O.attribution(one, models=("first", "linear")).collect()
    assert {(r["model"], r["touch"]) for r in got} == {
        ("first", "direct"), ("linear", "direct")}


def _spec_bigram_model_and_nll(spark):
    import cosmap_spark.operators as O
    model = O.bigram_model(_tiny_docs(spark))
    assert O.doc_nll(_e(spark, _DOCS), model).count() == 0


def _spec_perplexity_filter(spark):
    import cosmap_spark.operators as O
    assert O.perplexity_filter(
        _e(spark, _DOCS), _tiny_docs(spark), max_avg_nll=10.0
    ).count() == 0


def _spec_bm25_search(spark):
    import cosmap_spark.operators as O
    assert O.bm25_search(_e(spark, _DOCS), {"q": "a b"}).count() == 0


def _spec_rm3(spark):
    import cosmap_spark.operators as O
    scored = _e(spark, "query_id string, __d long, score double, n_hit long")
    tf = _e(spark, "__d long, term string, tf long, __dl long")
    exp = O.rm3_expand(scored, tf, {"q": "a b"})
    # empty feedback: only the original terms survive, weight = lam/|Q|
    rows = {(r["query_id"], r["term"]): r["weight"] for r in exp.collect()}
    assert rows == {("q", "a"): 0.25, ("q", "b"): 0.25}
    assert O.bm25_search_weighted(_e(spark, _DOCS), exp).count() == 0


def _spec_phrase_match(spark):
    import cosmap_spark.operators as O
    tf, _ = O.build_lex_index(_e(spark, _DOCS), positions=True)
    assert O.phrase_match(tf, "a b").count() == 0


def _spec_phrase_search(spark):
    import cosmap_spark.operators as O
    assert O.phrase_search(_e(spark, _DOCS), {"q": "a b"}).count() == 0


def _spec_inline_tf(spark):
    import cosmap_spark.operators as O
    assert O.inline_tf(_e(spark, _DOCS)).count() == 0
    assert O.inline_tf(_e(spark, _DOCS), positions=True,
                       vocab=["a"]).count() == 0


def _spec_build_lex_index(spark):
    import cosmap_spark.operators as O
    tf, lens = O.build_lex_index(_e(spark, _DOCS))
    assert tf.count() == 0 and lens.count() == 0


def _spec_bpe_encode(spark):
    import cosmap_spark.operators as O
    assert O.bpe_encode(_e(spark, _DOCS), []).count() == 0


def _spec_bpe_pair_counts(spark):
    import cosmap_spark.operators as O
    assert O.bpe_pair_counts(_e(spark, _DOCS)).count() == 0


def _spec_classifier_auc(spark):
    import cosmap_spark.operators as O
    scores = _e(spark, "id long, score double")
    labels = _e(spark, "id long, y int")
    auc = O.classifier_auc(scores, labels)
    assert auc != auc  # NaN, same as a single-class set — never a crash


def _spec_coalesce_intervals(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "k long, start long, end long")
    assert O.coalesce_intervals(e, key_cols=["k"]).count() == 0
    one = spark.createDataFrame([(1, 0, 5)], "k long, start long, end long")
    assert O.coalesce_intervals(one, key_cols=["k"]).count() == 1


def _spec_cone_search(spark):
    import cosmap_spark.operators as O
    cat = _e(spark, "object_id long, ra double, dec double")
    smp = _e(spark, "sample_id long, ra double, dec double, radius_deg double")
    assert O.cone_search(cat, smp).count() == 0


def _spec_crossmatch(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "object_id long, ra double, dec double")
    assert O.crossmatch(e, e, radius_arcsec=1.0).count() == 0


def _spec_contamination_hits(spark):
    import cosmap_spark.operators as O
    assert O.contamination_hits(
        _e(spark, _DOCS), _tiny_docs(spark), k=2
    ).count() == 0


def _spec_corpus_report(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "doc_id long, text string, lang string")
    assert O.corpus_report(e).count() == 0


def _spec_dedup_clusters_empty(spark):
    import cosmap_spark.operators as O
    assert O.dedup_clusters(_e(spark, _PAIRS)).count() == 0


def _spec_degrees(spark):
    import cosmap_spark.operators as O
    assert O.degrees(_e(spark, "src long, dst long")).count() == 0


def _spec_pagerank(spark):
    import cosmap_spark.operators as O
    assert O.pagerank(_e(spark, "src long, dst long")).count() == 0


def _spec_heavy_hitter_categories(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "lang string, src string")
    got = O.heavy_hitter_categories(e, ["lang", "src"], top_n=3)
    assert got == {"lang": [], "src": []}


def _spec_deterministic_sample(spark):
    import cosmap_spark.operators as O
    assert O.deterministic_sample(
        _e(spark, _DOCS), 0.5, key_cols=["doc_id"]
    ).count() == 0


def _spec_diff_summary(spark):
    import cosmap_spark.operators as O
    d = O.corpus_diff(_e(spark, _DOCS), _e(spark, _DOCS))
    assert O.diff_summary(d).count() == 0


def _spec_dsir(spark):
    import cosmap_spark.operators as O
    raw, tgt = _e(spark, _DOCS), _tiny_docs(spark)
    assert O.dsir_weights(raw, tgt, buckets=16).count() == 0
    assert O.dsir_sample(raw, tgt, k=2, buckets=16).count() == 0


def _spec_enforce(spark):
    import cosmap_spark.operators as O
    O.enforce(_e(spark, _DOCS), [{"name": "r", "expr": "doc_id >= 0"}])


def _spec_quarantine(spark):
    import cosmap_spark.operators as O
    good, bad = O.quarantine(
        _e(spark, _DOCS), [{"name": "r", "expr": "doc_id >= 0"}]
    )
    assert good.count() == 0 and bad.count() == 0


def _spec_epoch_shuffle(spark):
    import cosmap_spark.operators as O
    assert O.epoch_shuffle(
        _e(spark, _DOCS), key_cols=["doc_id"], epoch=1, num_partitions=2
    ).count() == 0


def _spec_equi_depth_bin(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "v double")
    assert O.equi_depth_bin(e, "v", n_bins=4).count() == 0
    one = spark.createDataFrame([(1.0,)], "v double")
    assert O.equi_depth_bin(one, "v", n_bins=4).count() == 1


def _spec_event_paths(spark):
    import cosmap_spark.operators as O
    assert O.event_paths(_e(spark, _EV)).count() == 0
    one = spark.createDataFrame(
        [(1, "a", _dt.datetime(2024, 1, 1), 1)], _EV
    )
    assert O.event_paths(one, k=3).count() == 0  # no 3-path from 1 event


def _spec_event_transitions(spark):
    import cosmap_spark.operators as O
    assert O.event_transitions(_e(spark, _EV)).count() == 0


def _spec_exact_dedup(spark):
    import cosmap_spark.operators as O
    assert O.exact_dedup(_e(spark, _DOCS)).count() == 0


def _spec_exact_k(spark):
    import cosmap_spark.operators as O
    assert O.exact_k_sample(
        _e(spark, _DOCS), k=3, key_cols=["doc_id"]
    ).count() == 0
    e = _e(spark, "g string, doc_id long")
    assert O.exact_k_per_group(
        e, k=2, group_cols=["g"], key_cols=["doc_id"]
    ).count() == 0


def _spec_funnel_sliding(spark):
    import cosmap_spark.operators as O
    assert O.funnel_sliding(_e(spark, _EV), ["a", "b"]).count() == 0


def _spec_group_kfold(spark):
    import cosmap_spark.operators as O
    assert O.group_kfold_assign(
        _e(spark, _DOCS), group_col="doc_id"
    ).count() == 0
    assert O.kfold_assign(
        _e(spark, _DOCS), key_cols=["doc_id"]
    ).count() == 0


def _spec_grouped_trend(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "k long, x double, y double")
    assert O.grouped_trend(e, ["k"], x="x", y="y").count() == 0
    one = spark.createDataFrame([(1, 1.0, 2.0)], "k long, x double, y double")
    row = O.grouped_trend(one, ["k"], x="x", y="y").collect()[0]
    assert row["slope"] is None  # undefined slope from one point


def _spec_category_drift(spark):
    import pyspark

    import cosmap_spark.operators as O
    # lazy by design: an empty side surfaces at collect time as a
    # raise_error in the share expression (no distribution to compare)
    full = spark.createDataFrame([(1, "en")], "k long, lang string")
    out = O.category_drift(_e(spark, "k long, lang string"), full, ["lang"])
    with pytest.raises(pyspark.errors.exceptions.base.PySparkException,
                       match="no distribution"):
        out.collect()


def _spec_drift_reference(spark):
    import cosmap_spark.operators as O
    # empty reference raises by design (no distribution to freeze);
    # binning an EMPTY batch against frozen bounds is fine (0 rows)
    full = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, x double")
    with pytest.raises(ValueError, match="no non-null rows"):
        O.drift_reference(_e(spark, "k long, x double"), ["x"])
    bounds, counts = O.drift_reference(full, ["x"], bins=2)
    assert counts.count() > 0
    assert O.drift_bin_counts(
        _e(spark, "k long, x double"), ["x"], bounds
    ).count() == 0


def _spec_winnow(spark):
    import cosmap_spark.operators as O
    assert O.winnow_fingerprints(_e(spark, _DOCS)).count() == 0
    assert O.winnow_dup_pairs(_e(spark, _DOCS)).count() == 0
    short = spark.createDataFrame([(1, "a b")], _DOCS)  # < k tokens
    assert O.winnow_fingerprints(short, k=5).count() == 0


def _spec_snapshot_drift(spark):
    import pytest

    import cosmap_spark.operators as O
    # an empty side raises by design: no distribution to compare
    full = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, x double")
    with pytest.raises(ValueError, match="no non-null rows"):
        O.snapshot_drift(_e(spark, "k long, x double"), full, ["x"])
    with pytest.raises(ValueError, match="no non-null rows"):
        O.snapshot_drift(full, _e(spark, "k long, x double"), ["x"])


def _spec_maxsim(spark):
    import cosmap_spark.operators as O
    qdf = spark.createDataFrame(
        [(0, [[1.0, 0.0]])], "qid long, tvecs array<array<double>>"
    )
    e = _e(spark, "doc_id long, tvecs array<array<double>>")
    assert O.maxsim_topk(e, qdf, k=3).count() == 0
    short = _e(spark, "qid long, doc_id long")
    assert O.maxsim_rerank(short, e, qdf).count() == 0
    # empty QUERY set raises by design (nothing to score against)
    import pytest
    with pytest.raises(ValueError, match="empty query"):
        O.maxsim_topk(e, _e(spark, "qid long, tvecs array<array<double>>"))


def _spec_grouped_changepoint(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "k long, t long, v double")
    assert O.grouped_changepoint(
        e, ["k"], order_cols=["t"], val_col="v"
    ).count() == 0
    # all-NULL keys / single row: nothing reaches min_len
    rows = spark.createDataFrame(
        [(None, 0, 1.0), (1, 1, 2.0)], "k long, t long, v double"
    )
    assert O.grouped_changepoint(
        rows, ["k"], order_cols=["t"], val_col="v"
    ).count() == 0


def _spec_changepoints_binseg(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "k long, t long, v double")
    out = O.changepoints_binseg(e, ["k"], order_cols=["t"], val_col="v")
    assert out.count() == 0
    assert {"cp_pos", "stat", "iter"} <= set(out.columns)
    one = spark.createDataFrame([(1, 0, 1.0)], "k long, t long, v double")
    assert O.changepoints_binseg(
        one, ["k"], order_cols=["t"], val_col="v"
    ).count() == 0


def _spec_hamming_pairs(spark):
    import cosmap_spark.operators as O
    assert O.hamming_pairs(_e(spark, "id long, simhash long")).count() == 0


def _spec_hashed_features(spark):
    import cosmap_spark.operators as O
    assert O.hashed_features(_e(spark, _DOCS), dim=8).count() == 0
    assert O.hashed_ngram_features(_e(spark, _DOCS), buckets=8).count() == 0


def _spec_image_phash(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "media_id long, blob binary")
    assert O.image_phash(e).count() == 0
    assert O.phash_dup_pairs(e).count() == 0


def _spec_incremental_minhash(spark, tmpdir):
    import cosmap_spark.operators as O
    assert O.incremental_minhash_dedup(
        spark, _e(spark, _DOCS), str(tmpdir / "mh")
    ).count() == 0


def _spec_interval_overlap_join(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "id long, start long, end long")
    assert O.interval_overlap_join(e).count() == 0


def _spec_ivf_pq_append_empty_batch(spark):
    import cosmap_spark.operators as O
    from cosmap_spark.operators.knn import ivf_build
    emb = _tiny_emb(spark)
    index = ivf_build(emb, nlist=2, iters=1)
    n0 = index[1].count()
    cents, appended = O.ivf_append(index, _e(spark, _EMB))
    assert appended.count() == n0
    books = _codebooks()
    coded = O.pq_encode(index[1], books, id_col="nid", vec_col="nvec",
                        keep=["cid"])
    (c2, a2), coded2 = O.pq_append(index, books, coded, _e(spark, _EMB))
    assert coded2.count() == coded.count()


def _spec_ivf_residuals(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "nid long, nvec array<double>, cid long")
    assert O.ivf_residuals(e, [(0, [0.0] * 4)]).count() == 0


def _spec_knn_bruteforce(spark):
    import cosmap_spark.operators as O
    emb = _tiny_emb(spark)
    assert O.knn_bruteforce(_e(spark, _EMB), emb, k=2).count() == 0
    assert O.knn_bruteforce(emb, _e(spark, _EMB), k=2).count() == 0


def _spec_knn_ann_empty_queries(spark):
    """Training-backed ANN paths over a real tiny corpus with an EMPTY
    query set (the empty-corpus side is a configuration error for
    k-means/PQ training and raises — see EXCLUDED)."""
    import cosmap_spark.operators as O
    emb = _tiny_emb(spark, n=8)
    eq = _e(spark, _EMB)
    assert O.knn_ivf(emb, eq, k=2, nlist=2).count() == 0
    assert O.knn_lsh(emb, eq, k=2, dim=4, tables=1, planes=2).count() == 0
    assert O.knn_ivfpq(
        emb, eq, k=2, nlist=2, m=2, ksub=2, dim=4
    ).count() == 0


def _spec_pq_encode_adc(spark):
    import cosmap_spark.operators as O
    books = _codebooks()
    assert O.pq_encode(_e(spark, _EMB), books).count() == 0
    coded = O.pq_encode(_tiny_emb(spark), books)
    assert O.pq_adc_topk(coded, _e(spark, _EMB), books, k=2).count() == 0


def _spec_lsh_build(spark):
    import cosmap_spark.operators as O
    assert O.lsh_build(
        _e(spark, _EMB), dim=4, tables=1, planes=2
    ).count() == 0


def _spec_latest_per_key(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "k long, v double, seq long")
    assert O.latest_per_key(e, ["k"], seq_col="seq").count() == 0


def _spec_leakage_safe_split(spark):
    import cosmap_spark.operators as O
    assert O.leakage_safe_split(
        _e(spark, _DOCS), _e(spark, _PAIRS)
    ).count() == 0


def _spec_merge_upsert(spark):
    import cosmap_spark.operators as O
    t = _e(spark, "k long, v double")
    one = spark.createDataFrame([(1, 2.0)], "k long, v double")
    assert O.merge_upsert(t, one, ["k"]).count() == 1
    assert O.merge_upsert(one, t, ["k"]).count() == 1
    assert O.merge_upsert(t, t, ["k"]).count() == 0


def _spec_mor_reconcile(spark):
    import cosmap_spark.operators as O
    base = _e(spark, "k long, v double")
    deltas = _e(spark, "k long, v double, epoch long, __deleted boolean")
    assert O.mor_reconcile(base, deltas, ["k"]).count() == 0
    one = spark.createDataFrame([(1, 2.0)], "k long, v double")
    tomb = spark.createDataFrame(
        [(1, None, 1, True)], "k long, v double, epoch long, __deleted boolean"
    )
    assert O.mor_reconcile(one, deltas, ["k"]).count() == 1
    assert O.mor_reconcile(one, tomb, ["k"]).count() == 0
    assert O.mor_reconcile(base, tomb, ["k"]).count() == 0


def _spec_scd2_apply(spark):
    import cosmap_spark.operators as O
    dim = _e(spark, "k long, a string, valid_from timestamp, "
                    "valid_to timestamp, is_current boolean")
    upd = _e(spark, "k long, a string, ts timestamp")
    assert O.scd2_apply(dim, upd, ["k"], ts_col="ts").count() == 0
    one = spark.createDataFrame(
        [(1, "x", _dt.datetime(2024, 1, 1))], "k long, a string, ts timestamp"
    )
    out = O.scd2_apply(dim, one, ["k"], ts_col="ts").collect()
    assert len(out) == 1 and out[0]["is_current"]


def _spec_snapshot_cdc(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "k long, v double")
    one = spark.createDataFrame([(1, 2.0)], "k long, v double")
    assert O.snapshot_cdc(e, e, ["k"]).count() == 0
    ins = O.snapshot_cdc(e, one, ["k"]).collect()
    assert len(ins) == 1 and not ins[0]["deleted"]
    dels = O.snapshot_cdc(one, e, ["k"]).collect()
    assert len(dels) == 1 and dels[0]["deleted"]


def _spec_merge_sketch_tables(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "k string, __sk binary")
    assert O.merge_sketch_tables(e, e, ["k"]).count() == 0


def _spec_minhash_lsh_pairs(spark):
    import cosmap_spark.operators as O
    assert O.minhash_lsh_pairs(_e(spark, _DOCS)).count() == 0


def _spec_negative_pairs(spark):
    import cosmap_spark.operators as O
    assert O.negative_pairs(_e(spark, _DOCS), k=2).count() == 0


def _spec_ngram_jaccard_pairs(spark):
    import cosmap_spark.operators as O
    assert O.ngram_jaccard_pairs(_e(spark, _DOCS)).count() == 0


def _spec_packing(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "doc_id long, n_toks long")
    assert O.pack_bins(e, capacity=10).count() == 0
    assert O.pack_offsets(e, capacity=10).count() == 0
    assert O.row_index(e).count() == 0


def _spec_passage_dedup(spark):
    import cosmap_spark.operators as O
    assert O.passage_dedup(_e(spark, _DOCS), k=2).count() == 0


def _spec_retrieval_eval(spark):
    import cosmap_spark.operators as O
    res = _e(spark, "query_id string, doc_id long, score double")
    qrels = spark.createDataFrame(
        [("q", 1)], "query_id string, doc_id long"
    )
    assert O.retrieval_eval(res, qrels, k=2).count() == 0


def _spec_rrf_fuse(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "query_id string, doc_id long, score double")
    assert O.rrf_fuse([e, e]).count() == 0


def _spec_robust(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "v double")
    assert O.robust_outliers(e, "v").count() == 0
    assert O.winsorize(e, ["v"]).count() == 0
    one = spark.createDataFrame([(5.0,)], "v double")
    assert O.winsorize(one, ["v"]).collect()[0]["v_w"] == 5.0


def _spec_score_documents(spark):
    import cosmap_spark.operators as O
    assert O.score_documents(
        _e(spark, _DOCS), [0.0] * 8, seed=1
    ).count() == 0


def _spec_select_to_token_budget(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "doc_id long, pri double, n_toks long")
    assert O.select_to_token_budget(
        e, budget=10, priority_col="pri", token_col="n_toks",
        key_cols=["doc_id"],
    ).count() == 0


def _spec_simhash_pairs(spark):
    import cosmap_spark.operators as O
    assert O.simhash_pairs(_e(spark, _DOCS)).count() == 0


def _spec_skew_report(spark):
    import cosmap_spark.operators as O
    rep = O.skew_report(_e(spark, "k long"), ["k"])
    assert isinstance(rep, dict)


def _spec_table_profile(spark):
    import cosmap_spark.operators as O
    prof = O.table_profile(_e(spark, _DOCS))
    assert prof["n_rows"] == 0


def _spec_plan_summary(spark):
    import cosmap_spark.operators as O
    assert isinstance(O.plan_summary(_e(spark, _DOCS)), dict)


def _spec_stratified_sample(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "s string, doc_id long")
    assert O.stratified_sample(
        e, {"a": 0.5}, strata_col="s", key_cols=["doc_id"]
    ).count() == 0


def _spec_subsequence_search_multi(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "user_id long, ts long, value double")
    assert O.subsequence_search_multi(
        e, [[0.0, 1.0], [1.0, 0.0]], order_col="ts"
    ).count() == 0


def _spec_substring_dedup(spark):
    import cosmap_spark.operators as O
    assert O.substring_dedup(_e(spark, _DOCS), length=3).count() == 0


def _spec_temperature_mixture(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "src string, doc_id long")
    assert O.temperature_mixture(
        e, source_col="src", key_cols=["doc_id"]
    ).count() == 0


def _spec_token_vocab(spark):
    import cosmap_spark.operators as O
    assert O.token_vocab(_e(spark, _DOCS)).count() == 0


def _spec_uniform_samplers(spark):
    import cosmap_spark.operators as O
    assert O.uniform_sphere_samples(spark, 0).count() == 0
    assert O.uniform_box_samples(spark, 0).count() == 0


def _spec_weighted_k_sample(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "doc_id long, w double")
    assert O.weighted_k_sample(
        e, k=3, weight_col="w", key_cols=["doc_id"]
    ).count() == 0


def _spec_weighted_sample(spark):
    import cosmap_spark.operators as O
    e = _e(spark, "doc_id long, w double")
    assert O.weighted_sample(
        e, weight_col="w", key_cols=["doc_id"]
    ).count() == 0


def _spec_zorder(spark, tmpdir):
    import cosmap_spark.operators as O
    e = _e(spark, "x double, y double")
    assert O.zorder_key(e, ["x", "y"]).count() == 0
    one = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    assert O.zorder_key(one, ["x", "y"]).count() == 1
    O.write_zordered(one, str(tmpdir / "z"), ["x", "y"], num_files=1)
    assert spark.read.parquet(str(tmpdir / "z")).count() == 1


# specs that need tmp_path get it injected by the test body
_TMPDIR_SPECS = {"incremental_minhash_dedup", "write_zordered"}

def _spec_grouped_topk(spark):
    from cosmap_spark.operators.skew import grouped_topk

    e = spark.createDataFrame([], "g string, score double, uid long")
    out = grouped_topk(e, ["g"], "score", k=3, tie_cols=["uid"])
    assert out.count() == 0
    assert out.columns == ["g", "score", "uid", "rn"]


def _spec_bm25_scored(spark):
    from cosmap_spark.operators.retrieval import bm25_scored, topk_cut

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_scored(empty, {"q": "alpha"}, variants={"s": (1.2, 0.75)})
    assert out.count() == 0
    assert topk_cut(out, score_col="s").count() == 0


def _spec_kmv_leaf_merge(spark):
    from cosmap_spark.operators.sketch import kmv_leaf, merge_kmv_tables

    e = spark.createDataFrame([], "g string, v long")
    leaf = kmv_leaf(e, ["g"], "v", k=8)
    assert leaf.count() == 0
    assert merge_kmv_tables(leaf, leaf, ["g"], k=8).count() == 0


def _spec_mg_summary_merge(spark):
    from cosmap_spark.operators.sketch import merge_mg_tables, mg_summary

    e = spark.createDataFrame([], "k long")
    s, n = mg_summary(e, "k", k=4)
    assert n == 0 and s.count() == 0
    assert merge_mg_tables(s, s, k=4).count() == 0


def _spec_pagerank_quantized(spark):
    from cosmap_spark.operators.graph import pagerank_quantized

    e = spark.createDataFrame([], "src long, dst long")
    out = pagerank_quantized(e, iterations=2)
    assert out.count() == 0
    assert out.columns == ["node", "rank_units", "rank"]


def _spec_chi2_test(spark):
    import pytest as _pytest

    from cosmap_spark.operators.stats_tests import chi2_test

    e = spark.createDataFrame([], "cat string")
    with _pytest.raises(Exception, match="no distribution"):
        chi2_test(e, e, ["cat"]).collect()


def _spec_decide(spark):
    from cosmap_spark.operators.stats_tests import decide

    e = spark.createDataFrame(
        [], "column string, n_old long, n_new long, u2x long, "
            "u_stat double, z_stat double"
    )
    out = decide(e, "mwu")
    assert out.count() == 0
    assert out.columns[-2:] == ["p_value", "significant"]


def _spec_maxsim_rerank_pruned(spark):
    from cosmap_spark.operators.retrieval import maxsim_rerank_pruned

    short = spark.createDataFrame([], "qid long, doc_id long")
    docs = spark.createDataFrame(
        [], "doc_id long, tvecs array<array<double>>"
    )
    qs = spark.createDataFrame([], "qid long, tvecs array<array<double>>")
    assigned = spark.createDataFrame([], "nid long, cid long")
    out = maxsim_rerank_pruned(
        short, docs, qs, assigned, [(0, [1.0, 0.0])], prune_k=3
    )
    assert out.count() == 0


def _spec_maxsim_rerank_plaid(spark):
    from cosmap_spark.operators.retrieval import maxsim_rerank_plaid

    short = spark.createDataFrame([], "qid long, doc_id long")
    docs = spark.createDataFrame(
        [], "doc_id long, tvecs array<array<double>>"
    )
    qs = spark.createDataFrame([], "qid long, tvecs array<array<double>>")
    bags = spark.createDataFrame([], "nid long, bag array<int>")
    out = maxsim_rerank_plaid(
        short, docs, qs, bags, [(0, [1.0, 0.0])], prune_k=3
    )
    assert out.count() == 0


def _spec_phrase_match_multi(spark):
    from cosmap_spark.operators.retrieval import (
        inline_tf, phrase_match_multi,
    )

    e = spark.createDataFrame([], "doc_id long, text string")
    tf = inline_tf(e, positions=True)
    out = phrase_match_multi(tf, {"q": "a b"})
    assert out.count() == 0
    assert out.columns == ["query_id", "__d"]


SWEEP = {
    "apply_bpe_merge": _spec_apply_bpe_merge,
    "asof_join": _spec_asof_join,
    "asof_join_cogroup": _spec_asof_join_cogroup,
    "attribution": _spec_attribution,
    "bigram_model": _spec_bigram_model_and_nll,
    "doc_nll": _spec_bigram_model_and_nll,
    "perplexity_filter": _spec_perplexity_filter,
    "bm25_search": _spec_bm25_search,
    "phrase_match": _spec_phrase_match,
    "rm3_expand": _spec_rm3,
    "bm25_search_weighted": _spec_rm3,
    "phrase_search": _spec_phrase_search,
    "build_lex_index": _spec_build_lex_index,
    "inline_tf": _spec_inline_tf,
    "bpe_encode": _spec_bpe_encode,
    "bpe_pair_counts": _spec_bpe_pair_counts,
    "classifier_auc": _spec_classifier_auc,
    "coalesce_intervals": _spec_coalesce_intervals,
    "cone_search": _spec_cone_search,
    "crossmatch": _spec_crossmatch,
    "contamination_hits": _spec_contamination_hits,
    "corpus_report": _spec_corpus_report,
    "dedup_clusters": _spec_dedup_clusters_empty,
    "degrees": _spec_degrees,
    "pagerank": _spec_pagerank,
    "pagerank_quantized": _spec_pagerank_quantized,
    "chi2_test": _spec_chi2_test,
    "decide": _spec_decide,
    "maxsim_rerank_pruned": _spec_maxsim_rerank_pruned,
    "maxsim_rerank_plaid": _spec_maxsim_rerank_plaid,
    "phrase_match_multi": _spec_phrase_match_multi,
    "deterministic_sample": _spec_deterministic_sample,
    "diff_summary": _spec_diff_summary,
    "dsir_sample": _spec_dsir,
    "dsir_weights": _spec_dsir,
    "enforce": _spec_enforce,
    "quarantine": _spec_quarantine,
    "epoch_shuffle": _spec_epoch_shuffle,
    "equi_depth_bin": _spec_equi_depth_bin,
    "event_paths": _spec_event_paths,
    "event_transitions": _spec_event_transitions,
    "exact_dedup": _spec_exact_dedup,
    "exact_k_per_group": _spec_exact_k,
    "exact_k_sample": _spec_exact_k,
    "funnel_sliding": _spec_funnel_sliding,
    "group_kfold_assign": _spec_group_kfold,
    "kfold_assign": _spec_group_kfold,
    "category_drift": _spec_category_drift,
    "heavy_hitter_categories": _spec_heavy_hitter_categories,
    "drift_bin_counts": _spec_drift_reference,
    "drift_reference": _spec_drift_reference,
    "snapshot_drift": _spec_snapshot_drift,
    "winnow_dup_pairs": _spec_winnow,
    "winnow_fingerprints": _spec_winnow,
    "maxsim_topk": _spec_maxsim,
    "maxsim_rerank": _spec_maxsim,
    "grouped_changepoint": _spec_grouped_changepoint,
    "changepoints_binseg": _spec_changepoints_binseg,
    "grouped_trend": _spec_grouped_trend,
    "hamming_pairs": _spec_hamming_pairs,
    "hashed_features": _spec_hashed_features,
    "hashed_ngram_features": _spec_hashed_features,
    "image_phash": _spec_image_phash,
    "phash_dup_pairs": _spec_image_phash,
    "incremental_minhash_dedup": _spec_incremental_minhash,
    "interval_overlap_join": _spec_interval_overlap_join,
    "ivf_append": _spec_ivf_pq_append_empty_batch,
    "pq_append": _spec_ivf_pq_append_empty_batch,
    "ivf_residuals": _spec_ivf_residuals,
    "knn_bruteforce": _spec_knn_bruteforce,
    "knn_ivf": _spec_knn_ann_empty_queries,
    "knn_ivfpq": _spec_knn_ann_empty_queries,
    "knn_lsh": _spec_knn_ann_empty_queries,
    "pq_encode": _spec_pq_encode_adc,
    "pq_adc_topk": _spec_pq_encode_adc,
    "lsh_build": _spec_lsh_build,
    "latest_per_key": _spec_latest_per_key,
    "leakage_safe_split": _spec_leakage_safe_split,
    "merge_upsert": _spec_merge_upsert,
    "mor_reconcile": _spec_mor_reconcile,
    "scd2_apply": _spec_scd2_apply,
    "snapshot_cdc": _spec_snapshot_cdc,
    "merge_sketch_tables": _spec_merge_sketch_tables,
    "minhash_lsh_pairs": _spec_minhash_lsh_pairs,
    "negative_pairs": _spec_negative_pairs,
    "ngram_jaccard_pairs": _spec_ngram_jaccard_pairs,
    "pack_bins": _spec_packing,
    "pack_offsets": _spec_packing,
    "row_index": _spec_packing,
    "passage_dedup": _spec_passage_dedup,
    "retrieval_eval": _spec_retrieval_eval,
    "rrf_fuse": _spec_rrf_fuse,
    "robust_outliers": _spec_robust,
    "winsorize": _spec_robust,
    "score_documents": _spec_score_documents,
    "select_to_token_budget": _spec_select_to_token_budget,
    "simhash_pairs": _spec_simhash_pairs,
    "skew_report": _spec_skew_report,
    "table_profile": _spec_table_profile,
    "plan_summary": _spec_plan_summary,
    "stratified_sample": _spec_stratified_sample,
    "subsequence_search_multi": _spec_subsequence_search_multi,
    "substring_dedup": _spec_substring_dedup,
    "temperature_mixture": _spec_temperature_mixture,
    "token_vocab": _spec_token_vocab,
    "uniform_box_samples": _spec_uniform_samplers,
    "uniform_sphere_samples": _spec_uniform_samplers,
    "weighted_sample": _spec_weighted_sample,
    "weighted_k_sample": _spec_weighted_k_sample,
    "write_zordered": _spec_zorder,
    "zorder_key": _spec_zorder,
    "bm25_scored": _spec_bm25_scored,
    "topk_cut": _spec_bm25_scored,
    "kmv_leaf": _spec_kmv_leaf_merge,
    "merge_kmv_tables": _spec_kmv_leaf_merge,
    "mg_summary": _spec_mg_summary_merge,
    "merge_mg_tables": _spec_mg_summary_merge,
    "grouped_topk": _spec_grouped_topk,
}

# covered by the targeted tests earlier in this file
COVERED_ABOVE = {
    "subsequence_search", "edit_distance_pairs", "distinct_rollup",
    "quantile_rollup", "corpus_diff", "validate", "pair_metrics",
    "threshold_sweep", "heavy_hitters_sketch", "global_rank",
    "semantic_contamination", "funnel", "funnel_latency",
    "funnel_summary", "funnel_summary_levels", "cohort_retention",
    "train_bpe", "kmv_rollup", "segment_overlap", "opq_train",
    "rotate_vectors",
    "triangle_counts",  # tests/test_graph.py empty + triangle-free
    "ks_test",          # tests/test_stats_tests.py empty-side raise
    "welch_ttest",      # tests/test_stats_tests.py singleton/empty arms
    "mann_whitney_u",   # tests/test_stats_tests.py empty-side raise
    "proportion_ztest", # tests/test_stats_tests.py degenerate/empty arms
}

# documented exclusions: name -> why no empty-input spec applies
EXCLUDED = {
    "bm25_weight": "column expression, not a frame operator; exercised "
                   "per-(doc,term) by q_tfidf's hash-checked bm25 column",
    "kmv_estimate": "column expression over sketch arrays "
                    "(tests/test_sketch.py)",
    "kmv_jaccard": "same (sketch-array column expression)",
    "kmv_union": "same",
    "salted_agg": "combine-expression signature; correctness (incl. the "
                  "gate's hash-identity to plain groupBy) in "
                  "tests/test_skew.py — an empty input yields an empty "
                  "aggregate by construction",
    "replicated_broadcast_join": "join-shape operator; semantics incl. "
                                 "rejected join types in tests/test_skew.py",
    "ntile_from_rank": "column expression over global_rank output",
    "pruning_ratio": "pure-python arithmetic over describe_layout rows",
    "describe_layout": "filesystem diagnostic over written files; "
                       "covered in tests/test_layout.py",
    "layout_spans": "same (footer-stats reader), tests/test_layout.py",
    "save_ann_index": "I/O plumbing; empty-component behavior covered "
                      "in tests/test_index_store.py",
    "load_ann_index": "same",
    "save_lex_index": "same (lexical twin), tests/test_index_store.py",
    "load_lex_index": "same",
    "lex_append": "same — append of an empty batch is the writer's "
                  "no-overlap fast path, tests/test_index_store.py",
    "cluster_balanced_sample": "trains k-means; an empty corpus is a "
                               "configuration error (raises in training)",
    "semantic_dedup_balance": "same (k-means training)",
    "semantic_dedup_pairs": "same (k-means training)",
    "pq_train": "trains codebooks; empty corpus raises by design",
    "maxsim_token_quantizer": "trains a token-level coarse quantizer "
                              "(ivf_build); empty corpus raises by "
                              "design",
    "save_token_bags": "I/O plumbing; round-trip covered in "
                       "tests/test_retrieval.py",
    "load_token_bags": "same",
    "train_quality_classifier": "trains a model; empty labeled set "
                                "raises by design",
}


@pytest.mark.parametrize("name", sorted(set(SWEEP.values()), key=lambda f: f.__name__))
def test_operator_sweep(spark, tmp_path, name):
    import inspect
    if len(inspect.signature(name).parameters) == 2:
        name(spark, tmp_path)
    else:
        name(spark)


def test_sweep_covers_every_export(spark):
    """Every exported operator is swept here, covered by a targeted
    test above, or carries a documented exclusion reason."""
    import cosmap_spark.operators as O
    exported = {
        n for n in dir(O)
        if not n.startswith("_")
        and callable(getattr(O, n))
        and not isinstance(getattr(O, n), type)
    }
    accounted = set(SWEEP) | COVERED_ABOVE | set(EXCLUDED)
    missing = exported - accounted
    stale = accounted - exported
    assert not missing, f"unaccounted operators: {sorted(missing)}"
    assert not stale, f"stale sweep entries: {sorted(stale)}"


def test_kmv_rollup_and_overlap_empty(spark):
    from cosmap_spark.operators.sketch import kmv_rollup, segment_overlap

    df = spark.createDataFrame([], "seg string, uid long")
    out = kmv_rollup(df, ["seg"], "uid", k=16)
    # an empty corpus has no leaf groups; only the grand-total level
    # row could exist, and with zero leaves even that aggregates to
    # an empty sketch — size 0 estimate or no row, never a raise
    rows = out.collect()
    assert all(r["ndv"] in (0.0, None) for r in rows)
    assert segment_overlap(df, "seg", "uid", k=16).count() == 0


def test_opq_train_empty_raises_cleanly(spark):
    from cosmap_spark.operators.pq import opq_train, rotate_vectors

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        # seeding needs ksub rows; the error message says so instead
        # of an opaque numpy shape failure downstream
        opq_train(df, m=8, ksub=16, iters=1, dim=64)
    assert rotate_vectors(
        df, [[1.0 if i == j else 0.0 for j in range(64)] for i in range(64)]
    ).count() == 0


def test_change_feed_empty_sides(spark):
    """merge.change_feed: an EMPTY delta stack yields an empty feed
    with the full output schema; an empty snapshot classifies every
    live winner as an insert and every tombstone as nothing."""
    from pyspark.sql import functions as F

    from cosmap_spark.operators.merge import change_feed

    snap = spark.createDataFrame([(1, 10)], "k long, v long")
    empty_deltas = spark.createDataFrame(
        [], "k long, v long, epoch long, __deleted boolean"
    )
    feed = change_feed(snap, empty_deltas, ["k"], materialize=False)
    assert feed.count() == 0
    assert feed.columns == ["k", "v", "_change_type"]

    empty_snap = spark.createDataFrame([], "k long, v long")
    deltas = spark.createDataFrame(
        [(5, 50, 1, False), (6, None, 1, True)],
        "k long, v long, epoch long, __deleted boolean",
    )
    feed = change_feed(empty_snap, deltas, ["k"], materialize=False)
    got = {(r["k"], r["_change_type"]) for r in feed.collect()}
    assert got == {(5, "insert")}
    assert feed.where(F.col("_change_type") != "insert").count() == 0
