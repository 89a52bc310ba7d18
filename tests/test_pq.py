"""Product-quantization suite: code validity, determinism, recall of
ADC search vs exact L2 brute force (numpy reference), training
improvement, and the partial-top-k plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cosmap_spark.operators.pq import (
    _as_array,
    knn_ivfpq,
    pq_adc_topk,
    pq_encode,
    pq_train,
    _encode_batch,
)
from cosmap_spark.tables import load_table

SF = "/root/testdata/sf0.01"  # 500 vectors, dim 64


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def vecs(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    v = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    return ids, v


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, m=8, ksub=16, iters=2, dim=64)


def _exact_l2_topk(ids, v, qid, k):
    qv = v[ids == qid][0]
    d = ((v - qv) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))
    return [int(ids[i]) for i in order if ids[i] != qid][:k]


def test_codebook_shape_and_determinism(emb, books):
    a = _as_array(books)
    assert a.shape == (8, 16, 8)
    again = pq_train(emb, m=8, ksub=16, iters=2, dim=64)
    assert np.allclose(a, _as_array(again))


def test_encode_codes_in_range_and_compact(emb, books):
    enc = pq_encode(emb, books).collect()
    assert len(enc) == emb.count()
    for r in enc[:50]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    # the searchable form is 8 smallint codes vs 64 float64s: 32x
    assert 8 * 2 < 64 * 8 / 4


def test_training_reduces_quantization_error(emb, vecs):
    """Lloyd iterations must not increase total reconstruction error."""
    _, v = vecs

    def recon_err(codebooks):
        books = _as_array(codebooks)
        codes = _encode_batch(v, books)
        m, _, dsub = books.shape
        err = 0.0
        for s in range(m):
            err += (
                (v[:, s * dsub:(s + 1) * dsub] - books[s][codes[:, s]]) ** 2
            ).sum()
        return err

    e0 = recon_err(pq_train(emb, m=8, ksub=16, iters=0, dim=64))
    e2 = recon_err(pq_train(emb, m=8, ksub=16, iters=2, dim=64))
    assert e2 <= e0
    assert e2 < 0.9 * e0  # and it actually learned something


def test_adc_rerank_recall_vs_exact(spark, emb, vecs, books):
    ids, v = vecs
    queries = emb.where(F.col("vec_id") < 10)
    coded = pq_encode(emb, books)
    got = pq_adc_topk(
        coded, queries, books, k=5, rerank=50, vectors=emb
    ).collect()
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rn"], r["nid"]))
    assert set(by_q) == set(range(10))
    hits = total = 0
    for qid, pairs in by_q.items():
        assert [rn for rn, _ in sorted(pairs)] == [1, 2, 3, 4, 5]
        exact = set(_exact_l2_topk(ids, v, qid, 5))
        hits += len(exact & {nid for _, nid in pairs})
        total += 5
    recall = hits / total
    # pure ADC at m=8/ksub=16 sits near 0.14 on these near-uniform
    # vectors; the R=50 exact refine recovers the shortlist's content
    assert recall >= 0.5, f"ADC+rerank recall@5 {recall}"


def test_adc_deterministic_across_partitionings(spark, emb, books):
    queries = emb.where(F.col("vec_id") < 10)
    a = pq_adc_topk(pq_encode(emb, books), queries, books, k=5).collect()
    b = pq_adc_topk(
        pq_encode(emb.repartition(13), books), queries, books, k=5
    ).collect()
    key = lambda r: (r["qid"], r["rn"])  # noqa: E731
    assert sorted(map(tuple, a), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, b), key=lambda t: (t[0], t[3])
    ), "partial top-k must be partition-layout independent"
    assert {key(r) for r in a} == {(q, rn) for q in range(10) for rn in range(1, 6)}


def test_ivfpq_recall_and_plan(spark, emb, vecs):
    ids, v = vecs
    queries = emb.where(F.col("vec_id") < 10)
    out = knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=6, m=8, ksub=16, rerank=50
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    rows = out.collect()
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r["qid"], set()).add(r["nid"])
    hits = total = 0
    for qid, got in by_q.items():
        exact = set(_exact_l2_topk(ids, v, qid, 5))
        hits += len(exact & got)
        total += 5
    recall = hits / total
    # 6/8 lists probed caps attainable recall; the exact refine removes
    # ADC error within probed lists.  Lenient floor — brute force is
    # the recall oracle, not the bar.
    assert recall >= 0.5, f"IVF-PQ recall@5 {recall}"


def test_ivfpq_gate_parameters_recall_floor(spark, emb, vecs):
    """The q_knn_ann ``ivfpq`` branch ships nlist=16/nprobe=14/m=16/
    ksub=64/rerank=100 (queries/llm_ops.py) — measured recall@5 = 0.98
    on the driver embeddings.  The gate row is rows-only (ANN recall is
    probabilistic by contract), so THIS test is where those defaults are
    held honest: the floor is pinned at the exact ledger parameters.
    (The i.i.d. embeddings are IVF's worst case — see the ledger
    comment; recall ≥ 0.9 costs nprobe=14/16 on this data.)"""
    ids, v = vecs
    queries = emb.where(F.col("vec_id") < 10)
    out = knn_ivfpq(
        emb, queries, k=5, nlist=16, nprobe=14, m=16, ksub=64, rerank=100
    )
    by_q: dict[int, set[int]] = {}
    for r in out.collect():
        by_q.setdefault(r["qid"], set()).add(r["nid"])
    hits = total = 0
    for qid, got in by_q.items():
        exact = set(_exact_l2_topk(ids, v, qid, 5))
        hits += len(exact & got)
        total += 5
    recall = hits / total
    assert recall >= 0.9, f"gate-parameter IVF-PQ recall@5 {recall}"


def test_adc_topk_deterministic_with_duplicate_vectors(spark, emb, books):
    """Exact-duplicate vectors (a dedup engine's normal case) produce
    ADC distance TIES; the per-batch partial top-k must apply the full
    (dist, nid) order so results stay partition-layout independent."""
    dup = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)  # every vector exists twice
    queries = emb.where(F.col("vec_id") < 6)
    a = sorted(
        (r["qid"], r["rn"], r["nid"])
        for r in pq_adc_topk(
            pq_encode(corpus, books), queries, books, k=5
        ).collect()
    )
    b = sorted(
        (r["qid"], r["rn"], r["nid"])
        for r in pq_adc_topk(
            pq_encode(corpus.repartition(17), books), queries, books, k=5
        ).collect()
    )
    assert a == b


def test_persisted_artifacts_equal_self_built(spark, emb):
    """The full persisted-index serve path (prebuilt IVF assignment +
    codebooks + coded corpus + LSH buckets) must return EXACTLY what
    the self-building path returns — persistence is a cost split, never
    a semantics change."""
    from cosmap_spark.operators.knn import ivf_build, lsh_build, knn_lsh
    from cosmap_spark.operators.pq import pq_encode

    queries = emb.where(F.col("vec_id") < 6)
    cents, assigned = ivf_build(emb, nlist=8, iters=1)
    assigned = assigned.localCheckpoint(eager=True)
    books = pq_train(emb, m=8, ksub=16, iters=1)
    coded = pq_encode(
        assigned, books, id_col="nid", vec_col="nvec", keep=["cid"]
    ).localCheckpoint(eager=True)

    a = sorted(map(tuple, knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=6, m=8, ksub=16, rerank=20,
        prebuilt=(cents, assigned), codebooks=books, coded=coded,
    ).collect()))
    b = sorted(map(tuple, knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=6, m=8, ksub=16, rerank=20,
        prebuilt=(cents, assigned), codebooks=books,
    ).collect()))
    assert a == b

    lsh_idx = lsh_build(emb).localCheckpoint(eager=True)
    la = sorted(map(tuple, knn_lsh(
        emb, queries, k=5, prebuilt_buckets=lsh_idx
    ).collect()))
    lb = sorted(map(tuple, knn_lsh(emb, queries, k=5).collect()))
    assert la == lb


def test_lsh_v1_bucket_table_serves_identically(spark, emb):
    """Round 11: ``lsh_build`` persists ``nnorm`` (schema v2) so the
    re-rank cosine pays one dot fold per pair.  A v1 table (no
    ``nnorm`` column — any index persisted before round 11) must serve
    bit-identically: ``knn_lsh`` derives the column on load.  Also pins
    the v2 schema and that multiprobe works against both versions."""
    from cosmap_spark.operators.knn import knn_lsh, lsh_build

    queries = emb.where(F.col("vec_id") < 6)
    v2 = lsh_build(emb).localCheckpoint(eager=True)
    assert "nnorm" in v2.columns  # the persisted v2 contract
    v1 = v2.drop("nnorm")  # exactly what a pre-round-11 table loads as
    for probes in (0, 1):
        a = sorted(map(tuple, knn_lsh(
            emb, queries, k=5, prebuilt_buckets=v2, multiprobe=probes
        ).collect()))
        b = sorted(map(tuple, knn_lsh(
            emb, queries, k=5, prebuilt_buckets=v1, multiprobe=probes
        ).collect()))
        assert a == b and len(a) > 0


def test_coded_without_matching_artifacts_rejected(spark, emb, books):
    from cosmap_spark.operators.knn import ivf_build
    from cosmap_spark.operators.pq import pq_encode

    coded = pq_encode(emb, books)
    # without the matching IVF index: probes would hit the wrong lists
    with pytest.raises(ValueError, match="prebuilt"):
        knn_ivfpq(emb, emb.limit(2), k=2, coded=coded)
    # with the index but without the matching codebooks: LUTs undefined
    index = ivf_build(emb, nlist=8, iters=1)
    with pytest.raises(ValueError, match="codebooks"):
        knn_ivfpq(emb, emb.limit(2), k=2, nlist=8, prebuilt=index, coded=coded)


def _recall_at_5(out_rows, ids, v):
    by_q: dict[int, set[int]] = {}
    for r in out_rows:
        by_q.setdefault(r["qid"], set()).add(r["nid"])
    hits = total = 0
    for qid, got in by_q.items():
        hits += len(set(_exact_l2_topk(ids, v, qid, 5)) & got)
        total += 5
    return hits / total


def test_residual_ivfpq_recall_at_least_raw(spark, emb, vecs):
    """residual=True (FAISS IVFPQ layout: codes quantize v − centroid)
    must not lose recall vs raw-vector codes at IDENTICAL parameters —
    the codebooks model a tighter distribution.  Pinned WITHOUT rerank
    so the ADC quantization quality itself is what's measured (the
    exact refine would mask it)."""
    ids, v = vecs
    queries = emb.where(F.col("vec_id") < 10)
    raw = knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=8, m=8, ksub=16, train_iters=2,
    ).collect()
    res = knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=8, m=8, ksub=16, train_iters=2,
        residual=True,
    ).collect()
    r_raw, r_res = _recall_at_5(raw, ids, v), _recall_at_5(res, ids, v)
    assert r_res >= r_raw, f"residual {r_res} < raw {r_raw}"


def test_residual_ivfpq_distances_match_numpy_adc(spark, emb, vecs):
    """Residual-mode ADC distances at nprobe=nlist must equal a numpy
    ‖(q − c_cid) − decoded residual‖² over every corpus vector: each
    returned distance matches its vector's numpy value, and each
    query's returned distances are the k smallest numpy values (the
    per-(query, list) LUT arithmetic, checked end to end)."""
    from cosmap_spark.operators.knn import ivf_build
    from cosmap_spark.operators.pq import ivf_residuals

    ids, v = vecs
    queries = emb.where(F.col("vec_id") < 8)
    idx = ivf_build(emb, nlist=8, iters=1)
    res = ivf_residuals(idx[1], idx[0])
    rbooks = pq_train(res, m=8, ksub=16, iters=1, id_col="nid", vec_col="rvec")
    rcodes = pq_encode(
        res, rbooks, id_col="nid", vec_col="rvec", keep=["cid"]
    ).localCheckpoint(eager=True)
    out = knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=8, m=8, ksub=16,
        prebuilt=idx, codebooks=rbooks, coded=rcodes, residual=True,
    ).collect()

    books = _as_array(rbooks)
    cvec = {int(c): np.asarray(vec, dtype=np.float64) for c, vec in idx[0]}
    coded = rcodes.collect()
    nids = np.array([r["nid"] for r in coded])
    cents = np.stack([cvec[int(r["cid"])] for r in coded])
    decoded = np.stack([
        np.concatenate([books[s][c] for s, c in enumerate(r["codes"])])
        for r in coded
    ])
    vpos = {int(i): n for n, i in enumerate(ids)}
    by_q: dict[int, dict[int, float]] = {}
    for r in out:
        by_q.setdefault(r["qid"], {})[r["nid"]] = r["dist"]
    assert sorted(by_q) == list(range(8))
    for qid, got in by_q.items():
        d = (((v[vpos[qid]] - cents) - decoded) ** 2).sum(axis=1)
        ref = dict(zip(nids.tolist(), d.tolist()))
        for nid, dist in got.items():
            assert abs(dist - ref[nid]) <= 1e-6, (qid, nid, dist, ref[nid])
        want = sorted(x for n, x in ref.items() if n != qid)[:5]
        assert np.allclose(sorted(got.values()), want, rtol=0, atol=1e-6), qid


def test_ivfpq_full_probe_equals_flat_adc(spark, emb, books):
    """At nprobe=nlist the probed set is the whole corpus, so
    knn_ivfpq must return EXACTLY flat pq_adc_topk's rows, with and
    without the exact-L2 rerank.  |Q|=10."""
    from cosmap_spark.operators.knn import ivf_build

    queries = emb.where(F.col("vec_id") < 10)
    idx = ivf_build(emb, nlist=8, iters=1)
    codes = pq_encode(idx[1], books, id_col="nid", vec_col="nvec", keep=["cid"])

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for rerank in (None, 20):
        ivf = knn_ivfpq(
            emb, queries, k=5, nlist=8, nprobe=8, m=8, ksub=16, rerank=rerank,
            prebuilt=idx, codebooks=books, coded=codes,
        )
        flat = pq_adc_topk(
            codes.select("nid", "codes"), queries, books, k=5, rerank=rerank,
            vectors=emb,
        )
        assert rows(ivf) == rows(flat), rerank


@pytest.mark.parametrize(
    "op, name, value",
    [
        ("knn_ivfpq", "k", 0),
        ("knn_ivfpq", "k", True),
        ("knn_ivfpq", "nlist", 0),
        ("knn_ivfpq", "nprobe", 0),
        ("knn_ivfpq", "nprobe", 2.0),
        ("knn_ivfpq", "rerank", 0),
        ("knn_ivfpq", "rerank", True),
        ("maxsim_topk", "k", 0),
        ("maxsim_topk", "k", False),
    ],
)
def test_serving_sizes_refused_by_name(spark, op, name, value):
    """A size that is not an int >= 1 (bools included) is refused by
    name when the plan is built, instead of returning no rows."""
    from cosmap_spark.operators.retrieval import maxsim_topk

    if op == "knn_ivfpq":
        vecs = spark.createDataFrame(
            [(i, [float(i % 5), float(i % 3), 1.0, float(i)]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        fn, args = knn_ivfpq, (vecs, vecs.limit(2))
        kw = {"m": 2, "ksub": 2, "dim": 4, "nlist": 2, "nprobe": 1, name: value}
    else:
        toks = spark.createDataFrame(
            [(i, [[1.0, float(i)]]) for i in range(4)],
            "doc_id long, tvecs array<array<double>>",
        )
        fn, args = maxsim_topk, (toks, toks.withColumnRenamed("doc_id", "qid"))
        kw = {name: value}
    with pytest.raises(ValueError, match=rf"^{name} must be an int >= 1"):
        fn(*args, **kw)


# ---------------------------------------------------------------- OPQ


def test_opq_rotation_orthogonal_monotone_and_invertible(spark, emb):
    """opq_train must return a genuinely ORTHOGONAL R (Procrustes via
    SVD guarantees it up to float error), a per-iteration objective
    that never increases (both alternating steps are minimizations),
    and rotate_vectors(R) then rotate_vectors(Rᵀ) must round-trip."""
    from cosmap_spark.operators.pq import opq_train, rotate_vectors

    R, books, errs = opq_train(
        emb, m=8, ksub=16, iters=3, pq_iters=1, dim=64, return_stats=True
    )
    Rm = np.asarray(R)
    assert np.allclose(Rm @ Rm.T, np.eye(64), atol=1e-9)
    assert _as_array(books).shape == (8, 16, 8)
    for a, b in zip(errs, errs[1:]):
        assert b <= a * (1 + 1e-9), f"objective increased: {errs}"
    back = rotate_vectors(
        rotate_vectors(emb, R, out_col="r1"),
        Rm.T, vec_col="r1", out_col="r2",
    ).select("embedding", "r2").limit(20).collect()
    for r in back:
        assert np.allclose(r["embedding"], r["r2"], atol=1e-9)


def test_opq_beats_plain_pq_on_correlated_data(spark):
    """The rotation exists to DECORRELATE subspaces: on data with
    strong cross-subspace correlation (8 latent factors mixed into 64
    dims — the shape of real embedding corpora), OPQ's final
    quantization error at identical m/ksub/refine budget must beat
    plain PQ's (R = I).  The i.i.d. driver embeddings can't show this
    (nothing to decorrelate); this synthetic set is where the operator
    earns its keep."""
    from cosmap_spark.operators.pq import opq_train

    rng = np.random.default_rng(7)
    z = rng.standard_normal((400, 8))
    mix = rng.standard_normal((8, 64))
    x = z @ mix + 0.05 * rng.standard_normal((400, 64))
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )

    def recon_err(codebooks, v):
        books = _as_array(codebooks)
        codes = _encode_batch(v, books)
        m, _, dsub = books.shape
        err = 0.0
        for s in range(m):
            err += (
                (v[:, s * dsub:(s + 1) * dsub] - books[s][codes[:, s]]) ** 2
            ).sum()
        return err / len(v)

    plain = recon_err(pq_train(df, m=8, ksub=16, iters=3, dim=64), x)
    _, _, errs = opq_train(
        df, m=8, ksub=16, iters=3, pq_iters=1, dim=64, return_stats=True
    )
    assert errs[-1] < plain, f"OPQ {errs[-1]} not < plain PQ {plain}"


def test_ivfpq_opq_distances_invariant_and_recall(spark, emb, vecs):
    """knn_ivfpq(opq=R): the rotation is orthogonal, so the exact
    re-rank distances computed in the ROTATED space must equal the
    true unrotated L2 distances (numpy reference) to float tolerance,
    and recall at the gate-flavor parameters keeps a pinned floor."""
    from cosmap_spark.operators.pq import opq_train

    ids, v = vecs
    R, books = opq_train(emb, m=8, ksub=16, iters=2, pq_iters=1, dim=64)
    queries = emb.where(F.col("vec_id") < 10)
    out = knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=8, m=8, ksub=16,
        rerank=100, opq=R, codebooks=None, train_iters=1,
    ).collect()
    for r in out:
        qv, nv = v[ids == r["qid"]][0], v[ids == r["nid"]][0]
        true_d = float(((qv - nv) ** 2).sum())
        assert abs(r["dist"] - true_d) < 1e-5, (r, true_d)
    by_q: dict[int, set[int]] = {}
    for r in out:
        by_q.setdefault(r["qid"], set()).add(r["nid"])
    hits = sum(
        len(set(_exact_l2_topk(ids, v, q, 5)) & got)
        for q, got in by_q.items()
    )
    # measured 0.86 at these lean (m=8, ksub=16, R=100) parameters on
    # the i.i.d. worst-case embeddings; floor pinned with headroom
    assert hits / (5 * len(by_q)) >= 0.8


@pytest.mark.parametrize(
    "op, name, value",
    [
        ("pq_adc_topk", "k", 0),
        ("pq_adc_topk", "rerank", 0),
        ("pq_adc_topk", "rerank", True),
        ("maxsim_rerank_pruned", "prune_k", 2.5),
        ("maxsim_rerank_pruned", "prune_k", True),
        ("maxsim_rerank_plaid", "prune_k", 2.5),
        ("maxsim_rerank_plaid", "prune_k", True),
        ("maxsim_token_quantizer", "nlist", 2.5),
        ("maxsim_token_quantizer", "nlist", True),
    ],
)
def test_flat_and_pruned_sizes_refused_by_name(spark, op, name, value):
    """``pq_adc_topk`` returned 0 rows for ``k=0`` and ran ``rerank=0``
    as no rerank; ``prune_k=2.5`` ran as a ``<= 2.5`` filter and
    ``prune_k=True`` failed only at execution: each is refused by name
    when the plan is built."""
    from cosmap_spark.operators import retrieval

    docs = spark.createDataFrame([], "doc_id long, tvecs array<array<double>>")
    if op == "pq_adc_topk":
        vecs = spark.createDataFrame(
            [(i, [float(i % 5), float(i % 3), 1.0, float(i)]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        books = pq_train(vecs, m=2, ksub=2, iters=0, dim=4)
        fn, args = pq_adc_topk, (pq_encode(vecs, books), vecs.limit(2), books)
        kw = {"vectors": vecs, name: value}
    elif op == "maxsim_token_quantizer":
        fn, args, kw = retrieval.maxsim_token_quantizer, (docs,), {name: value}
    else:
        short = spark.createDataFrame([], "qid long, doc_id long")
        qs = spark.createDataFrame([], "qid long, tvecs array<array<double>>")
        index = spark.createDataFrame([], "nid long, cid long")
        fn = getattr(retrieval, op)
        args, kw = (short, docs, qs, index, [(0, [1.0, 0.0])]), {name: value}
    with pytest.raises(ValueError, match=rf"^{name} must be an int >= 1"):
        fn(*args, **kw)
