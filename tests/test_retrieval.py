"""bm25_search: pure-python BM25 reference differential, ranking
sanity, and plan shape (query side broadcasts; top-k via ranked
window, no global sort)."""

from __future__ import annotations

import math

import pytest

from cosmap_spark.operators.retrieval import bm25_search


def _py_bm25(corpus: dict, query: str, k1=1.2, b=0.75):
    """Reference scores for every doc containing ≥1 query term."""
    tfs = {d: {} for d in corpus}
    for d, text in corpus.items():
        for t in text.split():
            tfs[d][t] = tfs[d].get(t, 0) + 1
    n = len(corpus)
    avgdl = sum(len(t.split()) for t in corpus.values()) / n
    out = {}
    for d, tf in tfs.items():
        s, hits = 0.0, 0
        for t in sorted(set(query.split())):
            if t not in tf:
                continue
            df = sum(1 for o in tfs.values() if t in o)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
            dl = sum(tf.values())
            s += idf * tf[t] * (k1 + 1) / (tf[t] + k1 * (1 - b + b * dl / avgdl))
            hits += 1
        if hits:
            out[d] = (round(s, 6), hits)
    return out


@pytest.fixture()
def corpus(spark):
    docs = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "a quick brown dog outpaces a quick fox",
        3: "lorem ipsum dolor sit amet consectetur adipiscing elit",
        4: "the dog sat on the mat with the dog",
        5: "fox fox fox fox fox",
    }
    return docs, spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )


def test_bm25_matches_python_reference(spark, corpus):
    docs, df = corpus
    queries = {"q1": "quick fox", "q2": "dog", "q3": "zebra"}
    got = {}
    for r in bm25_search(df, queries, top_n=10).collect():
        got.setdefault(r["query_id"], {})[r["doc_id"]] = (
            r["score"], r["n_hit"]
        )
    for qid, q in queries.items():
        assert got.get(qid, {}) == _py_bm25(docs, q), qid
    assert "q3" not in got  # no doc contains zebra


def test_bm25_top_n_and_tie_break(spark, corpus):
    docs, df = corpus
    out = bm25_search(df, {"q": "fox dog quick"}, top_n=2).collect()
    assert len(out) == 2
    ref = _py_bm25(docs, "fox dog quick")
    want = sorted(ref.items(), key=lambda kv: (-kv[1][0], kv[0]))[:2]
    assert [(r["doc_id"], r["score"]) for r in
            sorted(out, key=lambda r: (-r["score"], r["doc_id"]))] \
        == [(d, s) for d, (s, _) in want]


def test_bm25_rare_term_outranks_common(spark):
    """A term in 1 of 50 docs must outscore a term in 40 of 50 at
    equal tf — the idf property retrieval exists for."""
    rows = []
    for i in range(50):
        parts = ["common"] if i < 40 else []
        if i == 7:
            parts.append("rareterm")
        parts += ["filler"] * (5 - len(parts))
        rows.append((i, " ".join(parts)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["query_id"]: r for r in bm25_search(
        df, {"rare": "rareterm", "comm": "common"}, top_n=1).collect()}
    assert out["rare"]["doc_id"] == 7
    assert out["rare"]["score"] > out["comm"]["score"]


def test_bm25_empty_queries_raise(spark, corpus):
    _, df = corpus
    with pytest.raises(ValueError, match="empty query set"):
        bm25_search(df, {})


def test_bm25_plan_shape(spark, corpus):
    """Query-side tables broadcast; the scored frame's top-k is a
    ranked window partitioned by query (never a one-task global
    sort), and no Python runs anywhere."""
    _, df = corpus
    plan = bm25_search(df, {"q": "quick fox"})._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    out = bm25_search(df, {"q": "quick fox"})
    out.collect()
    # executed AQE plan strings append the INITIAL plan after the
    # final one (the CLAUDE.md double-count caveat) — count only the
    # final section
    physical = out._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in physical
    # the equi-joined query-side tables (qterms, dfreq) hash-broadcast;
    # dl rides the tf rows (round 6: no doc-length join at all on the
    # inline path); only the 1-row stats frame may ride a BNLJ
    assert physical.count("BroadcastHashJoin") >= 2
    assert physical.count("BroadcastNestedLoopJoin") <= 1


def test_rrf_fuse_reference(spark):
    """Pure-python RRF reference; a doc in both lists outranks docs in
    one despite lower single-list ranks."""
    a = spark.createDataFrame(
        [("q", 1, 10.0), ("q", 2, 9.0), ("q", 3, 8.0)],
        "query_id string, doc_id long, score double",
    )
    b = spark.createDataFrame(
        [("q", 3, 0.9), ("q", 4, 0.8), ("q", 5, 0.7)],
        "query_id string, doc_id long, score double",
    )
    from cosmap_spark.operators.retrieval import rrf_fuse

    got = {r["doc_id"]: (r["rrf"], r["n_lists"])
           for r in rrf_fuse([a, b], k=60).collect()}
    want = {
        1: round(1 / 61, 8), 2: round(1 / 62, 8),
        3: round(1 / 63 + 1 / 61, 8),
        4: round(1 / 62, 8), 5: round(1 / 63, 8),
    }
    assert {d: v[0] for d, v in got.items()} == want
    assert got[3][1] == 2 and got[1][1] == 1
    # the consensus doc wins
    top = max(got, key=lambda d: got[d][0])
    assert top == 3


def test_retrieval_eval_metrics(spark):
    """Hand-checked metrics: q1 perfect@2, q2 first hit at rank 2,
    q3 (no relevant retrieved) scores zero; a query absent from qrels
    is dropped."""
    res = spark.createDataFrame(
        [
            ("q1", 1, 3.0), ("q1", 2, 2.0),
            ("q2", 7, 3.0), ("q2", 8, 2.0), ("q2", 9, 1.0),
            ("q3", 5, 1.0),
            ("qX", 6, 1.0),  # no qrels -> dropped
        ],
        "query_id string, doc_id long, score double",
    )
    qrels = spark.createDataFrame(
        [("q1", 1), ("q1", 2), ("q2", 8), ("q2", 99), ("q3", 42)],
        "query_id string, doc_id long",
    )
    from cosmap_spark.operators.retrieval import retrieval_eval

    got = {r["query_id"]: r for r in
           retrieval_eval(res, qrels, k=2).collect()}
    assert set(got) == {"q1", "q2", "q3"}
    import math

    assert got["q1"]["precision_at_k"] == 1.0
    assert got["q1"]["recall_at_k"] == 1.0
    assert got["q1"]["mrr"] == 1.0
    assert got["q1"]["ndcg_at_k"] == 1.0
    assert got["q2"]["precision_at_k"] == 0.5
    assert got["q2"]["recall_at_k"] == 0.5
    assert got["q2"]["mrr"] == 0.5
    # dcg = 1/log2(3); idcg for min(2 rel, k=2) = 1 + 1/log2(3)
    want_ndcg = round((1 / math.log2(3)) / (1 + 1 / math.log2(3)), 6)
    assert got["q2"]["ndcg_at_k"] == want_ndcg
    assert got["q3"]["precision_at_k"] == 0.0
    assert got["q3"]["mrr"] == 0.0
    assert got["q3"]["ndcg_at_k"] == 0.0


def test_bm25_rrf_improves_over_single_list(spark, corpus):
    """End-to-end hybrid sanity: fusing BM25 with a 'vector' list that
    agrees on the truly relevant doc ranks it first."""
    _, df = corpus
    from cosmap_spark.operators.retrieval import bm25_search, rrf_fuse

    lex = bm25_search(df, {"q": "quick dog"}, top_n=5)
    vec = spark.createDataFrame(
        [("q", 2, 0.99), ("q", 3, 0.5)],
        "query_id string, doc_id long, score double",
    )
    fused = rrf_fuse([lex, vec], top_n=3).collect()
    assert fused[0]["doc_id"] == 2 or \
        max(fused, key=lambda r: r["rrf"])["doc_id"] == 2


def _graded_eval_reference(res_rows, qrel_rows, k):
    """Pure-python graded retrieval eval (exponential gain,
    ideal from grades sorted desc cut at k; grade<=0 not relevant,
    excluded from recall's denominator; negative grades clamp)."""
    from collections import defaultdict

    res_by_q, g_by_q = defaultdict(list), {}
    for q, d, s in res_rows:
        res_by_q[q].append((-s, d))
    for q, d, g in qrel_rows:
        g_by_q[(q, d)] = max(float(g), 0.0)
    out = {}
    for q in {q for q, _, _ in qrel_rows}:
        if q not in res_by_q:
            continue
        ranked = [d for _, d in sorted(res_by_q[q])][:k]
        grades = [g_by_q.get((q, d), 0.0) for d in ranked]
        hits = sum(1 for g in grades if g > 0)
        n_rel = sum(1 for (qq, _), g in g_by_q.items()
                    if qq == q and g > 0)
        first = next((i + 1 for i, g in enumerate(grades) if g > 0), None)
        dcg = sum((2 ** g - 1) / math.log2(i + 2)
                  for i, g in enumerate(grades))
        ideal = sorted((g for (qq, _), g in g_by_q.items() if qq == q),
                       reverse=True)[:k]
        idcg = sum((2 ** g - 1) / math.log2(i + 2)
                   for i, g in enumerate(ideal))
        out[q] = (
            round(hits / k, 6),
            round(hits / n_rel, 6) if n_rel else None,
            round(1.0 / first, 6) if first else 0.0,
            round(dcg / idcg, 6) if idcg else None,
        )
    return out


def test_retrieval_eval_graded_differential(spark):
    """grade_col nDCG vs the pure-python reference: graded ordering
    sensitivity (high grade at rank 2 vs low at rank 1), explicit
    grade-0 judgments out of recall's denominator, negative-grade
    clamp, all-zero-grades query surfacing NULLs, and grade=1
    everywhere reproducing the binary metric."""
    from cosmap_spark.operators.retrieval import retrieval_eval

    res_rows = [
        ("q1", 1, 3.0), ("q1", 2, 2.0), ("q1", 3, 1.0),
        ("q2", 7, 3.0), ("q2", 8, 2.0),
        ("q3", 5, 2.0), ("q3", 6, 1.0),
    ]
    qrel_rows = [
        # q1: the BEST doc (grade 3) sits at rank 2 — graded ndcg < 1
        ("q1", 1, 1), ("q1", 2, 3), ("q1", 3, 0),  # explicit zero
        ("q2", 8, 2), ("q2", 99, -1),               # negative clamps
        ("q3", 5, 0), ("q3", 6, 0),                 # all zero -> NULLs
    ]
    res = spark.createDataFrame(
        res_rows, "query_id string, doc_id long, score double"
    )
    qrels = spark.createDataFrame(
        qrel_rows, "query_id string, doc_id long, grade int"
    )
    got = {r["query_id"]: (
        r["precision_at_k"], r["recall_at_k"], r["mrr"], r["ndcg_at_k"]
    ) for r in retrieval_eval(res, qrels, k=2, grade_col="grade").collect()}
    want = _graded_eval_reference(res_rows, qrel_rows, k=2)
    assert got == want
    assert got["q1"][3] < 1.0  # graded: best doc not first
    assert got["q3"][1] is None and got["q3"][3] is None

    # grade 1 everywhere == the binary path, metric for metric
    ones = spark.createDataFrame(
        [(q, d, 1) for q, d, g in qrel_rows],
        "query_id string, doc_id long, grade int",
    )
    binary = {r["query_id"]: r["ndcg_at_k"] for r in
              retrieval_eval(res, ones.drop("grade"), k=2).collect()}
    graded = {r["query_id"]: r["ndcg_at_k"] for r in
              retrieval_eval(res, ones, k=2, grade_col="grade").collect()}
    assert binary == graded


def test_bm25_scored_variants_one_pass(spark, corpus):
    """bm25_scored with several (k1, b) variants must equal per-variant
    bm25_search results exactly (the one-corpus-pass restructure is an
    algebraic no-op), and the prebuilt path (persisted doc-length
    table, broadcast) must be row-identical to the inline path."""
    from cosmap_spark.operators.retrieval import bm25_scored, topk_cut

    docs, df = corpus
    queries = {"q1": "quick fox", "q2": "dog the"}
    scored = bm25_scored(
        df, queries, variants={"s_a": (1.2, 0.75), "s_b": (0.0, 0.75)}
    )

    def rows(frame):
        return sorted(map(tuple, frame.collect()))

    for name, k1 in (("s_a", 1.2), ("s_b", 0.0)):
        assert rows(topk_cut(scored, score_col=name, top_n=10)) == rows(
            bm25_search(df, queries, top_n=10, k1=k1)
        ), name
    # the lens join lives on the PREBUILT path (inline carries dl
    # through the explode); it must equal the inline path
    from cosmap_spark.operators.retrieval import build_lex_index

    tf, lens = build_lex_index(df)
    pre = {"tf": tf, "lens": lens}
    want = rows(bm25_search(df, queries))
    assert rows(bm25_search(None, queries, prebuilt=pre)) == want


def test_bm25_null_text_docs_excluded_consistently(spark):
    """Regression (round-6 review): the inline corpus-stats scan must
    exclude NULL-text docs from n_docs exactly as the tf/lens paths do
    (they have no token rows), or inline and prebuilt scores diverge."""
    from cosmap_spark.operators.retrieval import build_lex_index

    df = spark.createDataFrame(
        [(1, "a b a"), (2, None), (3, "b c")], "doc_id long, text string"
    )
    queries = {"q": "a b"}

    def rows(frame):
        return sorted(map(tuple, frame.collect()))

    tf, lens = build_lex_index(df)
    want = rows(bm25_search(None, queries, prebuilt={"tf": tf, "lens": lens}))
    assert rows(bm25_search(df, queries)) == want
    assert want  # doc 1 and 3 both match


# --- late interaction (MaxSim) --------------------------------------------


def _maxsim_ref(doc_toks, q_toks, normalize=True):
    """Pure-python MaxSim with the operator's exact float contract:
    row-normalize with the zero-norm→zero rule, sequential per-cell
    dot sums (cumsum), max over doc tokens, sum over query tokens."""
    import numpy as np

    def norm(m):
        n = np.sqrt((m * m).sum(axis=1, keepdims=True))
        return np.where(n > 0, m / np.where(n > 0, n, 1.0), 0.0)

    d = np.asarray(doc_toks, dtype=np.float64)
    q = np.asarray(q_toks, dtype=np.float64)
    if normalize:
        d, q = norm(d), norm(q)
    sims = np.cumsum(d[:, None, :] * q[None, :, :], axis=-1)[..., -1]
    # sequential sum over query tokens too (numpy .sum goes pairwise
    # past 8 elements — the operator contract is cumsum everywhere)
    return float(np.cumsum(sims.max(axis=0))[-1])


def _token_frame(spark, items, name="doc_id"):
    return spark.createDataFrame(
        [(int(i), [[float(x) for x in t] for t in toks])
         for i, toks in items],
        f"{name} long, tvecs array<array<double>>",
    )


def test_maxsim_matches_reference_and_layouts(spark):
    import numpy as np

    from cosmap_spark.operators.retrieval import maxsim_topk

    rng = np.random.default_rng(17)
    docs = [(i, rng.normal(0, 1, (4, 8)).tolist()) for i in range(60)]
    queries = [(0, rng.normal(0, 1, (3, 8)).tolist()),
               (1, rng.normal(0, 1, (5, 8)).tolist())]
    ddf = _token_frame(spark, docs)
    qdf = _token_frame(spark, queries, name="qid")
    want = {}
    for qid, qt in queries:
        scored = sorted(
            ((-_maxsim_ref(dt, qt), i) for i, dt in docs)
        )[:7]
        want[qid] = [(i, round(-s, 6)) for s, i in scored]
    for layout in (ddf.repartition(8), ddf.repartition(1), ddf.repartition(3, "doc_id")):
        got = {}
        for r in maxsim_topk(layout, qdf, k=7).collect():
            got.setdefault(r["qid"], []).append(
                (r["doc_id"], r["score"], r["rn"])
            )
        for qid in want:
            ranked = sorted(got[qid], key=lambda t: t[2])
            assert [(d, s) for d, s, _ in ranked] == want[qid], qid


def test_maxsim_rerank_agrees_on_shortlist(spark):
    import numpy as np

    from cosmap_spark.operators.retrieval import maxsim_rerank, maxsim_topk

    rng = np.random.default_rng(23)
    docs = [(i, rng.normal(0, 1, (4, 8)).tolist()) for i in range(40)]
    queries = [(7, rng.normal(0, 1, (3, 8)).tolist())]
    ddf = _token_frame(spark, docs)
    qdf = _token_frame(spark, queries, name="qid")
    full = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in maxsim_topk(ddf, qdf, k=40).collect()
    }
    short = spark.createDataFrame(
        [(7, d) for d in (3, 11, 25, 39)], "qid long, doc_id long"
    )
    rer = maxsim_rerank(short, ddf, qdf).collect()
    assert len(rer) == 4
    for r in rer:
        assert r["score"] == full[(r["qid"], r["doc_id"])]
    # rn is the shortlist-internal rank, ties on doc_id
    assert [r["doc_id"] for r in sorted(rer, key=lambda r: r["rn"])] == [
        d for d, _ in sorted(
            ((d, -full[(7, d)]) for d in (3, 11, 25, 39)),
            key=lambda t: (t[1], t[0]),
        )
    ]


def test_maxsim_degenerate_tokens(spark):
    """Zero-norm tokens contribute 0 (never NaN); token-less docs are
    never retrieved; dim mismatches raise."""
    import pytest

    from cosmap_spark.operators.retrieval import maxsim_topk

    docs = [
        (1, [[1.0, 0.0], [0.0, 0.0]]),   # one live + one zero token
        (2, []),                          # no tokens: never retrieved
        (3, [[0.0, 0.0]]),                # all-zero: score 0, retrievable
    ]
    ddf = _token_frame(spark, docs)
    qdf = _token_frame(spark, [(0, [[1.0, 0.0], [0.0, 0.0]])], name="qid")
    got = {r["doc_id"]: r["score"] for r in maxsim_topk(ddf, qdf, k=5).collect()}
    assert set(got) == {1, 3}
    assert got[1] == 1.0  # live token matches; zero query token adds 0
    assert got[3] == 0.0
    bad = _token_frame(spark, [(9, [[1.0, 2.0, 3.0]])])
    with pytest.raises(Exception, match="dim"):
        maxsim_topk(bad, qdf, k=2).collect()


def test_maxsim_rerank_long_query_bit_equality(spark):
    """>8 query tokens: numpy .sum() switches to pairwise summation
    there, which made rerank scores drift by ulps from the full-scan
    reduceat path — both must stay bit-identical (sequential-sum
    contract)."""
    import numpy as np

    from cosmap_spark.operators.retrieval import maxsim_rerank, maxsim_topk

    rng = np.random.default_rng(41)
    docs = [(i, rng.normal(0, 1, (6, 8)).tolist()) for i in range(30)]
    queries = [(1, rng.normal(0, 1, (32, 8)).tolist())]  # 32 tokens
    ddf = _token_frame(spark, docs)
    qdf = _token_frame(spark, queries, name="qid")
    full = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in maxsim_topk(ddf, qdf, k=30).collect()
    }
    short = spark.createDataFrame(
        [(1, d) for d, _ in docs], "qid long, doc_id long"
    )
    rer = maxsim_rerank(short, ddf, qdf).collect()
    assert len(rer) == 30
    for r in rer:
        assert r["score"] == full[(r["qid"], r["doc_id"])], r["doc_id"]
    # the pure-python reference agrees too
    for i, dt in docs[:5]:
        assert round(_maxsim_ref(dt, queries[0][1]), 6) == full[(1, i)]


def test_maxsim_batch_k_clamps_to_k(spark):
    """batch_k below k must not prune global winners (clamped)."""
    import numpy as np

    from cosmap_spark.operators.retrieval import maxsim_topk

    rng = np.random.default_rng(9)
    docs = [(i, rng.normal(0, 1, (3, 6)).tolist()) for i in range(25)]
    queries = [(0, rng.normal(0, 1, (2, 6)).tolist())]
    ddf = _token_frame(spark, docs)
    qdf = _token_frame(spark, queries, name="qid")
    base = [(r["doc_id"], r["score"])
            for r in maxsim_topk(ddf.repartition(6), qdf, k=10)
            .orderBy("rn").collect()]
    clamped = [(r["doc_id"], r["score"])
               for r in maxsim_topk(ddf.repartition(6), qdf, k=10, batch_k=2)
               .orderBy("rn").collect()]
    assert clamped == base


def _py_phrase_docs(corpus: dict, phrase: str) -> set:
    """Reference: docs whose single-space token stream contains the
    phrase's tokens adjacently, in order."""
    terms = [t for t in phrase.split(" ") if t]
    out = set()
    for d, text in corpus.items():
        toks = text.split(" ")
        for i in range(len(toks) - len(terms) + 1):
            if toks[i:i + len(terms)] == terms:
                out.add(d)
                break
    return out


def test_phrase_match_differential(spark):
    """phrase_match vs the python sliding-window reference over every
    phrase shape: multi-term, repeated-term, single-term, cross-doc
    absent, and bag-present-but-not-adjacent."""
    from cosmap_spark.operators.retrieval import build_lex_index, phrase_match

    corpus = {
        1: "the cat sat on the mat",
        2: "the mat sat on the cat",
        3: "cat the sat mat on the",
        4: "the cat the cat the cat",
        5: "a cat sat quietly",
        6: "sat the cat sat on on the mat",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    tf, _ = build_lex_index(df, positions=True)
    tf = tf.localCheckpoint()  # reuse across the phrase sweep
    for phrase in ["the cat sat", "cat sat", "the cat the cat",
                   "mat", "on the mat", "sat sat", "cat mat"]:
        got = {r["__d"] for r in phrase_match(tf, phrase).collect()}
        assert got == _py_phrase_docs(corpus, phrase), phrase
    # candidates narrow the verify without changing membership
    cand = spark.createDataFrame([(1,), (3,)], "__d long")
    got = {
        r["__d"]
        for r in phrase_match(tf, "the cat sat", candidates=cand).collect()
    }
    assert got == {1} == _py_phrase_docs(corpus, "the cat sat") & {1, 3}
    import pytest

    with pytest.raises(ValueError, match="empty phrase"):
        phrase_match(tf, "  ")
    plain_tf, _ = build_lex_index(df)
    with pytest.raises(ValueError, match="pos"):
        phrase_match(plain_tf, "cat")


def test_phrase_search_exact_recall_and_ranking(spark):
    """phrase_search returns ONLY phrase-containing docs, ranked by
    BM25 over the phrase terms — verified against _py_bm25 restricted
    to the python phrase-match set."""
    from cosmap_spark.operators.retrieval import phrase_search

    corpus = {
        1: "quick fox runs",
        2: "fox quick runs",
        3: "the quick fox quick fox den",
        4: "quick quick fox fox",
        5: "nothing relevant here",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    queries = {"p1": "quick fox", "p2": "fox quick runs"}
    got = {}
    for r in phrase_search(df, queries, top_n=10).collect():
        got.setdefault(r["query_id"], {})[r["doc_id"]] = r["score"]
    for qid, phrase in queries.items():
        want_docs = _py_phrase_docs(corpus, phrase)
        ref = _py_bm25(corpus, " ".join(sorted(set(phrase.split()))))
        assert set(got.get(qid, {})) == want_docs, qid
        for d in want_docs:
            assert abs(got[qid][d] - ref[d][0]) < 1e-9, (qid, d)


def test_maxsim_rerank_family_builds_with_zero_jobs(spark):
    """maxsim_rerank, maxsim_rerank_pruned and maxsim_rerank_plaid
    build their plans with ZERO Spark jobs under default arguments:
    queries reach the scoring kernel by an equi-join on qid, never by
    a driver collect, and the pruning proxies are computed in-plan."""
    from cosmap_spark.operators.knn import ivf_build
    from cosmap_spark.operators.retrieval import (
        maxsim_rerank, maxsim_rerank_plaid, maxsim_rerank_pruned,
        maxsim_token_quantizer,
    )

    ddf, pooled, qdf = _clustered_maxsim_fixture(spark)
    ddf, qdf = ddf.localCheckpoint(), qdf.localCheckpoint()
    cents, assigned = ivf_build(pooled, nlist=4, iters=1)
    assigned = assigned.localCheckpoint()
    tcents, bags = maxsim_token_quantizer(ddf, nlist=4)
    bags = bags.localCheckpoint()
    short = qdf.select("qid").crossJoin(ddf.select("doc_id")).localCheckpoint()

    tracker = spark.sparkContext.statusTracker()
    for name, build in (
        ("maxsim_rerank", lambda: maxsim_rerank(short, ddf, qdf)),
        ("maxsim_rerank_pruned", lambda: maxsim_rerank_pruned(
            short, ddf, qdf, assigned, cents, prune_k=10)),
        ("maxsim_rerank_plaid", lambda: maxsim_rerank_plaid(
            short, ddf, qdf, bags, tcents, prune_k=10)),
    ):
        before = len(tracker.getJobIdsForGroup(None))
        build()
        assert len(tracker.getJobIdsForGroup(None)) == before, (
            f"{name} construction ran a Spark job"
        )


def test_maxsim_string_ids(spark):
    """String doc AND query ids flow through both paths natively —
    the web-corpus shape the int-cast used to reject — with the same
    (−score, id) tie order as the reference."""
    import numpy as np

    from cosmap_spark.operators.retrieval import maxsim_rerank, maxsim_topk

    rng = np.random.default_rng(5)
    docs = [(f"url/{i:02d}", rng.normal(0, 1, (3, 6)).tolist())
            for i in range(20)]
    # two identical docs to exercise the string tie-break
    docs.append(("url/aa", docs[0][1]))
    queries = [("qA", rng.normal(0, 1, (2, 6)).tolist())]
    ddf = spark.createDataFrame(docs, "doc_id string, tvecs array<array<double>>")
    qdf = spark.createDataFrame(queries, "qid string, tvecs array<array<double>>")
    want = sorted(
        ((-_maxsim_ref(dt, queries[0][1]), d) for d, dt in docs)
    )[:5]
    got = sorted(
        maxsim_topk(ddf, qdf, k=5).collect(), key=lambda r: r["rn"]
    )
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (d, round(-s, 6)) for s, d in want
    ]
    assert all(r["qid"] == "qA" for r in got)
    short = spark.createDataFrame(
        [("qA", d) for d, _ in docs[:8]], "qid string, doc_id string"
    )
    rr = sorted(maxsim_rerank(short, ddf, qdf).collect(), key=lambda r: r["rn"])
    want_rr = sorted(
        (-_maxsim_ref(dt, queries[0][1]), d) for d, dt in docs[:8]
    )
    assert [(r["qid"], r["doc_id"], r["score"]) for r in rr] == [
        ("qA", d, round(-s, 6)) for s, d in want_rr
    ]


def test_rm3_expansion_matches_python_reference(spark):
    """RM3 PRF vs a pure-python reference: feedback-doc selection,
    RM1 weights (P(t|d)·P(d) with score-proportional P(d)),
    interpolation with the uniform query model, and the weighted
    second-pass BM25 ranking."""
    import math

    from cosmap_spark.operators.retrieval import (
        bm25_scored, bm25_search_weighted, rm3_expand,
    )

    corpus = {
        1: "spark query engine runs fast query plans",
        2: "query engine planner optimizes the query",
        3: "fast spark jobs and fast plans",
        4: "cats and dogs and more cats",
        5: "the engine of the car is fast",
        6: "planner costs and query rewrite rules",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    queries = {"qa": "query engine", "qb": "fast spark"}
    fb_docs, fb_terms, lam = 3, 4, 0.6

    scored = bm25_scored(df, queries)
    t = spark.createDataFrame(
        [
            (d, term, sum(1 for x in corpus[d].split(" ") if x == term),
             len(corpus[d].split(" ")))
            for d in corpus
            for term in sorted(set(corpus[d].split(" ")))
        ],
        "__d long, term string, tf long, __dl long",
    )
    exp = rm3_expand(
        scored, t, queries, fb_docs=fb_docs, fb_terms=fb_terms, lam=lam
    )
    got_w = {
        (r["query_id"], r["term"]): r["weight"] for r in exp.collect()
    }

    # ---- python reference ------------------------------------------
    def py_rm3(query):
        sc = _py_bm25(corpus, query)
        fb = sorted(sc.items(), key=lambda kv: (-kv[1][0], kv[0]))[:fb_docs]
        S = sum(s for _, (s, _) in fb)
        num = {}
        for d, (s, _) in fb:
            toks = corpus[d].split(" ")
            for term in set(toks):
                num[term] = num.get(term, 0.0) + (
                    toks.count(term) / len(toks) * s
                )
        rm1 = {t_: round(v / S, 4) for t_, v in num.items()}
        top = sorted(rm1.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
        qt = sorted({x for x in query.split(" ") if x})
        w = {}
        for t_, v in top:
            w[t_] = (1 - lam) * v
        for t_ in qt:
            w[t_] = w.get(t_, 0.0) + lam / len(qt)
        return {t_: round(v, 6) for t_, v in w.items() if round(v, 6) > 0}

    for qid, q in queries.items():
        want = py_rm3(q)
        got_q = {t_: w for (g, t_), w in got_w.items() if g == qid}
        assert set(got_q) == set(want), qid
        for t_, v in want.items():
            assert abs(got_q[t_] - v) < 1e-9, (qid, t_)

    # ---- weighted second pass vs reference --------------------------
    res = bm25_search_weighted(df, exp, top_n=10)
    got_s = {}
    for r in res.collect():
        got_s.setdefault(r["query_id"], {})[r["doc_id"]] = (
            r["score"], r["n_hit"]
        )
    n = len(corpus)
    avgdl = sum(len(v.split(" ")) for v in corpus.values()) / n
    for qid, q in queries.items():
        w = py_rm3(q)
        dfreq = {
            t_: sum(1 for v in corpus.values() if t_ in v.split(" "))
            for t_ in w
        }
        for d, text in corpus.items():
            toks = text.split(" ")
            s, hits = 0.0, 0
            for t_, wt in w.items():
                tfv = toks.count(t_)
                if not tfv:
                    continue
                idf = math.log((n - dfreq[t_] + 0.5) / (dfreq[t_] + 0.5) + 1)
                s += wt * idf * tfv * 2.2 / (
                    tfv + 1.2 * (1 - 0.75 + 0.75 * len(toks) / avgdl)
                )
                hits += 1
            if hits:
                assert abs(got_s[qid][d][0] - round(s, 4)) < 1e-8, (qid, d)
                assert got_s[qid][d][1] == hits


def test_bm25_weighted_tf_literal_vocab_path(spark):
    """A prebuilt ``tf`` + literal ``vocab`` must take the isin-filter
    fast path (the round-8 advice finding: it silently fell through to
    the broadcast semi-join with an UN-checkpointed query lineage):
    results identical to the in-plan-vocab tf path, and the plan
    filters tf by a literal isin instead of building a vocab
    broadcast."""
    from cosmap_spark.operators.retrieval import (
        bm25_search_weighted, inline_tf,
    )

    corpus = {
        1: "spark query engine runs fast query plans",
        2: "query engine planner optimizes the query",
        3: "fast spark jobs and fast plans",
        4: "cats and dogs and more cats",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    tf = inline_tf(docs)
    qterms = spark.createDataFrame(
        [("qa", "query", 0.7), ("qa", "fast", 0.3)],
        "query_id string, term string, weight double",
    )
    vocab = ["fast", "query"]
    # plan shape on FRESH frames (the hits checkpoint collapses its
    # own lineage to a LogicalRDD, so the tf-side filter itself is
    # not printable — but the checkpoint PRESERVES the plan's
    # constraints, and InferFiltersFromConstraints propagates the
    # literal IN through the term equi-join onto the query table:
    # present exactly when the literal path fired, absent on the
    # in-plan-vocab shape)
    plan_lit = (
        bm25_search_weighted(None, qterms, tf=tf, vocab=vocab, top_n=10)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    plan_lazy = (
        bm25_search_weighted(None, qterms, tf=tf, top_n=10)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert " IN (" in plan_lit or "INSET" in plan_lit, plan_lit[:2000]
    assert " IN (" not in plan_lazy and "INSET" not in plan_lazy

    lazy = bm25_search_weighted(None, qterms, tf=tf, top_n=10)
    lit = bm25_search_weighted(None, qterms, tf=tf, vocab=vocab, top_n=10)
    rows_lazy = {(r["query_id"], r["doc_id"]): (r["score"], r["n_hit"])
                 for r in lazy.collect()}
    rows_lit = {(r["query_id"], r["doc_id"]): (r["score"], r["n_hit"])
                for r in lit.collect()}
    assert rows_lit == rows_lazy and rows_lit


def test_phrase_match_slop_differential(spark):
    """Ordered-proximity (slop) matching vs a python greedy-chain
    reference: slop=0 ≡ exact adjacency, widening slop adds docs
    monotonically, order still enforced, repeated terms chain."""
    from cosmap_spark.operators.retrieval import build_lex_index, phrase_match

    corpus = {
        1: "web retrieval systems",            # adjacent
        2: "web scale retrieval systems",      # 1 gap
        3: "web very large scale retrieval",   # 3 gaps
        4: "retrieval of web documents",       # wrong order
        5: "web pages about nothing",          # missing term
        6: "a web b a retrieval a web retrieval",  # multiple starts
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    tf, _ = build_lex_index(df, positions=True)
    tf = tf.localCheckpoint()

    def py_slop(text, phrase, slop):
        toks = text.split(" ")
        terms = phrase.split(" ")
        pos = {t: [i for i, x in enumerate(toks) if x == t] for t in terms}
        if any(not pos[t] for t in terms):
            return False
        for p0 in pos[terms[0]]:
            acc = p0
            ok = True
            for t in terms[1:]:
                nxt = [x for x in pos[t] if x > acc]
                if not nxt:
                    ok = False
                    break
                acc = min(nxt)
            if ok and acc - p0 <= len(terms) - 1 + slop:
                return True
        return False

    for phrase in ["web retrieval", "web scale retrieval", "web a retrieval"]:
        prev = set()
        for slop in (0, 1, 2, 3):
            got = {
                r["__d"]
                for r in phrase_match(tf, phrase, slop=slop).collect()
            }
            want = {d for d, t in corpus.items() if py_slop(t, phrase, slop)}
            assert got == want, (phrase, slop, got, want)
            assert prev <= got  # widening slop only adds docs
            prev = got
    # slop=0 equals the dedicated exact path (doc 6 has the adjacent
    # "web retrieval" at its tail)
    exact = {r["__d"] for r in phrase_match(tf, "web retrieval").collect()}
    assert exact == {1, 6}
    got1 = {r["__d"] for r in phrase_match(tf, "web retrieval", slop=1).collect()}
    assert got1 == {1, 2, 6}
    import pytest

    with pytest.raises(ValueError, match="slop"):
        phrase_match(tf, "web retrieval", slop=-1)


def _clustered_maxsim_fixture(spark, seed=11):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(4, 8)) * 4
    docs_rows = []
    for i in range(120):
        toks = (centers[i % 4] + rng.normal(size=(3, 8))).tolist()
        docs_rows.append((i, [[float(x) for x in t] for t in toks]))
    ddf = spark.createDataFrame(
        docs_rows, "doc_id long, tvecs array<array<double>>"
    )
    pooled = spark.createDataFrame(
        [(i, [float(x) for x in np.mean(np.array(r[1]), axis=0)])
         for i, r in enumerate(docs_rows)],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(j, [[float(x) for x in t]
              for t in (centers[j % 4] + rng.normal(size=(2, 8))).tolist()])
         for j in range(3)],
        "qid long, tvecs array<array<double>>",
    )
    return ddf, pooled, qdf


def test_maxsim_rerank_pruned_identity_and_recall(spark):
    """Centroid-pruned rerank (PLAID-shaped, round-8 verdict #5):
    with prune_k >= the shortlist it is BIT-identical to the unpruned
    rerank; with a cross-cluster shortlist and a cluster-sized
    prune_k the proxy drops other-cluster noise and recall@5 vs the
    unpruned rerank stays high; plan keeps every join equi and runs
    zero driver jobs at construction."""
    from cosmap_spark.operators.knn import ivf_build
    from cosmap_spark.operators.retrieval import (
        maxsim_rerank, maxsim_rerank_pruned,
    )

    ddf, pooled, qdf = _clustered_maxsim_fixture(spark)
    cents, assigned = ivf_build(pooled, nlist=4, iters=2)
    assigned = assigned.localCheckpoint()
    # cross-cluster shortlist: every query nominates the full corpus
    # (checkpointed so the fixture's own crossJoin lineage never
    # appears in the operator plans under audit below)
    short = qdf.select("qid").crossJoin(
        ddf.select("doc_id")
    ).localCheckpoint()

    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    full = maxsim_rerank(short, ddf, qdf).collect()
    same = maxsim_rerank_pruned(
        short, ddf, qdf, assigned, cents, prune_k=120
    ).collect()
    assert key(full) == key(same)  # identity at prune_k >= |shortlist|

    jobs_before = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    pruned = maxsim_rerank_pruned(
        short, ddf, qdf, assigned, cents, prune_k=35,
    )
    jobs_after = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    assert len(jobs_after) == len(jobs_before), (
        "pruned rerank construction must not run driver jobs"
    )
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    got = pruned.collect()

    def topn(rows, n):
        d = {}
        for r in rows:
            d.setdefault(r["qid"], []).append((r["rn"], r["doc_id"]))
        return {q: {doc for rn, doc in sorted(v)[:n]} for q, v in d.items()}

    t_full, t_pr = topn(full, 5), topn(got, 5)
    recall = sum(len(t_full[q] & t_pr[q]) for q in t_full) / sum(
        len(t_full[q]) for q in t_full
    )
    assert recall >= 0.9, recall

    import pytest

    with pytest.raises(ValueError, match="prune_k"):
        maxsim_rerank_pruned(short, ddf, qdf, assigned, cents, prune_k=0)
    with pytest.raises(ValueError, match="centroid"):
        maxsim_rerank_pruned(short, ddf, qdf, assigned, [], prune_k=5)


def _plaid_subtopic_fixture(spark, seed=17):
    """Clusters WITH sub-topic structure: 4 main clusters × 4
    sub-centers each; every doc's tokens come from two of its
    cluster's sub-centers.  Within-cluster ranking is then a real
    signal (which sub-topics a doc covers) — learnable by a
    token-level quantizer, invisible to one pooled centroid per
    cluster."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(4, 8)) * 6
    subs = rng.normal(size=(4, 4, 8)) * 2.5  # per-cluster sub-offsets
    docs_rows = []
    for i in range(120):
        k = i % 4
        sa, sb = (i // 4) % 4, (i // 16) % 4
        toks = np.stack([
            centers[k] + subs[k][sa] + rng.normal(size=8) * 0.3,
            centers[k] + subs[k][sa] + rng.normal(size=8) * 0.3,
            centers[k] + subs[k][sb] + rng.normal(size=8) * 0.3,
        ])
        docs_rows.append((i, [[float(x) for x in t] for t in toks]))
    ddf = spark.createDataFrame(
        docs_rows, "doc_id long, tvecs array<array<double>>"
    )
    pooled = spark.createDataFrame(
        [(i, [float(x) for x in np.mean(np.array(r[1]), axis=0)])
         for i, r in enumerate(docs_rows)],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(j, [[float(x) for x in
               (centers[j % 4] + subs[j % 4][s] + rng.normal(size=8) * 0.2)]
              for s in (0, 1)])
         for j in range(3)],
        "qid long, tvecs array<array<double>>",
    )
    return ddf, pooled, qdf


def test_maxsim_plaid_token_bags(spark, tmp_path):
    """Full-PLAID token-level pruning (round 9): bit-identity to the
    unpruned rerank at prune_k >= |shortlist|; on the clustered
    fixture recall at cluster-sized prune_k is at least the pooled
    proxy's; on a CLUSTER-DENSE shortlist (every candidate in ONE doc
    cluster — the pooled proxy's documented resolution limit, where
    its scores tie and pruning degenerates to doc-id order) the token
    bags keep recall high while the pooled proxy fails; plan gates
    (equi-joins, zero driver jobs); index_store round-trip of the
    bags serves row-identically."""
    import pytest
    from pyspark.sql import functions as F

    from cosmap_spark.operators.index_store import (
        load_token_bags, save_token_bags,
    )
    from cosmap_spark.operators.knn import ivf_build
    from cosmap_spark.operators.retrieval import (
        maxsim_rerank,
        maxsim_rerank_plaid,
        maxsim_rerank_pruned,
        maxsim_token_quantizer,
    )

    ddf, pooled, qdf = _plaid_subtopic_fixture(spark)
    tcents, bags = maxsim_token_quantizer(ddf, nlist=16, iters=2)
    bags = bags.localCheckpoint()
    short = qdf.select("qid").crossJoin(
        ddf.select("doc_id")
    ).localCheckpoint()

    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    full = maxsim_rerank(short, ddf, qdf).collect()
    same = maxsim_rerank_plaid(
        short, ddf, qdf, bags, tcents, prune_k=120
    ).collect()
    assert key(full) == key(same)  # identity at prune_k >= |shortlist|

    def topn(rows, n=5):
        d = {}
        for r in rows:
            d.setdefault(r["qid"], []).append((r["rn"], r["doc_id"]))
        return {q: {doc for rn, doc in sorted(v)[:n]} for q, v in d.items()}

    def recall(rows, ref_rows):
        t_ref, t_got = topn(ref_rows), topn(rows)
        return sum(len(t_ref[q] & t_got[q]) for q in t_ref) / sum(
            len(t_ref[q]) for q in t_ref
        )

    # cross-cluster shortlist at cluster-sized prune_k: token bags at
    # least match the pooled proxy
    pcents, assigned = ivf_build(pooled, nlist=4, iters=2)
    assigned = assigned.localCheckpoint()
    r_pooled = recall(maxsim_rerank_pruned(
        short, ddf, qdf, assigned, pcents, prune_k=35).collect(), full)
    r_plaid = recall(maxsim_rerank_plaid(
        short, ddf, qdf, bags, tcents, prune_k=35).collect(), full)
    assert r_plaid >= r_pooled >= 0.9, (r_plaid, r_pooled)

    # cluster-dense shortlist: all 30 candidates of query 0's own doc
    # cluster (doc_id % 4 == 0) — every pooled proxy score ties (same
    # centroid), so at prune_k=8 it prunes by doc-id order; the token
    # bags rank within the cluster
    q0 = qdf.where(F.col("qid") == 0)
    dense = q0.select("qid").crossJoin(
        ddf.where(F.col("doc_id") % 4 == 0).select("doc_id")
    ).localCheckpoint()
    dense_full = maxsim_rerank(dense, ddf, q0).collect()
    r_pooled_d = recall(maxsim_rerank_pruned(
        dense, ddf, q0, assigned, pcents, prune_k=8).collect(),
        dense_full)
    r_plaid_d = recall(maxsim_rerank_plaid(
        dense, ddf, q0, bags, tcents, prune_k=8).collect(), dense_full)
    assert r_plaid_d > r_pooled_d, (r_plaid_d, r_pooled_d)
    assert r_plaid_d >= 0.8, r_plaid_d

    # plan gates: equi-joins only, zero driver jobs at construction
    jobs_before = spark.sparkContext._jsc.sc().statusTracker() \
        .getJobIdsForGroup(None)
    frame = maxsim_rerank_plaid(
        dense, ddf, q0, bags, tcents, prune_k=8,
    )
    jobs_after = spark.sparkContext._jsc.sc().statusTracker() \
        .getJobIdsForGroup(None)
    assert len(jobs_after) == len(jobs_before)
    plan = frame._sc._jvm.PythonSQLUtils.explainString(
        frame._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join: the |Q|×nlist sim-table build
    # against the literal centroid frame (the constant-size class
    # CLAUDE.md documents); the proxy's shortlist/bags/simmap joins
    # are all broadcast-hash (the SMJs below it belong to
    # maxsim_rerank's exact stage, same as the pooled variant)
    # (formatted explain prints each node twice: tree line + details)
    assert plan.count("BroadcastNestedLoopJoin") == 2

    # index_store round-trip: loaded bags/centroids serve identically
    store = str(tmp_path / "plaid_store")
    save_token_bags(store, tcents, bags)
    loaded = load_token_bags(spark, store)
    assert loaded["normalize"] is True
    again = maxsim_rerank_plaid(
        dense, ddf, q0, loaded["bags"], loaded["centroids"], prune_k=8,
        normalize=loaded["normalize"],
    ).collect()
    direct = maxsim_rerank_plaid(
        dense, ddf, q0, bags, tcents, prune_k=8).collect()
    assert key(again) == key(direct)

    with pytest.raises(ValueError, match="prune_k"):
        maxsim_rerank_plaid(dense, ddf, q0, bags, tcents, prune_k=0)
    with pytest.raises(ValueError, match="centroid"):
        maxsim_rerank_plaid(dense, ddf, q0, bags, [], prune_k=5)

    # round-9 review finding: a crash mid-RE-save must never leave new
    # data under the old manifest — the new centroids and bags are
    # written, the publish dies, and the previous version serves intact
    from cosmap_spark.sinks.commit import LocalFS

    def dying_publish(self, p, content):
        raise RuntimeError("injected crash before publish")

    real_publish = LocalFS.publish_exclusive
    LocalFS.publish_exclusive = dying_publish
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            save_token_bags(store, tcents, bags, normalize=False)
    finally:
        LocalFS.publish_exclusive = real_publish
    restored = load_token_bags(spark, store)
    assert restored["normalize"] is True  # the OLD save, intact
    assert sorted(r["nid"] for r in restored["bags"].limit(3).collect())


def test_phrase_match_multi_equals_per_phrase(spark):
    """phrase_match_multi ≡ union of per-phrase phrase_match on the
    same positional table, at slop=0 and slop=1, including a
    single-term phrase and a no-match phrase."""
    from cosmap_spark.operators.retrieval import (
        inline_tf, phrase_match, phrase_match_multi,
    )

    docs = spark.createDataFrame(
        [
            (1, "web scale retrieval with web retrieval engines"),
            (2, "retrieval web is reversed here"),
            (3, "web retrieval appears verbatim"),
            (4, "nothing relevant at all"),
            (5, "web"),
        ],
        "doc_id long, text string",
    )
    phrases = {
        "p1": "web retrieval",
        "p2": "retrieval web",
        "p3": "web",
        "p4": "absent phrase",
    }
    vocab = sorted({t for p in phrases.values() for t in p.split(" ")})
    tf = inline_tf(docs, positions=True, vocab=vocab)
    for slop in (0, 1):
        want = set()
        for qid, p in phrases.items():
            for r in phrase_match(tf, p, slop=slop).collect():
                want.add((qid, r["__d"]))
        got = {
            (r["query_id"], r["__d"])
            for r in phrase_match_multi(tf, phrases, slop=slop).collect()
        }
        assert got == want, slop

    import pytest

    with pytest.raises(ValueError, match="empty phrase set"):
        phrase_match_multi(tf, {})
    with pytest.raises(ValueError, match="empty phrase for"):
        phrase_match_multi(tf, {"q": " "})
