"""PageRank / degree tests: exact parity with a numpy power-iteration
reference on graphs with dangling nodes and cycles; invariants."""

from __future__ import annotations

import numpy as np
import pytest

from cosmap_spark.operators.graph import degrees, pagerank

#        0 -> 1 -> 2 -> 0   (cycle)
#        1 -> 3            (3 is dangling)
#        4 -> 0, 4 -> 1    (4 has no in-links)
EDGES = [(0, 1), (1, 2), (2, 0), (1, 3), (4, 0), (4, 1)]


def _np_pagerank(edges, n, d=0.85, iters=20, tol=1e-6):
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out_deg == 0].sum()
        nxt = np.full(n, (1 - d) / n) + d * dangling / n
        for s, t in edges:
            nxt[t] += d * r[s] / out_deg[s]
        if np.abs(nxt - r).sum() < tol:
            r = nxt
            break
        r = nxt
    return r


@pytest.fixture()
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_pagerank_matches_numpy_reference(spark, edges_df):
    got = {r["node"]: r["rank"] for r in pagerank(edges_df).collect()}
    want = _np_pagerank(EDGES, 5)
    assert set(got) == set(range(5))
    for node in range(5):
        assert got[node] == pytest.approx(want[node], abs=1e-6), node
    # ranks are a distribution
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)
    # structure: the cycle nodes outrank the no-in-link node
    assert got[0] > got[4] and got[1] > got[4]


def test_pagerank_deterministic_across_partitionings(spark, edges_df):
    a = sorted(map(tuple, pagerank(edges_df, max_iterations=6).collect()))
    b = sorted(
        map(tuple, pagerank(edges_df.repartition(7), max_iterations=6).collect())
    )
    assert a == b


def test_pagerank_tol_early_stop(spark, edges_df):
    """A loose tol must converge to the same fixpoint region (sanity
    that the delta-based stop doesn't corrupt ranks)."""
    got = {r["node"]: r["rank"] for r in pagerank(edges_df, tol=1e-3).collect()}
    want = _np_pagerank(EDGES, 5, tol=1e-3)
    for node in range(5):
        assert got[node] == pytest.approx(want[node], abs=1e-3)


def test_degrees(spark, edges_df):
    got = {r["node"]: (r["out_deg"], r["in_deg"]) for r in degrees(edges_df).collect()}
    assert got == {
        0: (1, 2),
        1: (2, 2),
        2: (1, 1),
        3: (0, 1),
        4: (2, 0),
    }


def test_empty_graph(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty).count() == 0


def test_pagerank_early_convergence_truncates_lineage(spark):
    """Converging before a scheduled checkpoint must still hand back a
    checkpointed frame: the returned plan may not replay rank-iteration
    joins over the (now unpersisted) edge cache."""
    from cosmap_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 1)], "src long, dst long"
    )
    # tol=inf converges on the first delta check, far from the
    # checkpoint_every=5 boundary
    out = pagerank(edges, tol=float("inf"), checkpoint_every=5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert abs(sum(r["rank"] for r in out.collect()) - 1.0) < 1e-9


def test_triangle_counts_matches_python_reference(spark):
    """triangle_counts vs brute-force itertools over a deterministic
    random-ish graph: per-node counts, degrees, coefficients; dup /
    reverse / self edges collapse; layout independence."""
    from itertools import combinations

    from cosmap_spark.operators.graph import triangle_counts

    raw = [((i * 7) % 23, (i * i + 3) % 23) for i in range(90)]
    raw += [(b, a) for a, b in raw[:20]] + [(5, 5), (1, 1)]
    df = spark.createDataFrame(raw, "src long, dst long")

    edges = {tuple(sorted(e)) for e in raw if e[0] != e[1]}
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = {n: 0 for n in adj}
    for u, v, w in combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            tri[u] += 1
            tri[v] += 1
            tri[w] += 1
    for layout in (df, df.repartition(7)):
        got = {
            r["node"]: (r["degree"], r["n_tri"], r["clust_coeff"])
            for r in triangle_counts(layout).collect()
        }
        assert set(got) == set(adj)
        for n in adj:
            d = len(adj[n])
            coeff = round(2.0 * tri[n] / (d * (d - 1)), 6) if d >= 2 else 0.0
            assert got[n] == (d, tri[n], coeff), n


def test_triangle_counts_empty_and_triangle_free(spark):
    from cosmap_spark.operators.graph import triangle_counts

    empty = spark.createDataFrame([], "src long, dst long")
    assert triangle_counts(empty).count() == 0
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    rows = {r["node"]: r["n_tri"] for r in triangle_counts(path).collect()}
    assert rows == {1: 0, 2: 0, 3: 0, 4: 0}


def test_pagerank_quantized_matches_float_and_python(spark):
    """pagerank_quantized (the gated twin): tracks float pagerank at
    the same iteration count within the floor-loss bound, is
    bit-stable across partition layouts, and replays the DEFINED
    integer dynamics exactly (the same replay the q_setops 'pr'
    oracle unrolls in SQL)."""
    from cosmap_spark.operators.graph import pagerank, pagerank_quantized

    E = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 3), (2, 4), (6, 1)]
    edges = spark.createDataFrame(E, "src long, dst long")
    q = pagerank_quantized(edges, iterations=5).collect()
    f = {r["node"]: r["rank"] for r in
         pagerank(edges, max_iterations=5, tol=0.0).collect()}
    qd = {r["node"]: r["rank"] for r in q}
    assert qd.keys() == f.keys()
    assert max(abs(qd[k] - f[k]) for k in qd) < 1e-8

    # layout determinism: a different partitioning gives the SAME units
    q2 = {r["node"]: r["rank_units"] for r in
          pagerank_quantized(edges.repartition(7), iterations=5).collect()}
    assert q2 == {r["node"]: r["rank_units"] for r in q}

    # pure-python replay of the defined integer dynamics, bit-exact
    nodes = sorted({x for e in E for x in e})
    n = len(nodes)
    od: dict[int, int] = {}
    for s, _ in E:
        od[s] = od.get(s, 0) + 1
    u, dn, dd = 10 ** 12, 85, 100
    r = {v: u // n for v in nodes}
    base = (u * (dd - dn)) // (dd * n)
    for _ in range(5):
        dang = sum(r[v] for v in nodes if v not in od)
        c = {v: 0 for v in nodes}
        for s, d in E:
            c[d] += r[s] // od[s]
        r = {v: base + (dn * (c[v] + dang // n)) // dd for v in nodes}
    assert {row["node"]: row["rank_units"] for row in q} == r


def test_pagerank_quantized_validates(spark):
    import pytest

    from cosmap_spark.operators.graph import pagerank_quantized

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        pagerank_quantized(edges, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank_quantized(edges, damping_num=100, damping_den=100)
    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank_quantized(empty, iterations=2).count() == 0


def test_pagerank_quantized_python_replay_property(spark):
    """Property test: on random small directed graphs (self-loop-free,
    dangling nodes included), pagerank_quantized's integer trajectory
    equals the pure-python replay of the defined dynamics exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cosmap_spark.operators.graph import pagerank_quantized

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 5))
            .filter(lambda e: e[0] != e[1]),
            min_size=1, max_size=12, unique=True,
        ),
        iters=st.integers(1, 3),
    )
    @settings(max_examples=8, deadline=None)
    def prop(edges, iters):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["rank_units"] for r in
               pagerank_quantized(df, iterations=iters).collect()}
        nodes = sorted({x for e in edges for x in e})
        n = len(nodes)
        od: dict[int, int] = {}
        for s, _ in edges:
            od[s] = od.get(s, 0) + 1
        u, dn, dd = 10 ** 12, 85, 100
        r = {v: u // n for v in nodes}
        base = (u * (dd - dn)) // (dd * n)
        for _ in range(iters):
            dang = sum(r[v] for v in nodes if v not in od)
            c = {v: 0 for v in nodes}
            for s, d in edges:
                c[d] += r[s] // od[s]
            r = {v: base + (dn * (c[v] + dang // n)) // dd for v in nodes}
        assert got == r

    prop()


def test_graph_operators_read_each_lineage_once(spark, monkeypatch):
    """Node lists, degrees and per-node triangle tallies come from one
    ``explode(array(...))`` pass, not a ``Union`` of projections: a
    union re-runs its input plan once per branch (the caller's edge
    plan, or the wedge self-join and closing join).  The PageRank plans
    are read at their ``localCheckpoint``s, the triangle plan from the
    returned frame; the outputs are the brute-force ones."""
    from cosmap_spark.operators.graph import pagerank_quantized, triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    cls = type(edges)
    real = cls.localCheckpoint
    plans: list[str] = []

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    ranks = pagerank(edges, max_iterations=2, checkpoint_every=1)
    assert {r["node"] for r in ranks.collect()} == {1, 2, 3, 4}
    units = pagerank_quantized(edges, iterations=2)
    assert {r["node"] for r in units.collect()} == {1, 2, 3, 4}
    assert plans and not [p for p in plans if "Union" in p], plans
    tri = triangle_counts(edges)
    plan = tri._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan
    assert {(r["node"], r["degree"], r["n_tri"]) for r in tri.collect()} == {
        (1, 2, 1), (2, 2, 1), (3, 3, 1), (4, 1, 0)}
