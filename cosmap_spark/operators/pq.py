"""Product quantization (PQ) for embedding search at corpus scale.

The missing piece between ``knn_lsh``/``knn_ivf`` (operators/knn.py) and
a 100 TB vector corpus is MEMORY: a float64[64] embedding is 512 bytes,
so a 10^11-vector corpus cannot keep raw vectors hot.  PQ (Jégou et al.
2011, "Product Quantization for Nearest Neighbor Search") splits each
vector into ``m`` subvectors and vector-quantizes each subspace with its
own ``ksub``-centroid codebook, storing only the m code bytes —
``m=8, ksub=16`` compresses 512 B → 8 codes (here ``array<smallint>``,
16 B: 32×), and distances are computed *asymmetrically* (ADC): the query
stays full precision, each subspace contributes a table lookup.

Scale shape (mirrors the FAISS IVF-PQ layout, re-expressed Spark-first):

* **training** touches the corpus ``iters`` times, each pass ONE
  DataFrame job (Arrow-batched encode + explode/groupBy mean refine);
  only the O(m·ksub·dsub) codebook ever reaches the driver.
* **encoding** is map-side only — one dense matmul per Arrow batch per
  subspace (the documented dense-linear-algebra exception to the
  stay-JVM-side rule, see knn._bucketize), no join, no shuffle.
* **ADC search** scans codes, not vectors: per batch the scorer emits
  only its PARTIAL top-k per query (the map-side-combine analog for
  top-k), so the final exchange carries O(partitions · |Q| · k) rows, a
  plan whose shuffle is independent of corpus size.  Composition with
  the IVF coarse quantizer (``knn_ivfpq``) additionally prunes the scan
  to the ``nprobe``/``nlist`` fraction of lists, the standard
  billion-scale configuration.

Query-set contract matches ``knn_bruteforce``: |Q| is small (it is
collected and shipped in the scorer's closure, exactly the broadcast
pattern of the exact path).  The LUT costs m·ksub doubles per query
(8 KB at m=16/ksub=64), so the closure holds to |Q| ~ 10⁵ (~1 GB;
×nlist in residual mode).  ``residual=True`` switches ``knn_ivfpq``
to the FAISS IVFPQ residual layout (codes quantize v − centroid[cid]).
See SCALE.md §Similarity search.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cosmap_spark.functions.sqlargs import require_int
from cosmap_spark.operators.topk import topk_indices, topk_pandas

Codebooks = list[list[list[float]]]  # (m, ksub, dsub)


def _as_array(codebooks: Codebooks) -> np.ndarray:
    a = np.asarray(codebooks, dtype=np.float64)
    if a.ndim != 3:
        raise ValueError(f"codebooks must be (m, ksub, dsub); got shape {a.shape}")
    return a


def _encode_batch(v: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, dim) × (m, ksub, dsub) → (n, m) int codes, nearest-L2 per
    subspace: argmin ||x - c||² = argmin (||c||² - 2 x·c)."""
    m, ksub, dsub = books.shape
    codes = np.empty((len(v), m), dtype=np.int64)
    for s in range(m):
        sub = v[:, s * dsub:(s + 1) * dsub]           # (n, dsub)
        c = books[s]                                   # (ksub, dsub)
        scores = (c * c).sum(axis=1)[None, :] - 2.0 * (sub @ c.T)
        # round for ulp-stable ties; argmin takes the FIRST (smallest
        # code) among equals — deterministic across partitionings
        codes[:, s] = np.argmin(np.round(scores, 9), axis=1)
    return codes


def pq_encode(
    df: DataFrame,
    codebooks: Codebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: list[str] | None = None,
) -> DataFrame:
    """``(id, codes array<smallint>)`` — the 32×-smaller searchable form.

    Map-side only; ``keep`` carries extra columns (e.g. the IVF ``cid``)
    through unchanged."""
    books = _as_array(codebooks)
    m, ksub, dsub = books.shape

    @F.pandas_udf("array<smallint>")
    def _codes(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        v = np.stack(vecs.to_numpy()).astype(np.float64)
        if v.shape[1] != m * dsub:
            raise ValueError(f"dim {v.shape[1]} != m·dsub {m * dsub}")
        return pd.Series(list(_encode_batch(v, books).astype(np.int16)))

    cols = [F.col(id_col).alias("nid"), _codes(F.col(vec_col)).alias("codes")]
    cols += [F.col(c) for c in (keep or [])]
    return df.select(*cols)


def ivf_residuals(
    assigned: DataFrame,
    cents: list,
    *,
    vec_col: str = "nvec",
    cid_col: str = "cid",
    out_col: str = "rvec",
) -> DataFrame:
    """Append the per-list residual ``out_col = vec − centroid[cid]``
    to an ``ivf_build`` assignment — the input of residual IVF-PQ
    training/encoding (FAISS IVFPQ's standard layout: codebooks model
    the residual distribution, which is tighter than the raw one at
    identical m/ksub).  Map-side only (one dense gather+subtract per
    Arrow batch, the documented linear-algebra exception); build-time
    only — serving never touches raw vectors."""
    order = sorted(range(len(cents)), key=lambda i: cents[i][0])
    cids = np.array([int(cents[i][0]) for i in order], dtype=np.int64)
    cmat = np.array([cents[i][1] for i in order], dtype=np.float64)
    pos = {int(c): i for i, c in enumerate(cids)}

    @F.pandas_udf("array<double>")
    def _res(vecs: pd.Series, cid: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        v = np.stack(vecs.to_numpy()).astype(np.float64)
        ci = np.array([pos[int(c)] for c in cid], dtype=np.int64)
        return pd.Series(list(v - cmat[ci]))

    return assigned.withColumn(out_col, _res(F.col(vec_col), F.col(cid_col)))


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 41,
    init_books: Codebooks | None = None,
) -> Codebooks:
    """Train the m per-subspace codebooks with Lloyd iterations where
    every data pass is a DataFrame job and only the O(m·ksub·dsub)
    codebook reaches the driver (the same driver/cluster split as
    ``knn.ivf_build``).

    Seeding is the deterministic hash-ordered sample: the ``ksub``
    corpus vectors with smallest ``xxhash64(id, seed)`` provide the
    initial centroid for every subspace — reproducible on any cluster,
    no RNG state.  ``init_books`` skips seeding and refines the given
    codebooks instead (``opq_train``'s alternating-minimization step
    warm-starts from the previous outer iteration's books)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    if init_books is not None:
        books = _as_array(init_books).copy()
        if books.shape != (m, ksub, dsub):
            raise ValueError(
                f"init_books shape {books.shape} != ({m}, {ksub}, {dsub})"
            )
    else:
        seed_rows = (
            corpus.select(
                F.col(vec_col).alias("v"),
                F.xxhash64(F.col(id_col), F.lit(seed)).alias("h"),
                F.col(id_col).alias("i"),
            )
            .orderBy("h", "i")
            .limit(ksub)
            .collect()
        )
        if len(seed_rows) < ksub:
            raise ValueError(f"corpus has {len(seed_rows)} rows < ksub {ksub}")
        books = np.array(
            [
                [
                    [float(x) for x in r["v"][s * dsub:(s + 1) * dsub]]
                    for r in seed_rows
                ]
                for s in range(m)
            ]
        )  # (m, ksub, dsub)

    vec = F.col(vec_col)
    for _ in range(iters):
        enc = pq_encode(corpus, books.tolist(), id_col=id_col, vec_col=vec_col,
                        keep=[vec_col])
        cell_means = (
            enc.select(F.posexplode("codes").alias("s", "code"), vec)
            .withColumn(
                "subvec",
                F.expr(f"slice({vec_col}, s * {dsub} + 1, {dsub})"),
            )
            .select("s", "code", F.posexplode("subvec").alias("pos", "val"))
            .groupBy("s", "code", "pos")
            .agg(F.avg("val").alias("mean"))
            .collect()
        )
        # empty cells keep their previous centroid (standard k-means)
        for r in cell_means:
            books[r["s"], r["code"], r["pos"]] = r["mean"]
    return books.tolist()


def rotate_vectors(
    df: DataFrame,
    rotation,
    *,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """``v → R·v`` — one dense matmul per Arrow batch (the documented
    linear-algebra exception to the stay-JVM-side rule).  Map-side
    only: no join, no shuffle, no driver state beyond the O(d²)
    rotation in the closure.  With ``out_col=None`` the vector column
    is replaced in place, so every downstream operator (IVF build, PQ
    encode, exact re-rank) runs unchanged on the rotated space — an
    orthogonal R preserves L2 distances, which is what makes OPQ a
    pure pre-transform (FAISS's ``OPQMatrix`` VectorTransform slot)."""
    R = np.asarray(rotation, dtype=np.float64)
    if R.ndim != 2 or R.shape[0] != R.shape[1]:
        raise ValueError(f"rotation must be square (d, d); got {R.shape}")
    out = out_col or vec_col

    @F.pandas_udf("array<double>")
    def _rot(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        v = np.stack(vecs.to_numpy()).astype(np.float64)
        if v.shape[1] != R.shape[0]:
            raise ValueError(f"dim {v.shape[1]} != rotation d {R.shape[0]}")
        return pd.Series(list(v @ R.T))

    return df.withColumn(out, _rot(F.col(vec_col)))


def _opq_stats(
    corpus: DataFrame, R: np.ndarray, books: np.ndarray, *, vec_col: str,
    dim: int,
) -> tuple[np.ndarray, float, int]:
    """ONE DataFrame job computing the Procrustes cross-covariance
    ``G = Σ x̂ xᵀ`` (x the ORIGINAL vector, x̂ the PQ reconstruction of
    R·x) plus the quantization objective ``Σ ||R·x − x̂||²`` and the
    row count.  Each partition emits a single (d², 1, 1) partial row —
    the map-side-combine shape — so the driver reduce touches
    O(partitions) rows, never the corpus.  Partials are summed in
    sorted order so the driver fold is deterministic for a given
    partial set."""
    Rl = np.ascontiguousarray(R, dtype=np.float64)
    bl = np.ascontiguousarray(books, dtype=np.float64)
    mm = bl.shape[0]

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        G = np.zeros((dim, dim))
        err = 0.0
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xr = v @ Rl.T
            codes = _encode_batch(xr, bl)
            xhat = np.concatenate(
                [bl[s][codes[:, s]] for s in range(mm)], axis=1
            )
            G += xhat.T @ v
            diff = xr - xhat
            err += float((diff * diff).sum())
            n += len(v)
        if n:
            yield pd.DataFrame(
                {"g": [list(G.ravel())], "err": [err], "n": [n]}
            )

    rows = corpus.select(vec_col).mapInPandas(
        part, "g array<double>, err double, n bigint"
    ).collect()
    G = np.zeros((dim, dim))
    err = 0.0
    n = 0
    for r in sorted(rows, key=lambda r: (r["n"], r["err"], r["g"][:4])):
        G += np.asarray(r["g"], dtype=np.float64).reshape(dim, dim)
        err += r["err"]
        n += r["n"]
    return G, err, n


def opq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 41,
    return_stats: bool = False,
):
    """Optimized Product Quantization (Ge et al., CVPR 2013, OPQ-NP):
    learn an orthogonal rotation R jointly with the PQ codebooks by
    alternating minimization of ``Σ ||R·x − q(R·x)||²`` —

    1. **codebook step**: Lloyd-refine the codebooks on the rotated
       corpus (``pq_train(init_books=...)`` — warm-started, every data
       pass one DataFrame job);
    2. **rotation step**: with reconstructions fixed, the optimal
       orthogonal R solves the Procrustes problem
       ``max_R tr(R·Gᵀ), G = Σ x̂ xᵀ`` — ``R = U Vᵀ`` from the SVD of
       G.  G is a d×d aggregate (:func:`_opq_stats`, one job, one
       partial row per partition); the SVD is O(d³) driver work.

    Both steps are non-increasing in the objective, so the returned
    per-iteration mean quantization error is monotone (pinned in
    tests/test_pq.py).  Rotating the space decorrelates and balances
    variance across the m subspaces, which is exactly what independent
    per-subspace quantizers need — on correlated embeddings (the real
    case) OPQ cuts quantization error at identical m/ksub; on i.i.d.
    test data R stays near-orthogonal noise and recall is unchanged.

    At scale: train on a deterministic hash-sample of the corpus (the
    standard FAISS practice — the caller passes the sample; every
    iteration costs 2 encode passes over the training frame), then
    apply R with :func:`rotate_vectors` (map-side) and build the
    IVF-PQ index on the rotated space (``knn_ivfpq(opq=R)``).

    Returns ``(R, codebooks)`` as nested lists, plus the per-iteration
    mean-error list with ``return_stats=True``."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    R = np.eye(dim)
    # seed once on the raw corpus (R₀ = I, so raw ≡ rotated)
    books = _as_array(
        pq_train(
            corpus, m=m, ksub=ksub, iters=0, id_col=id_col,
            vec_col=vec_col, dim=dim, seed=seed,
        )
    )
    errs: list[float] = []
    for it in range(iters):
        rot = rotate_vectors(corpus, R, vec_col=vec_col, out_col="_xr")
        books = _as_array(
            pq_train(
                rot, m=m, ksub=ksub, iters=pq_iters, id_col=id_col,
                vec_col="_xr", dim=dim, seed=seed, init_books=books.tolist(),
            )
        )
        G, err, n = _opq_stats(corpus, R, books, vec_col=vec_col, dim=dim)
        if n == 0:
            raise ValueError("opq_train: empty corpus")
        errs.append(err / n)
        if it < iters - 1:
            # the returned (R, books) pair must be CONSISTENT — books
            # refined under the R they ship with — so the Procrustes
            # update is skipped on the final iteration
            U, _, Vt = np.linalg.svd(G)
            R = U @ Vt
    if return_stats:
        return R.tolist(), books.tolist(), errs
    return R.tolist(), books.tolist()


#: the ledger's OPQ configuration — ONE source of truth shared by the
#: q_knn_ann opq branch, the persistence tests, and the vectorindex
#: example: an artifact trained elsewhere and injected into
#: ``knn_ann_union`` must be IDENTICAL to the one the gate trains, or
#: its results are not the gate's results
GATE_OPQ_PARAMS = {
    "m": 8, "ksub": 16, "iters": 2, "pq_iters": 1, "dim": 64, "seed": 41,
}

#: fixed-size training sample for the gate artifacts: 256 points per
#: codebook centroid (ksub=16 → 4096), the published FAISS guidance
GATE_OPQ_TRAIN_N = 256 * GATE_OPQ_PARAMS["ksub"]


def opq_train_gate(
    corpus: DataFrame, *, id_col: str = "vec_id",
    return_stats: bool = False,
):
    """``opq_train`` at the gate parameters over a deterministic
    FIXED-SIZE hash-sample: the ``GATE_OPQ_TRAIN_N`` corpus vectors
    with smallest ``xxhash64(id, 11)`` (layout-independent;
    TakeOrderedAndProject — per-partition heaps, never a global sort).

    Fixed-size, not a fraction, deliberately: codebook/rotation
    quality saturates at a few hundred points per centroid (the FAISS
    train-on-a-sample guidance — 256·ksub here), so a percentage
    sample would only make TRAINING scale linearly with the corpus
    while improving nothing — the exact slope a 100 TB build cannot
    afford.  Corpora smaller than the budget train on everything.
    Returns ``(R, codebooks)``."""
    sample = (
        corpus.withColumn("__h", F.xxhash64(F.col(id_col), F.lit(11)))
        .orderBy("__h", id_col)
        .limit(GATE_OPQ_TRAIN_N)
        .drop("__h")
        # materialize ONCE and respread: a bare limit plan would (a)
        # re-run the corpus TakeOrdered on every one of training's
        # ~2·iters data passes and (b) execute them all on the single
        # partition a global limit collapses to — measured 12.6 s vs
        # 1.1 s at the ×10 scaling factor.  The checkpointed frame is
        # sample-sized (4096 rows), the textbook case where the
        # measured-materialization rule says YES.
        .repartition(8)
        .localCheckpoint()
    )
    return opq_train(
        sample, id_col=id_col, return_stats=return_stats,
        **GATE_OPQ_PARAMS,
    )


def _adc_luts(
    qrows: list, codebooks: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-query ADC lookup tables: luts[q, s, c] = ||q_sub - c||²; the
    estimated distance of a coded vector is a pure (m-term) table sum."""
    m, ksub, dsub = codebooks.shape
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    luts = np.empty((len(qrows), m, ksub), dtype=np.float64)
    for qi, r in enumerate(qrows):
        qv = np.asarray(r[1], dtype=np.float64)
        for s in range(m):
            diff = codebooks[s] - qv[s * dsub:(s + 1) * dsub][None, :]
            # cumsum, NOT sum: np.sum switches to pairwise summation
            # past 8 elements, which differs from a sequential fold by
            # an ulp ~half the time — cumsum is sequential by
            # definition, so a table entry is the plain left-to-right
            # sum a numpy oracle replays exactly
            luts[qi, s] = (diff * diff).cumsum(axis=1)[:, -1]
    return qids, luts


_ADC_SCHEMA = "qid bigint, nid bigint, dist double"


def _adc_luts_by_list(
    qrows: list, codebooks: np.ndarray, cents: list
) -> tuple[np.ndarray, dict, np.ndarray]:
    """Per-(query, inverted-list) ADC lookup tables for RESIDUAL IVF-PQ:
    ``luts[qi·nlist + ci, s, c] = ||(q − centroid_ci)_sub − codeword||²``
    — the codes quantize residuals, so the query must be re-expressed
    relative to each probed list's centroid (FAISS IVFPQ's per-list
    precomputed-table layout).  Closure cost is nlist× the flat LUT.
    Same strictly-sequential cumsum fold as :func:`_adc_luts`."""
    m, ksub, dsub = codebooks.shape
    order = sorted(range(len(cents)), key=lambda i: cents[i][0])
    cidpos = {int(cents[i][0]): ci for ci, i in enumerate(order)}
    cmat = np.array([cents[i][1] for i in order], dtype=np.float64)
    nlist = len(cents)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    luts = np.empty((len(qrows) * nlist, m, ksub), dtype=np.float64)
    for qi, r in enumerate(qrows):
        qv = np.asarray(r[1], dtype=np.float64)
        for ci in range(nlist):
            qr = qv - cmat[ci]
            for s in range(m):
                diff = codebooks[s] - qr[s * dsub:(s + 1) * dsub][None, :]
                luts[qi * nlist + ci, s] = (diff * diff).cumsum(axis=1)[:, -1]
    return qids, cidpos, luts


def _topk_by_dist_nid(dists: np.ndarray, nids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k smallest under the TOTAL order (dist, nid).

    The tie-break must be part of the local top-k: a plain
    ``argpartition(dist)`` keeps an arbitrary member of a boundary
    dist-tie (exact-duplicate vectors share codes, hence distances), and
    the global (dist, nid) window cannot recover a candidate a batch
    already dropped — making results partition-layout dependent.
    Top-k under a total order is associative, so lexsort-based local
    top-k is exactly safe.  Contract and kernel live in
    ``operators.topk`` (the engine's one local-top-k)."""
    return topk_indices((dists, nids), k)


def _adc_scorer(qids: np.ndarray, luts: np.ndarray, k: int):
    """mapInPandas scorer emitting each batch's PARTIAL top-k per query
    — the map-side combine for distributed top-k."""
    m = luts.shape[1]
    s_idx = np.arange(m)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            nids = pdf["nid"].to_numpy()
            out = []
            for qi, qid in enumerate(qids):
                # cumsum = sequential fold, so knn_ivfpq's scorer (the
                # same fold) agrees to the last ulp (see _adc_luts)
                d = np.round(
                    luts[qi][s_idx[None, :], codes].cumsum(axis=1)[:, -1], 6
                )
                mask = nids != qid  # exclude self
                dm, nm = d[mask], nids[mask]
                if not len(dm):
                    continue
                top = _topk_by_dist_nid(dm, nm, k)
                out.append(
                    pd.DataFrame(
                        {"qid": qid, "nid": nm[top], "dist": dm[top]}
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    return score


def _exact_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _rerank_exact(
    shortlist: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-L2 re-rank of an ADC shortlist (the FAISS "refine" stage):
    raw vectors are fetched ONLY for the R·|Q| shortlist rows via a hash
    join, queries broadcast; the quantization error that shuffles
    close-neighbor ranks is removed where it matters."""
    vs = vectors.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    qs = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    exact = (
        shortlist.join(vs, "nid")
        .join(F.broadcast(qs), "qid")
        .select(
            "qid", "nid",
            F.round(_exact_l2(F.col("qvec"), F.col("nvec")), 6).alias("dist"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "nid", "dist", F.col("rn").cast("long").alias("rn"))
    )


def _finish_shortlist(
    scored: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    *,
    k: int,
    n_short: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared serving tail of ``pq_adc_topk`` and ``knn_ivfpq``: the
    global (dist, nid) window shortlist, then either the k-cut or the
    exact-L2 rerank.  One definition so the tie-break/typing contract
    the parity tests pin cannot drift between the two operators."""
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_short)
    )
    if rerank is None:
        return shortlist.select(
            "qid", "nid", "dist", F.col("rn").cast("long").alias("rn")
        ).where(F.col("rn") <= k)
    return _rerank_exact(
        shortlist.select("qid", "nid"), queries, vectors,
        k=k, id_col=id_col, vec_col=vec_col,
    )


def pq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: Codebooks,
    *,
    k: int = 5,
    rerank: int | None = None,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k smallest L2 distance per query over a PQ-coded
    corpus — ``(qid, nid, dist, rn)``.

    The scan reads (nid, codes) only; the exchange after the partial
    top-k carries O(partitions · |Q| · max(k, rerank)) rows regardless
    of corpus size.  With ``rerank=R`` (requires ``vectors``), the ADC
    pass produces a top-R SHORTLIST whose raw vectors are then fetched
    (hash join on nid — R·|Q| rows, not the corpus) and re-ranked by
    exact L2: ADC distance on near-uniform data has enough quantization
    error to shuffle close neighbors, and the shortlist+refine split is
    the standard fix — measured here recall@5 0.14 → 0.62 at m=8,
    ksub=16, R=50 on the driver's embeddings (1.0 at m=16, ksub=64).
    Ranking ties break on nid for cross-engine stability.  ``k`` and
    ``rerank`` must be ints >= 1."""
    require_int("k", k)
    if rerank is not None:
        require_int("rerank", rerank)
    books = _as_array(codebooks)
    qrows = queries.select(id_col, vec_col).collect()
    qids, luts = _adc_luts(qrows, books)
    n_short = max(k, rerank or 0)
    partial = codes_df.select("nid", "codes").mapInPandas(
        _adc_scorer(qids, luts, n_short), _ADC_SCHEMA
    )
    if rerank is not None and vectors is None:
        raise ValueError("rerank requires the raw `vectors` DataFrame")
    return _finish_shortlist(
        partial, queries, vectors, k=k, n_short=n_short, rerank=rerank,
        id_col=id_col, vec_col=vec_col,
    )


def knn_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    rerank: int | None = None,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 41,
    prebuilt: tuple[list, DataFrame] | None = None,
    codebooks: Codebooks | None = None,
    coded: DataFrame | None = None,
    residual: bool = False,
    prune_scan: bool = False,
    opq=None,
) -> DataFrame:
    """IVF coarse quantizer + PQ codes + ADC re-rank — the standard
    billion-scale ANN layout as a composition of this engine's parts:

    1. ``knn.ivf_build`` assigns every vector to an inverted list
       (map-side matmul; at scale lists are ``partitionBy("cid")``
       directories, so probes prune whole lists off disk);
    2. ``pq_encode`` stores each list's vectors as m smallint codes;
    3. probes broadcast the (small) query→list table, candidates are
       scored by ADC table lookups and partial-top-k'd per batch;
    4. optionally (``rerank=R``) the top-R ADC shortlist is re-ranked
       by exact L2 over raw vectors fetched for just those rows (see
       ``pq_adc_topk``).

    Work per query ≈ (nprobe/nlist) · corpus · m table adds, memory per
    corpus vector ≈ m codes — both knobs independent of dim.
    ``prebuilt`` takes an ``ivf_build`` result, ``codebooks`` a
    ``pq_train`` result, and ``coded`` a prior ``pq_encode(assigned,
    codebooks, keep=["cid"])`` so training AND corpus encoding are paid
    once and shared across searches — the full persisted-index pattern:
    at scale ``coded`` is the stored, cid-partitioned codes table, and
    serving touches nothing corpus-sized but its pruned scan.

    The query set is collected at construction and each query's ADC
    lookup tables ship in the scorer's closure (8 KB/query at
    m=16/ksub=64 — a ~10⁵-query ceiling; ×nlist in residual mode).
    Every sum is a strictly SEQUENTIAL fold (cumsum — not numpy's
    silently-pairwise .sum) rounded to 6 dp, so at nprobe=nlist the
    result equals ``pq_adc_topk``'s (pinned in tests/test_pq.py).
    ``k``, ``nlist`` and ``nprobe`` must be ints >= 1 and ``rerank``
    ``None`` or an int >= 1.

    ``residual=True`` encodes r = v − centroid[cid] per inverted list
    (the standard FAISS IVFPQ layout): codebooks model the residual
    distribution — tighter than the raw one — so recall at identical
    m/ksub improves (pinned ≥ raw in tests/test_pq.py).  LUTs become
    per-(query, list): the closure ships |Q|·nlist tables.
    ``codebooks``/``coded`` passed in must have been built
    under the SAME ``residual`` flag (codes are meaningless across
    layouts; not mechanically checkable — the persistence layer
    stores the flag).

    ``opq=R`` (an :func:`opq_train` rotation) applies the OPQ
    pre-transform: both sides are rotated map-side up front and the
    whole pipeline runs in the rotated space — L2 is invariant under
    the orthogonal R, so recall comparisons and exact re-rank
    distances are unchanged in meaning while PQ quantization error
    drops on correlated data.  Composes with ``residual`` (rotation
    first, per-list residuals of the rotated vectors — FAISS's
    ``OPQ..,IVF..,PQ..`` factory order).

    ``prune_scan=True`` collects the tiny probe table (|Q|·nprobe
    (qid, cid) rows — ONE extra driver job) and pushes the probed cid
    set into the coded scan as a LITERAL ``isin`` filter: on a
    ``partitionBy("cid")`` store (``save_ann_index``'s layout) that
    becomes a static PartitionFilter — unprobed inverted lists are
    skipped at the file-listing level, the on-disk pruning the IVF
    layout exists for (asserted on the physical plan in
    tests/test_index_store.py).  Spark's dynamic partition pruning
    does not fire for a filterless broadcast probe table, so the
    pruning is done statically.  Correct by construction even if the
    filter were a superset: list membership is re-checked by the
    equi-join."""
    from cosmap_spark.operators.knn import _scored_centroids, ivf_build

    for name, value in (("k", k), ("nlist", nlist), ("nprobe", nprobe)):
        require_int(name, value)
    if rerank is not None:
        require_int("rerank", rerank)

    if opq is not None:
        # OPQ pre-transform (opq_train's rotation): rotate BOTH sides
        # map-side before anything else — an orthogonal R preserves L2,
        # so the IVF assignment, ADC scoring, and exact re-rank all run
        # unchanged in the rotated space and the returned distances are
        # the true (unrotated) distances up to float rounding.  Any
        # `prebuilt`/`codebooks`/`coded` passed alongside must have
        # been built under the SAME rotation (the persistence layer
        # stores R in the manifest for exactly this reason).
        corpus = rotate_vectors(corpus, opq, vec_col=vec_col)
        queries = rotate_vectors(queries, opq, vec_col=vec_col)

    cents, assigned = prebuilt if prebuilt is not None else ivf_build(
        corpus, nlist=nlist, iters=train_iters,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    if coded is not None and prebuilt is None:
        # a coded table is clustered by SOME IVF assignment; probing it
        # with a freshly-built (different) quantizer silently matches
        # the wrong inverted lists — require the matching index
        raise ValueError("`coded` requires the matching `prebuilt` index")
    if codebooks is None or coded is None:
        if codebooks is None and coded is not None:
            raise ValueError("`coded` requires the matching `codebooks`")
        train_src, train_vec, train_id = (
            (ivf_residuals(assigned, cents), "rvec", "nid")
            if residual else (corpus, vec_col, id_col)
        )
        if codebooks is None:
            codebooks = pq_train(
                train_src, m=m, ksub=ksub, iters=train_iters,
                id_col=train_id, vec_col=train_vec, dim=dim, seed=seed,
            )
        if residual:
            coded = pq_encode(
                train_src, codebooks, id_col="nid", vec_col="rvec",
                keep=["cid"],
            )
        else:
            coded = pq_encode(
                assigned, codebooks, id_col="nid", vec_col="nvec",
                keep=["cid"],
            )
    probes = F.slice(
        F.reverse(F.array_sort(_scored_centroids(F.col(vec_col), cents))),
        1, nprobe,
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.explode(F.transform(probes, lambda s: -s["negcid"])).alias("cid"),
    )
    books = _as_array(codebooks)
    n_short = max(k, rerank or 0)
    qrows = queries.select(id_col, vec_col).collect()
    if prune_scan:
        probed = sorted(
            {r["cid"] for r in q.select("cid").distinct().collect()}
        )
        coded = coded.where(F.col("cid").isin(probed))
    cand = coded.join(F.broadcast(q), "cid")
    if residual:
        qids, cidpos, luts = _adc_luts_by_list(qrows, books, cents)
        nl = len(cents)
        cand = cand.select("nid", "codes", "qid", "cid")
    else:
        qids, luts = _adc_luts(qrows, books)
        cand = cand.select("nid", "codes", "qid")
    qpos = {int(qq): i for i, qq in enumerate(qids)}
    m_ = luts.shape[1]
    s_idx = np.arange(m_)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            if residual:
                qi = np.array(
                    [
                        qpos[qq] * nl + cidpos[int(cc)]
                        for qq, cc in zip(pdf["qid"], pdf["cid"])
                    ],
                    dtype=np.int64,
                )
            else:
                qi = np.array([qpos[qq] for qq in pdf["qid"]], dtype=np.int64)
            d = np.round(
                luts[qi[:, None], s_idx[None, :], codes].cumsum(axis=1)[:, -1],
                6,
            )
            keep = pdf["nid"].to_numpy() != pdf["qid"].to_numpy()
            scored_pdf = pd.DataFrame(
                {"qid": pdf["qid"][keep], "nid": pdf["nid"][keep], "dist": d[keep]}
            )
            # PARTIAL top-shortlist per query (the same total-order
            # (dist, nid) local top-k as _adc_scorer) — without it the
            # post-scan exchange carries every probed candidate, i.e.
            # O(corpus) rows at scale instead of
            # O(partitions · |Q| · n_short)
            yield topk_pandas(
                scored_pdf, ["qid"], [("dist", True), ("nid", True)], n_short
            )

    scored = cand.mapInPandas(score, _ADC_SCHEMA)
    return _finish_shortlist(
        scored, queries, corpus, k=k, n_short=n_short, rerank=rerank,
        id_col=id_col, vec_col=vec_col,
    )
