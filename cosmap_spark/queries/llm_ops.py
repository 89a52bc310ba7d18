"""LLM-training-data pipeline queries (SURVEY.md §2.4): dedup, similarity
search, text analysis, multimodal columns.

These are first-class engine capabilities beyond the reference's own
operator set (mandated by BASELINE.json).  Implementations live in
operators/dedup.py, operators/knn.py, functions/text.py; this module
binds them to the correctness ledger.

Consolidated (rounds 2-3): per-document analytics merge into ONE wide
suite (``q_text_profile`` — profiling + scrub/fingerprint/canonical/
repetition, all per-row JVM expressions), probabilistic near-dup and
ANN paths into tagged unions (``q_dedup_approx`` / ``q_knn_ann``), and
the multimodal metadata + join queries into ``q_multimodal`` — so every
operator lands inside the driver's bounded correctness window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cosmap_spark.functions.text import (
    LANG_STOPWORDS,
    canonicalize,
    fingerprint,
    n_tokens,
    quality_score,
    repetition_ratio,
    scrub_pii,
    tokens,
)
from cosmap_spark.functions.vectors import cosine_sql, norm
from cosmap_spark.operators.dedup import (
    contamination_hits,
    dedup_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from cosmap_spark.operators.knn import knn_bruteforce, knn_ivf, knn_lsh
from cosmap_spark.operators.pq import knn_ivfpq
from cosmap_spark.operators.retrieval import bm25_weight
from cosmap_spark.operators.multimodal import attach_media_metadata
from cosmap_spark.queries.registry import query
from cosmap_spark.tables import load_table

# --- Deduplication --------------------------------------------------------


def _with_planted_twins(e: DataFrame, n: int = 60) -> DataFrame:
    """Union the embeddings table with ``n`` deterministic near-twins:
    ``e'ᵢ = eᵢ + 0.08·e₍ᵢ₊₁ mod 64₎`` at ``vec_id + 1_000_000``
    (cosine ≈ 0.997 to the source vector, ≤ ~0.52 to everything else).

    The synthetic embeddings are i.i.d. (max pairwise cosine ≈ 0.51),
    so every dedup-meaningful threshold yields an EMPTY pair set on the
    raw table and a gate row that verifies nothing.  The jitter is plain
    IEEE-double arithmetic reproducible verbatim in DuckDB SQL (see
    ``_EMBED_DUP_ORACLE``), so oracle-checked queries stay hash-exact."""
    emb = F.col("embedding")
    jittered = F.transform(
        emb,
        lambda x, i: x.cast("double")
        + F.lit(0.08) * F.element_at(emb, ((i + 1) % 64) + 1).cast("double"),
    )
    base = e.select(
        "vec_id", F.transform(emb, lambda x: x.cast("double")).alias("embedding")
    )
    jit = e.where(F.col("vec_id") < n).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), jittered.alias("embedding")
    )
    return base.unionByName(jit)


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full text, canonical id = min id.
    One shuffle on the md5 — at 100 TB, shuffle keys are 32-byte hashes,
    never the documents themselves."""
    return exact_dedup(load_table(spark, sf_dir, "documents"))


_NGRAM_THRESHOLD = 0.08  # calibrated: random-vocab corpus ⇒ sparse 3-gram overlap

# Hot-shingle valve (operators/dedup.py): shingles shared by more than
# this many documents are stop shingles — excluded from both intersection
# and union, capping the n² pairing term at scale.  No shingle in any
# driver corpus exceeds the cap (max df: 9 at sf0.001, 7 at sf0.01, 25 at
# sf0.1), so the capped Jaccard is byte-identical to the uncapped exact
# value and the ledger stays hash-green against the brute-force oracle.
_MAX_SHINGLE_DF = 100

_NGRAM_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {_NGRAM_THRESHOLD}
"""


@query("q_dedup_ngram", oracle=_NGRAM_ORACLE)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs; candidates via
    shared-shingle equi-join (complete for Jaccard > 0, never O(n²));
    oracle recomputes brute-force in DuckDB."""
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        k=3,
        threshold=_NGRAM_THRESHOLD,
        max_shingle_df=_MAX_SHINGLE_DF,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {_NGRAM_THRESHOLD}
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
    )
    SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
"""


@query("q_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-pair closure: near-dup pairs -> connected components ->
    (id, cluster_id = component min).  Iterative min-label propagation
    (hash-to-min), one shuffle per round, O(diameter) rounds; the oracle
    computes the same components via a recursive reachability CTE.  This
    is the step that turns pairwise dedup output into droppable
    clusters."""
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        k=3,
        threshold=_NGRAM_THRESHOLD,
        max_shingle_df=_MAX_SHINGLE_DF,
    )
    return dedup_clusters(pairs)


_DECONTAM_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
            FROM toks WHERE len(t) >= 8),
    sh AS (SELECT DISTINCT doc_id,
                  list_aggregate(t[i:i+7], 'string_agg', ' ') AS shingle
           FROM idx),
    gbench AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
    gcorpus AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
    ngram AS (
      SELECT c.doc_id, count(DISTINCT b.doc_id) AS n_bench,
             CAST(count(DISTINCT c.shingle) AS DOUBLE) AS score
      FROM gcorpus c JOIN gbench b ON c.shingle = b.shingle
      GROUP BY c.doc_id
    ),
    corpus AS (
      SELECT vec_id, list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE)) AS cv
      FROM embeddings
    ),
    sbench AS (
      SELECT vec_id + 50000 AS bench_id,
             list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE)
                    + 0.2 * CAST(embedding[(i % 64) + 1] AS DOUBLE)
             ) AS bv
      FROM embeddings WHERE vec_id < 30
    ),
    spairs AS (
      SELECT c.vec_id AS doc_id, b.bench_id,
             round({cosine_sql('c.cv', 'b.bv')}, 6) AS sim
      FROM corpus c CROSS JOIN sbench b
    ),
    sem AS (
      SELECT doc_id, count(*) AS n_bench, max(sim) AS score
      FROM spairs WHERE sim >= 0.9 GROUP BY doc_id
    )
    SELECT 'ngram' AS method, doc_id, n_bench, score FROM ngram
    UNION ALL
    SELECT 'semantic' AS method, doc_id, n_bench, score FROM sem
"""


@query("q_decontam", oracle=_DECONTAM_ORACLE)
def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, BOTH published recipes as a tagged
    union with exact oracles:

    * ``ngram`` — operators/dedup.py:contamination_hits: flag every
      training document sharing any 8-gram with the held-out benchmark
      slice (``doc_id % 7 == 0`` stands in for the eval suite);
      ``score`` = distinct colliding 8-grams, ``n_bench`` = distinct
      benchmarks hit — the GPT-3/PaLM collision recipe.  The benchmark
      shingle set broadcasts; the corpus never shuffles.
    * ``semantic`` — operators/knn.py:semantic_contamination: flag
      every corpus embedding within cosine 0.9 of a benchmark
      embedding (the paraphrase-robust recipe n-gram collision
      misses).  The benchmark here is 30 planted arithmetic
      perturbations of corpus vectors (``vec_id + 50000``, e + 0.2·
      neighbor — pure IEEE-double arithmetic reproducible verbatim in
      the oracle, the ``_with_planted_twins`` discipline; the i.i.d.
      test embeddings have no organic near-bench pairs).  The GATE
      runs full probe (``nprobe = nlist``) so the IVF-pruned plan's
      result is brute-force-equal and hash-checkable; pruned-nprobe
      recall ≥ 0.9 is pinned separately in tests/test_dedup_knn.py.
      ``score`` = max similarity, ``n_bench`` = pairs ≥ threshold.
    """
    d = load_table(spark, sf_dir, "documents")
    ng = contamination_hits(
        d.where(F.col("doc_id") % 7 != 0),
        d.where(F.col("doc_id") % 7 == 0),
        k=8,
    ).select(
        F.lit("ngram").alias("method"),
        "doc_id",
        "n_bench",
        F.col("n_shingles").cast("double").alias("score"),
    )
    from cosmap_spark.operators.knn import semantic_contamination

    emb = F.col("embedding")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(emb, lambda x: x.cast("double")).alias("embedding")
    )
    bench = e.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 50000).alias("vec_id"),
        F.transform(
            emb,
            lambda x, i: x + F.lit(0.2) * F.element_at(emb, ((i + 1) % 64) + 1),
        ).alias("embedding"),
    )
    # iters=0: full probe visits every list regardless of centroid
    # quality, so Lloyd refinement would buy nothing and cost a
    # driver job; the pruned-nprobe configuration (where quality DOES
    # matter) is exercised in pytest
    sem = (
        semantic_contamination(
            e, bench, threshold=0.9, nlist=16, nprobe=16, iters=0
        )
        .groupBy(F.col("corpus_id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_bench"),
            F.max("sim").alias("score"),
        )
        .select(F.lit("semantic").alias("method"), "doc_id", "n_bench", "score")
    )
    return ng.unionByName(sem)


@query("q_dedup_approx")  # rows-only: hash-randomized candidates by design
def q_dedup_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probabilistic near-dup family as one tagged union — the
    100 TB dedup paths, where exact shingle-joins are replaced by
    bucketed candidate generation:

    * ``minhash`` — MinHash signatures + banded LSH buckets with
      exact-Jaccard verification (candidates only within band buckets,
      O(n·bands) not O(n²)); score = verified Jaccard;
    * ``simhash`` — SimHash fingerprints, Hamming ≤ 3, with 16-bit-chunk
      candidate bucketing (Manku et al. WWW'07 — any pair within
      distance 3 agrees on ≥ 1 of 4 chunks); score = Hamming distance;
    * ``semdedup`` — cluster-scoped semantic near-dup over the embedding
      table (SemDeDup, Abbas et al. 2023): k-means coarse quantizer,
      pairwise exact cosine ONLY within each cluster — the moderate-
      threshold regime where hyperplane-LSH recall collapses; score =
      exact cosine (run over ``_with_planted_twins`` so the branch
      contributes real pairs — the i.i.d. embeddings have none);
    * ``phash`` — perceptual-hash near-dup through the SAME banded
      Hamming join (operators/multimodal.py::phash_dup_pairs), bound
      here to utf-8 document bytes standing in for image blobs (the
      driver tables carry no media; the code path — DCT pHash kernel +
      hamming_pairs — is the one a real image corpus uses); all 500
      documents are pairwise-distinct at sf ≤ 0.1, so 40 exact-copy
      blobs are planted (``doc_id + 1_000_000``) to give the branch a
      real pair set; score = Hamming distance;
    * ``edit`` — q-gram filtered edit-distance join (operators/
      dedup.py::edit_distance_pairs, Gravano et al. VLDB'01 shape:
      shared-gram candidates + length filter + thresholded JVM
      levenshtein verify) over the documents' 48-char prefixes, with
      40 planted one-substitution twins (``doc_id + 2_000_000``) —
      the i.i.d. prefixes have no organic near-pairs; score = exact
      edit distance.

    Rows-only check (signatures/centroids are hash-specific); recall vs
    the exact pairs is unit-tested (tests/test_dedup_knn.py,
    tests/test_phash.py, tests/test_editdist.py)."""
    docs = load_table(spark, sf_dir, "documents")
    mh = minhash_lsh_pairs(
        docs, k=3, num_hashes=32, bands=8, threshold=_NGRAM_THRESHOLD,
    ).select(
        F.lit("minhash").alias("method"),
        "id_a", "id_b",
        F.round("jaccard", 6).alias("score"),
    )
    sh = simhash_pairs(docs, max_hamming=3).select(
        F.lit("simhash").alias("method"),
        "id_a", "id_b",
        F.col("hamming").cast("double").alias("score"),
    )
    from cosmap_spark.operators.knn import semantic_dedup_pairs

    sem = semantic_dedup_pairs(
        _with_planted_twins(load_table(spark, sf_dir, "embeddings")),
        threshold=0.95, nlist=16,
    ).select(
        F.lit("semdedup").alias("method"),
        "id_a", "id_b",
        F.col("sim").alias("score"),
    )
    from cosmap_spark.operators.multimodal import phash_dup_pairs

    blobs = docs.select("doc_id", F.encode("text", "utf-8").alias("blob"))
    planted = blobs.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "blob"
    )
    ph = phash_dup_pairs(
        blobs.unionByName(planted), id_col="doc_id", max_hamming=3,
    ).select(
        F.lit("phash").alias("method"),
        "id_a", "id_b",
        F.col("hamming").cast("double").alias("score"),
    )
    from cosmap_spark.operators.dedup import edit_distance_pairs

    prefixes = docs.select(
        "doc_id", F.substring("text", 1, 48).alias("prefix")
    )
    typo_twins = prefixes.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("z"), F.substring("prefix", 2, 47)).alias("prefix"),
    )
    # SHORT twins (length 6 < q·(k+1) = 8): findable ONLY through the
    # deletion-neighborhood short bucket — the gate exercises the gram
    # path (48-char twins above) AND the short path on every run
    short_base = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.substring("text", 1, 6).alias("prefix"),
    )
    short_twins = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.concat(F.lit("z"), F.substring("text", 2, 5)).alias("prefix"),
    )
    ed = edit_distance_pairs(
        prefixes.unionByName(typo_twins)
        .unionByName(short_base).unionByName(short_twins),
        text_col="prefix", max_dist=1, q=4, max_gram_df=100,
    ).select(
        F.lit("edit").alias("method"),
        "id_a", "id_b",
        F.col("dist").cast("double").alias("score"),
    )
    return (
        mh.unionByName(sh).unionByName(sem)
        .unionByName(ph).unionByName(ed)
    )


# --- Similarity search ----------------------------------------------------

_KNN_ORACLE = f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.qid, e.vec_id AS nid,
             round({cosine_sql('q.qvec', 'e.embedding')}, 6) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, nid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
      FROM pairs
    )
    SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 5
"""


@query("q_knn_cosine", oracle=_KNN_ORACLE)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN by cosine: broadcast query set × corpus, JVM-side
    zip_with/aggregate dot products, rank on 6-dp-rounded similarity
    (ulp-stable across engines) with id tie-break."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce(emb, emb.where(F.col("vec_id") < 10), k=5)


@query("q_knn_ann")  # rows-only: ANN recall is probabilistic by design
def q_knn_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN, all three scale paths, as one tagged union:

    * ``lsh`` — random-hyperplane buckets + exact re-rank: the probe
      touches matching buckets only;
    * ``ivf`` — IVF coarse quantizer (hash-seeded centroids + one Lloyd
      step, all DataFrame ops): probe the nprobe nearest inverted
      lists, exact re-rank inside them — work per query is
      ~nprobe/nlist of the corpus;
    * ``ivfpq`` — IVF + product-quantized codes + ADC shortlist +
      exact refine (operators/pq.py): the billion-scale layout where
      the scan reads m smallint codes per vector, not the vector.

    * ``opq`` — flat OPQ-PQ (operators/pq.py::opq_train, Ge et al.
      CVPR 2013): a learned orthogonal rotation decorrelates the
      subspaces before product quantization — trained on a
      deterministic hash-sample, applied map-side, searched by the
      same ADC + exact-refine tail;

    * ``colbert`` — LATE-INTERACTION retrieval
      (operators/retrieval.py::maxsim_topk, Khattab & Zaharia 2020):
      the 64-dim embeddings reshaped into 4 × 16-dim token matrices
      (a deterministic multi-vector view of the same data), ranked by
      cosine MaxSim — queries ship in the kernel closure, the corpus
      streams through one Arrow pass with a per-batch local top-k
      under a total order;

    * ``bq`` — BINARY-QUANTIZED compressed exhaustive scan
      (operators/knn.py::knn_binary): sign-bit words (32× vs float32),
      JVM ``bit_count(xor)`` Hamming shortlist, exact cosine re-rank —
      train-free and bucket-free, the no-recall-cliff member; equals
      brute force EXACTLY once rerank ≥ corpus (pinned);

    * ``tsearch`` — the TIME-SERIES member of the family: top-5
      z-normalized subsequence matches to two fixed probe patterns
      over the events value series (operators/tseries.py,
      segment-with-halo decomposition; exact differential vs brute
      force unit-tested).

    ``score`` is the branch's ranking score — exact cosine for
    lsh/ivf, NEGATIVE exact L2 distance for ivfpq/opq (refine
    metric), MaxSim for colbert, negated z-distance for tsearch;
    monotone-decreasing in rank for every branch.  Recall is
    unit-tested against brute force for every embedding branch."""
    return knn_ann_union(spark, sf_dir)


def knn_ann_union(
    spark: SparkSession,
    sf_dir: str,
    *,
    index=None,
    codebooks=None,
    lsh_index=None,
    coded=None,
    residual: bool = False,
    opq_rot=None,
    opq_books=None,
    opq_coded=None,
    bq_bits=None,
) -> DataFrame:
    """The q_knn_ann plan, with the trained/derived artifacts
    injectable: ``index`` an ``ivf_build`` result, ``codebooks`` a
    ``pq_train`` result, ``lsh_index`` an ``lsh_build`` result,
    ``coded`` a ``pq_encode`` result; ``residual`` declares the PQ
    artifacts use the residual layout (``load_ann_index`` surfaces it
    from the manifest).  The ledger entry builds all four in-query
    (self-contained for the gate).  With every artifact injected — as
    from ``load_ann_index`` — this function recomputes nothing
    corpus-sized: it does query-side bucketing/probing, candidate
    scoring and re-rank only, the search a persisted index serves."""
    # Round 10 (optimization): the whole union is assembled on a thread
    # pool.  Profiling showed q_knn_ann's cell is ~2/3 DRIVER-side
    # build — artifact-training collect jobs plus each branch's
    # query-side collects (ADC qrows, binarized query words, MaxSim
    # query matrices) and py4j plan construction — executed serially,
    # and only ~1/3 the actual union execution.  All of those driver
    # jobs are independent (guide §2.6 "overlap independent jobs"), so
    # training AND branch construction now run concurrently, with
    # futures expressing the only real dependencies (ivf→{ivf,ivfpq},
    # pq_train→ivfpq, opq_train→opq).  Results are deterministic —
    # identical params/seeds to the sequential calls this replaces,
    # pinned by the rows-only gate plus tests/test_pq.py determinism.
    # max_workers covers every task (_N_POOL_TASKS: 3 training + 7
    # branches) so a branch blocking on a training future can never
    # starve the training task itself; the assert below the branch
    # submits keeps the bound honest if a branch is ever added.
    from concurrent.futures import ThreadPoolExecutor

    from cosmap_spark.operators.knn import ivf_build, knn_binary
    from cosmap_spark.operators.pq import (
        opq_train_gate,
        pq_adc_topk,
        pq_encode,
        rotate_vectors,
        pq_train,
    )
    from cosmap_spark.operators.retrieval import maxsim_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    _N_POOL_TASKS = 10  # 3 training + 6 branch builders + tsearch
    with ThreadPoolExecutor(max_workers=_N_POOL_TASKS) as ex:
        # --- artifact futures (gate path trains; callers may inject) --
        # one trained coarse quantizer serves BOTH ivf and ivfpq — the
        # persisted-index pattern (train once, search many)
        gate = index is None and codebooks is None and coded is None
        fut_index = (
            ex.submit(ivf_build, emb, nlist=16, iters=1)
            if index is None else None
        )
        fut_pq = (
            ex.submit(pq_train, emb, m=16, ksub=64, iters=1, dim=64, seed=41)
            if gate else None
        )
        # OPQ trains on a deterministic hash-sample (the standard FAISS
        # practice; encode/search still cover the full corpus) —
        # pq.opq_train_gate is the single source of the gate parameters
        fut_opq = (
            ex.submit(opq_train_gate, emb)
            if (opq_rot is None or opq_books is None) else None
        )
        # NOTE: the lazy `assigned` is deliberately NOT
        # localCheckpoint'ed even though the ivf and ivfpq branches
        # each evaluate it (map-side work has no exchange for AQE
        # to reuse): measured, materializing it is a net LOSS
        # (sf0.1 3.3 s → 4.9 s; worse at 10× — the eager job +
        # ~100 MB of vector blocks cost more than the re-run
        # matmul, and repeated invocations churn storage until the
        # GC reclaims them).  Materialization pays only for a caller
        # that reuses the artifacts many times, which is why they
        # are injectable.

        # --- branch builders (each runs its own collects) -------------
        def _lsh():
            return knn_lsh(
                emb, queries, k=5, dim=64, prebuilt_buckets=lsh_index,
                multiprobe=1,
            ).select(
                F.lit("lsh").alias("method"), "qid", "nid",
                F.col("sim").alias("score"), "rn",
            )

        def _ivf():
            idx = fut_index.result() if fut_index is not None else index
            return knn_ivf(
                emb, queries, k=5, nlist=16, nprobe=8, prebuilt=idx
            ).select(
                F.lit("ivf").alias("method"), "qid", "nid",
                F.col("sim").alias("score"), "rn",
            )

        # Honest-recall parameters, floor 0.9 pinned at EXACTLY these
        # values in tests/test_pq.py (measured 0.98): m=16/ksub=64
        # codebooks (m=8/ksub=16 under-delivered at 0.62), R=100 exact
        # refine, nprobe=14.  The i.i.d. test embeddings are the
        # IVF-hostile extreme — nearest neighbors of a uniform query
        # barely co-locate, so recall ≥ 0.9 costs probing 14/16 lists
        # HERE; real embedding corpora cluster, where nprobe/nlist of a
        # few percent reaches the same recall.
        def _ivfpq():
            idx = fut_index.result() if fut_index is not None else index
            books = fut_pq.result() if fut_pq is not None else codebooks
            return knn_ivfpq(
                emb, queries, k=5, nlist=16, nprobe=14, m=16, ksub=64,
                rerank=100, prebuilt=idx, codebooks=books, coded=coded,
                residual=residual,
            ).select(
                F.lit("ivfpq").alias("method"), "qid", "nid",
                (-F.col("dist")).alias("score"), "rn",
            )

        # opq — FLAT OPQ-PQ (rotation + codes + ADC + exact refine, no
        # coarse quantizer: FAISS's "OPQ8,PQ8" factory string): the
        # learned orthogonal rotation decorrelates subspaces before
        # coding.  The rotation/codebooks are injectable like every
        # other artifact; self-trained on a hash-sample otherwise.
        def _opq():
            rot, books = (
                fut_opq.result() if fut_opq is not None
                else (opq_rot, opq_books)
            )
            rot_emb = rotate_vectors(emb, rot)
            rot_q = rotate_vectors(queries, rot)
            oc = opq_coded if opq_coded is not None else pq_encode(
                rot_emb, books
            )
            return pq_adc_topk(
                oc, rot_q, books, k=5, rerank=100, vectors=rot_emb,
            ).select(
                F.lit("opq").alias("method"), "qid", "nid",
                (-F.col("dist")).alias("score"), "rn",
            )

        # colbert — late-interaction MaxSim over a multi-vector VIEW of
        # the same embeddings: 64 dims reshaped to 4 tokens × 16 dims
        # (slice is 1-based).  No trainable artifact — the corpus pass
        # IS the serve.
        def _colbert():
            tvecs = F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda i: F.slice("embedding", i * 16 + 1, 16),
            ).alias("tvecs")
            return maxsim_topk(
                emb.select(F.col("vec_id").alias("doc_id"), tvecs),
                emb.where(F.col("vec_id") < 10).select(
                    F.col("vec_id").alias("qid"), tvecs
                ),
                k=6,  # 6: self-match ranks first; dropped below for 5
            ).where(F.col("qid") != F.col("doc_id")).select(
                F.lit("colbert").alias("method"), "qid",
                F.col("doc_id").alias("nid"), F.col("score"),
                # re-rank after the self-row drop: rn stays 1..5
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(
                        F.col("score").desc(), F.col("doc_id").asc()
                    )
                ).cast("long").alias("rn"),
            ).where(F.col("rn") <= 5)

        # bq — binary-quantized compressed exhaustive scan (knn_binary):
        # sign-bit words + JVM bit_count(xor) Hamming shortlist + exact
        # cosine re-rank.  No training and no bucketing — the family's
        # no-recall-cliff member; the scan reads one LONG per vector.
        def _bq():
            return knn_binary(
                emb, queries, k=5, dim=64, rerank=100,
                prebuilt_bits=bq_bits,
            ).select(
                F.lit("bq").alias("method"), "qid", "nid",
                F.col("sim").alias("score"), "rn",
            )

        futs = [
            ex.submit(b)
            for b in (_lsh, _ivf, _ivfpq, _opq, _colbert, _bq)
        ]
        futs.append(ex.submit(_tsearch_branch, spark, sf_dir))
        # starvation guard (round-11 ADVICE): every submitted task must
        # have a pool slot, or a late-submitted branch blocking on a
        # training future could deadlock behind it
        n_training = sum(
            f is not None for f in (fut_index, fut_pq, fut_opq)
        )
        assert n_training + len(futs) <= _N_POOL_TASKS, (
            f"knn_ann_union pool undersized: {n_training} training + "
            f"{len(futs)} branches > max_workers={_N_POOL_TASKS}"
        )
        branches = [f.result() for f in futs]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


#: fixed z-shape probes for the ``tsearch`` branch: a spike and a ramp
#: (after z-normalization these are scale/offset-free templates)
TS_PATTERNS = (
    (0, [0.0, 1.0, 3.0, 1.0, 0.0, -1.0, 0.0, 0.5]),
    (1, [0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]),
)


def _tsearch_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity-search family's TIME-SERIES member: top-5
    z-normalized subsequence matches per probe pattern over the events
    value series (operators/tseries.py — segment-with-halo Arrow
    kernel, one key/order exchange, bounded O(groups·k) result
    exchange).  ``nid`` encodes (user_id, window start) as
    ``user_id·2³² + start`` (guarded in-plan against ``start ≥ 2³²``);
    ``score`` is the negated z-distance, so
    the union's monotone-decreasing-in-rank contract holds."""
    from cosmap_spark.operators.tseries import subsequence_search_multi

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    # nid packs (user_id, start) into one long: 2³² stride, with an
    # in-plan guard — a series of ≥ 2³² events per user would silently
    # alias into the next user's id space, so fail loudly instead
    # (round-3 ADVICE: the old 10⁶ stride overflowed much earlier).
    # user_id is guarded too: |user_id| ≥ 2³¹ would overflow the
    # multiplication ITSELF (an opaque ANSI ARITHMETIC_OVERFLOW — or a
    # silent wrap if ANSI were ever off — before the message below
    # could explain the encoding limit)
    stride = 1 << 32
    fits = (
        (F.col("start") < stride)
        & (F.col("user_id") >= -(1 << 31))
        & (F.col("user_id") < (1 << 31))
    )
    packed = F.when(
        fits, F.col("user_id") * stride + F.col("start")
    ).otherwise(
        F.raise_error(F.format_string(
            "tsearch nid encoding overflow: start=%s (max 2^32) "
            "user_id=%s (max ±2^31)", "start", "user_id"))
    )
    hits = subsequence_search_multi(
        ev, [pat for _, pat in TS_PATTERNS],
        key_col="user_id", order_col=["ts", "event_id"], val_col="value", k=5,
    ).select(
        F.lit("tsearch").alias("method"),
        F.col("qid").cast("long").alias("qid"),
        packed.alias("nid"),
        (-F.round(F.col("dist"), 6)).alias("score"),
    )
    w = Window.partitionBy("method", "qid").orderBy(
        F.col("score").desc(), F.col("nid").asc()
    )
    return hits.withColumn("rn", F.row_number().over(w).cast("long"))


_EMBED_DUP_ORACLE = f"""
    WITH jit AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE)
                    + 0.08 * CAST(embedding[(i % 64) + 1] AS DOUBLE)) AS embedding
      FROM embeddings WHERE vec_id < 60
    ),
    uni AS (
      SELECT vec_id,
             list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE)) AS embedding
      FROM embeddings
      UNION ALL SELECT vec_id, embedding FROM jit
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS sim
      FROM uni a JOIN uni b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.99
"""


@query("q_embed_dup", oracle=_EMBED_DUP_ORACLE)
def q_embed_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ 0.99) via
    hyperplane-LSH candidate buckets + exact-cosine verification
    (operators/knn.py:embedding_dup_pairs) — the 100 TB shape: the
    candidate join is an equi-join on (table, bucket), never the
    quadratic ``id_a < id_b`` pair scan the DuckDB oracle brute-forces.
    Recall at this threshold is > 0.9999 (8 tables × 8 planes; see the
    operator docstring) and is unit-tested vs brute force; threshold is
    applied to the ROUNDED similarity so the cut is ulp-stable.

    The synthetic embeddings are i.i.d. (max pairwise cosine ≈ 0.51 at
    sf0.01), so the raw corpus has NO pairs at any dedup-meaningful
    threshold and the gate row would verify an empty set (round 2's
    vacuous green).  The query therefore unions 60 planted near-twins —
    each a deterministic rotation-jitter ``e'ᵢ = eᵢ + 0.08·e₍ᵢ₊₁ mod 64₎``
    (cosine ≈ 0.997 to its source, ≤ 0.52 to everything else), computed
    with identical IEEE-double arithmetic in the oracle SQL — so the
    hash covers 60 real (id_a, id_b, sim) triples end-to-end through
    the LSH path."""
    from cosmap_spark.operators.knn import embedding_dup_pairs

    uni = _with_planted_twins(load_table(spark, sf_dir, "embeddings"))
    return embedding_dup_pairs(uni, threshold=0.99, dim=64)


# --- Text analysis --------------------------------------------------------

_STOP = LANG_STOPWORDS["en"]
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _STOP) + "]"

_LANGS = ("en", "fr", "de", "es")


def _lang_count_sql(lang: str) -> str:
    words = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + "]"
    return (
        f"len(list_filter(string_split(text, ' '), x -> list_contains({words}, x)))"
    )


_TEXT_PROFILE_ORACLE = f"""
    WITH c AS (
      SELECT doc_id, lang, n_chars, text,
             {_lang_count_sql('en')} AS c_en, {_lang_count_sql('fr')} AS c_fr,
             {_lang_count_sql('de')} AS c_de, {_lang_count_sql('es')} AS c_es,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_toks,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             string_split(text, ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT c.*,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [] END AS s
      FROM c
    )
    SELECT doc_id, lang,
           CAST(length(text) AS BIGINT) AS len_chars,
           n_toks, n_uniq,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_toks, 6) AS avg_tok_len,
           round(CAST(len(list_filter(string_split(text, ' '),
                                      x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                 / n_toks, 6) AS stop_ratio,
           round(least(1.0, CAST(n_toks AS DOUBLE) / 50.0) * 0.5
                 + (CAST(n_uniq AS DOUBLE) / greatest(CAST(n_toks AS DOUBLE), 1.0)) * 0.5,
                 6) AS quality,
           CASE WHEN greatest(c_en, c_fr, c_de, c_es) = 0 THEN 'und'
                WHEN c_en >= greatest(c_fr, c_de, c_es) THEN 'en'
                WHEN c_fr >= greatest(c_de, c_es) THEN 'fr'
                WHEN c_de >= c_es THEN 'de'
                ELSE 'es' END AS lang_guess,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpeish,
           CAST(floor(n_toks / 32) AS BIGINT) AS bucket,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
             '\\d{{9,}}', '<NUM>', 'g') AS scrubbed,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
           trim(regexp_replace(
             regexp_replace(lower(text), '[^\\p{{L}}\\p{{N}}\\s]', ' ', 'g'),
             '\\s+', ' ', 'g')) AS canon,
           CASE WHEN len(s) > 0
                THEN round(CAST(list_max(list_transform(list_distinct(s),
                         d -> len(list_filter(s, x -> x = d)))) AS DOUBLE) / len(s), 6)
                ELSE 0.0 END AS rep_ratio
    FROM sh
"""


@query("q_text_profile", oracle=_TEXT_PROFILE_ORACLE)
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document profiling in ONE pass — the statistics a training-data
    curation pipeline computes on every document, all JVM-side split/
    regexp/higher-order-function expressions (zero Python):

    * token statistics: counts, distinct tokens, average token length,
      stopword ratio;
    * heuristic quality score (length saturation + token diversity);
    * stopword-vote language ID (deterministic argmax, tie order
      en>fr>de>es);
    * token counting: word regex + a BPE-ish piece regex (≤4-char
      alphabetic pieces, digits, single symbols);
    * the token-length bucket behind sequence packing / curriculum
      batching (the histogram itself is then a trivial count per
      bucket);
    * PII-style scrub: redact email-shaped substrings and long digit
      runs via a regexp_replace chain (DuckDB needs the 'g' flag to
      match Spark's replace-all);
    * normalized-text md5 fingerprint (stable across engines/runs);
    * dedup-canonical form (lowercase, punctuation stripped, whitespace
      collapsed — functions/text.py:canonicalize);
    * Gopher-style repetition ratio (most frequent 3-gram's share of
      all 3-grams, Rae et al. 2021 A1.1) — per-row higher-order
      functions, no explode/shuffle."""
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    nt = n_tokens(text)
    stop_arr = F.array(*[F.lit(w) for w in _STOP])
    n_stop = F.size(F.filter(tokens(text), lambda x: F.array_contains(stop_arr, x)))

    def cnt(lang: str):
        words = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        return F.size(F.filter(tokens(text), lambda x: F.array_contains(words, x)))

    c_en, c_fr, c_de, c_es = cnt("en"), cnt("fr"), cnt("de"), cnt("es")
    guess = (
        F.when(F.greatest(c_en, c_fr, c_de, c_es) == 0, "und")
        .when(c_en >= F.greatest(c_fr, c_de, c_es), "en")
        .when(c_fr >= F.greatest(c_de, c_es), "fr")
        .when(c_de >= c_es, "de")
        .otherwise("es")
    )
    return d.select(
        "doc_id",
        "lang",
        F.length(text).cast("long").alias("len_chars"),
        nt.alias("n_toks"),
        F.size(F.array_distinct(tokens(text))).cast("long").alias("n_uniq"),
        F.round(
            F.length(F.replace(text, F.lit(" "), F.lit(""))).cast("double") / nt, 6
        ).alias("avg_tok_len"),
        F.round(n_stop.cast("double") / nt, 6).alias("stop_ratio"),
        F.round(quality_score(text), 6).alias("quality"),
        guess.alias("lang_guess"),
        F.regexp_count(text, F.lit("[A-Za-z]+")).cast("long").alias("n_words"),
        F.regexp_count(text, F.lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]"))
        .cast("long").alias("n_bpeish"),
        F.floor(nt / 32).cast("long").alias("bucket"),
        scrub_pii(text).alias("scrubbed"),
        fingerprint(text).alias("fp"),
        canonicalize(text).alias("canon"),
        F.when(F.size(tokens(text)) >= 3, F.round(repetition_ratio(text, 3), 6))
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
    )


_SUBSTR_L = 8

_PASSAGE_DEDUP_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ch AS (
      SELECT doc_id,
             unnest(range(greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1))) AS idx,
             unnest(list_transform(
               range(greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1)),
               i -> array_to_string(
                      list_slice(toks, i * 8 + 1, least((i + 1) * 8, len(toks))),
                      ' '))) AS chunk
      FROM t
    ),
    r AS (
      SELECT doc_id, idx, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
      FROM ch
    ),
    passage AS (
      SELECT doc_id,
             count(*) AS n_units,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
             coalesce(array_to_string(
               list(chunk ORDER BY idx) FILTER (WHERE rn = 1), ' '), '') AS text_clean
      FROM r GROUP BY doc_id
    ),
    -- ExactSubstr branch: stride-1 windows over EMPTY-FILTERED tokens
    st AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id, unnest(range(len(toks) - {_SUBSTR_L} + 1)) AS pos
      FROM st WHERE len(toks) >= {_SUBSTR_L}
    ),
    win AS (
      SELECT w.doc_id, w.pos,
             array_to_string(
               list_slice(st.toks, w.pos + 1, w.pos + {_SUBSTR_L}), ' ') AS seq
      FROM w JOIN st ON w.doc_id = st.doc_id
    ),
    rr AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY seq ORDER BY doc_id, pos) AS rn
      FROM win
    ),
    losers AS (SELECT doc_id, pos AS s, pos + {_SUBSTR_L} AS e FROM rr WHERE rn > 1),
    flag AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                  PARTITION BY doc_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_run
      FROM losers
    ),
    runs AS (
      SELECT doc_id, s, e,
             sum(new_run) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM flag
    ),
    merged AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM runs GROUP BY doc_id, run),
    spans AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS sp FROM merged GROUP BY doc_id),
    substr_kept AS (
      SELECT st.doc_id,
             CAST(len(st.toks) AS BIGINT) AS n_units,
             list_filter(st.toks, (x, i) ->
               len(list_filter(coalesce(spans.sp, []),
                               rr2 -> i > rr2.s AND i <= rr2.e)) = 0) AS kt
      FROM st LEFT JOIN spans ON st.doc_id = spans.doc_id
    ),
    substr AS (
      SELECT doc_id, n_units,
             CAST(n_units - len(kt) AS BIGINT) AS n_affected,
             coalesce(array_to_string(kt, ' '), '') AS text_clean
      FROM substr_kept
    ),
    -- winnowing branch (Schleimer et al. 2003): md5-prefix 5-gram
    -- hashes over empty-filtered tokens, window w=4, rightmost-min
    -- selection replayed as a positional join + (h ASC, pos DESC)
    -- rank; text_clean hash-checks the ENTIRE selected set
    wt AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    wg AS (
      SELECT doc_id, u.i AS pos,
             substr(md5(array_to_string(
               list_slice(toks, u.i + 1, u.i + 5), ' ')), 1, 16) AS h
      FROM wt, unnest(range(len(toks) - 5 + 1)) AS u(i)
      WHERE len(toks) >= 5
    ),
    wng AS (SELECT doc_id, count(*) AS ng FROM wg GROUP BY 1),
    wstarts AS (
      SELECT doc_id, unnest(range(greatest(ng - 4, 0) + 1)) AS s FROM wng
    ),
    wwin AS (
      SELECT st.doc_id, st.s, g.pos, g.h
      FROM wstarts st JOIN wg g
        ON g.doc_id = st.doc_id AND g.pos >= st.s AND g.pos < st.s + 4
    ),
    wsel AS (
      SELECT DISTINCT doc_id, pos, h FROM (
        SELECT doc_id, s, pos, h,
               row_number() OVER (PARTITION BY doc_id, s
                                  ORDER BY h ASC, pos DESC) AS rn
        FROM wwin) WHERE rn = 1
    ),
    winnow AS (
      SELECT doc_id,
             count(*) AS n_units,
             count(DISTINCT h) AS n_affected,
             array_to_string(
               list(CAST(pos AS VARCHAR) || ':' || h
                    ORDER BY CAST(pos AS VARCHAR) || ':' || h), ' ')
               AS text_clean
      FROM wsel GROUP BY 1
    )
    SELECT 'passage' AS mode, * FROM passage
    UNION ALL
    SELECT 'substring' AS mode, * FROM substr
    UNION ALL
    SELECT 'winnow' AS mode, * FROM winnow
"""


@query("q_passage_dedup", oracle=_PASSAGE_DEDUP_ORACLE)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup, both published recipes as one tagged union —
    the duplication mode document-level exact/minhash dedup cannot see
    (boilerplate/quoted passages INSIDE otherwise-unique documents):

    * ``passage`` — C4's "repeated three-sentence span" rule (Raffel et
      al. 2020 §2.2) over non-overlapping 8-token chunks
      (operators/dedup.py::passage_dedup): ``n_units`` = chunks,
      ``n_affected`` = chunks KEPT;
    * ``substring`` — ExactSubstr (Lee et al. 2021 §4.1) over STRIDE-1
      8-token windows (operators/dedup.py::substring_dedup): duplicated
      spans caught at every alignment, overlapping loser windows merged
      to maximal spans before cutting; ``n_units`` = tokens,
      ``n_affected`` = tokens REMOVED;
    * ``winnow`` — winnowing fingerprints (Schleimer et al., SIGMOD
      2003 — MOSS) with k=5, w=4
      (operators/dedup.py::winnow_fingerprints): md5-prefix k-gram
      hashes, rightmost-min per window; ``n_units`` = selected
      fingerprints, ``n_affected`` = distinct hashes,
      ``text_clean`` = the sorted ``pos:hash`` set — the whole
      selection is hash-verified against the oracle's positional-join
      replay.

    Both branches: globally-first occurrence wins (lexicographic
    (doc_id, position)); exact DuckDB oracle recomputes each from raw
    token streams (group on raw window strings — the engine's md5 is an
    internal shuffle optimization, not part of the semantics).

    Scale shape: winner election in both is a map-side-combined
    ``groupBy(window-hash).agg(min(struct))`` — a billion-fold hot
    passage collapses before the exchange; join-backs are
    AQE-skew-splittable; span-merge is the gaps-and-islands window per
    doc; final groupBys are per-document.  Shuffles carry hashes, not
    text."""
    from cosmap_spark.operators.dedup import passage_dedup, substring_dedup

    d = load_table(spark, sf_dir, "documents")
    p = passage_dedup(d, k=8).select(
        F.lit("passage").alias("mode"),
        "doc_id",
        F.col("n_chunks").alias("n_units"),
        F.col("n_kept").alias("n_affected"),
        "text_clean",
    )
    s = substring_dedup(d, length=_SUBSTR_L).select(
        F.lit("substring").alias("mode"),
        "doc_id",
        F.col("n_tokens").alias("n_units"),
        F.col("n_removed").alias("n_affected"),
        "text_clean",
    )
    from cosmap_spark.operators.dedup import winnow_fingerprints

    wfp = winnow_fingerprints(d, k=5, w=4)
    win = (
        wfp.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_units"),
            F.countDistinct("fp").alias("n_affected"),
            F.concat_ws(
                " ",
                F.sort_array(F.collect_list(
                    F.concat_ws(":", F.col("pos").cast("string"), "fp")
                )),
            ).alias("text_clean"),
        )
        .select(
            F.lit("winnow").alias("mode"),
            "doc_id", "n_units", "n_affected", "text_clean",
        )
    )
    return p.unionByName(s).unionByName(win)


_TFIDF_ORACLE = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df, sum(tf) AS ctf FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    tot AS (SELECT sum(tf) AS n_tok FROM tf)
    SELECT t.doc_id, t.term,
           t.tf AS tf,
           round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf,
           round(CAST(d.ctf AS DOUBLE) / tot.n_tok, 8) AS p_term,
           round(
             sum(t.tf * -ln(CAST(d.ctf AS DOUBLE) / tot.n_tok))
               OVER (PARTITION BY t.doc_id)
             / sum(t.tf) OVER (PARTITION BY t.doc_id), 4) AS lm_nll,
           round(
             ln((n.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
             * (t.tf * 2.2)
             / (t.tf + 1.2 * (1 - 0.75 + 0.75
                * (sum(t.tf) OVER (PARTITION BY t.doc_id))
                  / (CAST(tot.n_tok AS DOUBLE) / n.n_docs))), 6) AS bm25
    FROM tf t JOIN dfreq d USING (term) CROSS JOIN n CROSS JOIN tot
"""


@query("q_tfidf", oracle=_TFIDF_ORACLE)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights per (document, term) plus corpus unigram-LM
    features — sparse featurization and the CCNet-style statistical
    quality proxy (Wenzek et al. 2020) in one computation tree:

    * ``tfidf`` — classic tf × ln(N/df);
    * ``p_term`` — the term's corpus unigram probability (MLE over all
      token occurrences);
    * ``lm_nll`` — the document's average per-token negative
      log-likelihood under that unigram LM: high = improbable token mix
      (gibberish / OCR noise), low = stereotyped text.  The distributed
      analog of CCNet's "perplexity under a reference LM" filter, with
      the corpus itself as the LM;
    * ``bm25`` — the Okapi BM25 term weight (Robertson-style
      ``ln((N−df+0.5)/(df+0.5)+1)`` idf, k1=1.2, b=0.75, document
      length = Σtf over the doc window, avgdl = n_tok/N) — the
      retrieval-grade weighting operators/retrieval.py::bm25_search
      ranks with, hash-checked here at full (doc, term) granularity.

    Scale shape: explode to (doc, term), ONE groupBy for term
    frequencies, ONE groupBy (on the much smaller tf table) for per-term
    df + collection frequency, broadcasts of the 1-row totals — the
    term table is vocabulary-sized, so it broadcasts at any realistic
    scale.  The per-document NLL is a window over ``doc_id`` (bounded
    by document size, skew-free) rather than a groupBy + self-join —
    one exchange instead of two plus a join.  No collect, no
    driver-side vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("ctf")
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    n_tok = tf.agg(F.sum("tf").alias("n_tok"))
    w = Window.partitionBy("doc_id")
    p_term = F.col("ctf").cast("double") / F.col("n_tok")
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
            F.round(p_term, 8).alias("p_term"),
            F.round(
                F.sum(F.col("tf") * -F.log(p_term)).over(w)
                / F.sum("tf").over(w),
                4,
            ).alias("lm_nll"),
            F.round(
                bm25_weight(
                    F.col("tf"), F.col("df"), F.col("n_docs"),
                    F.sum("tf").over(w),
                    F.col("n_tok").cast("double") / F.col("n_docs"),
                ),
                6,
            ).alias("bm25"),
        )
    )


# --- Multimodal columns ---------------------------------------------------


@query(
    "q_multimodal",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           sha256(d.text) AS blob_sha,
           CAST(len(e.embedding) AS BIGINT) AS dim, e.label,
           round(sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))), 6) AS vec_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row assembly: a real binary column (document text
    encoded to UTF-8 blobs) with derived metadata — byte length +
    content fingerprint (operators/multimodal.py attach_media_metadata,
    the dedup/caching key for opaque media at scale) — joined to the
    vector column in one row (the doc ⋈ embedding id-join), plus a
    computed vector norm.  All JVM-side; the decode kernels themselves
    are env-stubbed behind mapInArrow (tests/test_multimodal.py)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.encode(F.col("text"), "UTF-8").alias("blob")
    )
    d = attach_media_metadata(d)
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d["doc_id"] == e["vec_id"])
        .select(
            "doc_id", "lang", "n_chars", "n_bytes", "blob_sha",
            F.size("embedding").cast("long").alias("dim"),
            "label",
            F.round(norm(F.col("embedding")), 6).alias("vec_norm"),
        )
    )
