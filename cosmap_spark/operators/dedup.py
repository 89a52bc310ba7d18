"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.4).

Four tiers, in increasing fuzziness, all shuffle-lean:

* exact          — hash-groupBy on the full text (one shuffle on a hash).
* ngram_jaccard  — exact Jaccard over k-gram shingle sets, candidate
                   pairs generated by a shared-shingle equi-join (complete
                   for every pair with Jaccard > 0; never O(n²)).
* minhash_lsh    — MinHash signatures + banded LSH bucketing: candidate
                   pairs only within equal band-hash buckets, then exact
                   Jaccard verification.  The 100 TB path: cost is
                   O(n·bands) + bucket-local pairs.
* simhash        — 64-bit SimHash fingerprints; near-dups = fingerprints
                   within small Hamming distance, bucketed by 16-bit
                   chunks (Charikar 2002 / Manku et al. 2007 scheme).

Everything is native DataFrame ops (explode/groupBy/joins + xxhash64);
no Python UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cosmap_spark.functions.sqlargs import quote, require_fraction, require_int, require_seed
from cosmap_spark.functions.text import shingles_sql, tokens


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: canonical (min) id + multiplicity."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, k: int, *, explode: bool = False
) -> DataFrame:
    """(id, s) with ``s`` the document's distinct shingle SET as an
    array of gram xxhash64s — the one place the gram and hash expression
    is written; ``explode=True`` (:func:`_shingle_sets`) explodes it to
    (id, shingle) rows.  Deliberate shapes for the hot path:

    * the token array is materialized in its own projection BEFORE
      shingling — element_at inside the shingle lambda then reads the
      row's array instead of re-splitting the document per gram (Spark
      performs no CSE inside lambda functions; measured 2× on this
      stage);
    * the explode takes the set EXPRESSION, never a projected ``s``
      column: over a bare column Catalyst infers ``size(s) > 0 AND
      isnotnull(s)`` (InferFiltersFromGenerate) and pushes that filter
      below both projections, where it rebuilds every document's grams
      from the raw text, re-splitting it per gram (signatures of 20k
      perfbench documents, ``local[4]``: 5.5 s against 0.8–1.0 s);
    * grams are hashed to int64 AT CREATION, before any exchange — the
      groupBy / self-join downstream all shuffle 8-byte longs, never
      ~25-byte gram strings.  Set/intersection counts are unchanged
      absent a 64-bit collision (P ≈ n²/2⁶⁵; ~1e-9 for 260k distinct
      grams), the standard trade every shingle pipeline makes;
    * the per-document shingle SET is deduped IN-ROW
      (``array_distinct`` on the hashed gram array) before the explode,
      not by a global ``.distinct()`` after it — ``id_col`` is one row
      per document in every caller, so the (id, shingle) pair set is
      identical, and the full (id, gram)-stream shuffle the distinct
      paid disappears from the plan (round-10: one Exchange removed
      per consumer instance; guide §2.1 "remove shuffles outright").

    CALLER INVARIANT (round-10 ADVICE): the input must have ONE ROW
    PER ``id_col`` VALUE.  The in-row dedup cannot see across rows, so
    a repeated id inflates ``ngram_jaccard_pairs``' set sizes and
    intersections, and REPEATS ``minhash_lsh_pairs``' output pairs (its
    verification joins the arrays once per occurrence);
    ``contamination_hits`` alone is safe via its ``countDistinct``.
    Every current caller passes a one-row-per-document frame; dedupe
    upstream before calling with anything else.

    Built as SQL text (two ``selectExpr`` calls): the same plan as the
    ``tokens`` + ``shingles_from_tokens`` column form, in a fraction of
    its py4j round trips.
    """
    s = f"array_distinct(transform({shingles_sql('__toks', k)}, g -> xxhash64(g)))"
    return df.selectExpr(
        f"{quote(id_col, 'id_col')} AS id",
        f"split({quote(text_col, 'text_col')}, ' ') AS __toks",
    ).selectExpr("id", f"explode({s}) AS shingle" if explode else f"{s} AS s")


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingle) distinct pairs: :func:`_shingle_arrays` exploded."""
    return _shingle_arrays(df, text_col, id_col, k, explode=True)


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs (i < j) with exact shingle-set Jaccard ≥ threshold.

    Candidates come from a self-equi-join on shingle (any pair with a
    shared shingle — complete for Jaccard > 0).  ``max_shingle_df`` is
    the scale valve: shingles appearing in more than that many documents
    (the n²-explosion term of the pairing, and zero near-dup signal)
    are treated as STOP SHINGLES and excluded from BOTH the intersection
    and the union — i.e. Jaccard is computed exactly over the df-capped
    shingle universe.  When no shingle exceeds the cap (true of every
    driver test corpus: max df ≤ 25 at sf0.1) the result is
    byte-identical to the uncapped exact Jaccard.

    No caching: the shingle/posting-list subplan appears three times in
    the final plan (intersection + both size lookups), and AQE's
    exchange reuse materializes its shuffle once and re-reads the
    shuffle files for the other two (verified: 2 ReusedExchange nodes in
    the executed plan).  An explicit ``.cache()`` here was measured
    SLOWER (3.9 s vs 3.0 s steady-state at sf0.1) and — because the
    operator returns a lazy frame and can never unpersist — pinned
    storage blocks for the session's lifetime (round-3 VERDICT finding
    #1).  tests/test_dedup_knn.py asserts zero pinned RDDs post-run.

    Both paths are SQL text and end in the same size-join tail
    (``_verified``), scored by the jaccard expression
    :func:`minhash_lsh_pairs` also uses (``_jaccard_kept``);
    ``max_shingle_df``, when given, is an int ≥ 1.
    """
    thr = require_fraction("threshold", threshold)
    if max_shingle_df is not None:
        require_int("max_shingle_df", max_shingle_df)
    sh = _shingle_sets(df, text_col, id_col, k)
    if max_shingle_df is None:
        # direct path: shared-shingle self-join doubles as the
        # intersection count (one shuffle join + one aggregate)
        sizes = sh.groupBy("id").agg(F.expr("count(*) AS n_sh"))
        inter = (
            sh.alias("a")
            .join(sh.alias("b"), F.expr("a.shingle = b.shingle AND a.id < b.id"))
            .selectExpr("a.id AS id_a", "b.id AS id_b")
            .groupBy("id_a", "id_b")
            .agg(F.expr("count(*) AS n_inter"))
        )
    else:
        # capped path: hot shingles are dropped BEFORE any posting list
        # is materialized — a per-shingle WINDOW count (WindowExec
        # sorts-and-spills; it never holds a hot shingle's rows in an
        # agg buffer) filters to the ≤-cap shingles, and the following
        # groupBy reuses the window's hash partitioning, so the whole
        # filter+collect runs on ONE exchange and no collect_list
        # buffer ever holds more than cap ids (measured 2× the
        # count-aggregate + semi-join form).  Each kept shingle then
        # emits its ≤ cap² id-pairs in-row (higher-order functions) and
        # the pair counts ARE the intersection sizes over the capped
        # universe — no vocabulary broadcast.  Work is Σ_kept df² ≤
        # cap · |sh|, linear in the corpus for a fixed cap.
        kept = (
            sh.selectExpr("id", "shingle", "count(*) OVER (PARTITION BY shingle) AS __df")
            .where(f"__df <= {max_shingle_df}")
            .groupBy("shingle")
            .agg(F.expr("collect_list(id) AS ids"))
        )
        sizes = (
            kept.selectExpr("explode(ids) AS id")
            .groupBy("id")
            .agg(F.expr("count(*) AS n_sh"))
        )
        inter = (
            kept.selectExpr(
                "explode(filter(flatten(transform(ids, x -> transform(ids, y -> "
                "struct(x AS a, y AS b)))), s -> s.a < s.b)) AS p"
            )
            .selectExpr("p.a AS id_a", "p.b AS id_b")
            .groupBy("id_a", "id_b")
            .agg(F.expr("count(*) AS n_inter"))
        )
    return _verified(inter, sizes, thr)


def _verified(inter: DataFrame, sizes: DataFrame, thr: str) -> DataFrame:
    """The exact-Jaccard tail of :func:`ngram_jaccard_pairs`: candidate
    intersections ``(id_a, id_b, n_inter)`` joined to both documents'
    shingle-set sizes ``(id, n_sh)`` and kept by :func:`_jaccard_kept`.

    No broadcast HINT on the per-document size table: it is
    corpus-sized (one row per doc — ~16 GB at 10⁹ docs, past the 8 GB
    broadcast hard limit), so the join strategy is left to AQE, which
    still broadcasts it while it fits and degrades to a hash join
    instead of failing the job when it doesn't."""
    return _jaccard_kept(
        inter.join(sizes.selectExpr("id AS id_a", "n_sh AS n_a"), "id_a")
        .join(sizes.selectExpr("id AS id_b", "n_sh AS n_b"), "id_b"),
        thr,
    )


def _jaccard_sql(n_inter: str, n_a: str, n_b: str) -> str:
    """SQL text of the Jaccard double from an intersection size and the
    two set sizes.  Every shingle pair operator scores with this one
    expression, so their jaccard doubles agree bit for bit."""
    return f"CAST({n_inter} AS DOUBLE) / CAST({n_a} + {n_b} - {n_inter} AS DOUBLE)"


def _jaccard_kept(counts: DataFrame, thr: str) -> DataFrame:
    """``(id_a, id_b, jaccard)`` from ``(id_a, id_b, n_inter, n_a, n_b)``
    rows, kept at ``jaccard >= thr`` (a :func:`require_fraction`
    literal) for pairs sharing at least one shingle — so even
    ``threshold=0`` never emits a pair with nothing in common."""
    return (
        counts.where("n_inter > 0")
        .selectExpr("id_a", "id_b", f"{_jaccard_sql('n_inter', 'n_a', 'n_b')} AS jaccard")
        .where(f"jaccard >= {thr}")
    )


def contamination_hits(
    corpus: DataFrame,
    bench: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the number of
    distinct k-gram shingles shared with ANY benchmark document and the
    number of distinct benchmark documents hit.  k = 8 is the
    industry-standard overlap window (the GPT-3 appendix-C / PaLM
    decontamination recipe uses 8-13-gram collisions).

    The 100 TB shape: an eval benchmark is tiny by nature (MBs against a
    100 TB corpus), so its distinct shingle set is BROADCAST — the
    corpus side is scanned exactly once, its shingles probe the
    broadcast hash map map-side, and nothing corpus-sized ever
    shuffles.  The only exchange is the per-document aggregation of
    matched (doc, shingle, bench_doc) triples, bounded by the
    contamination volume, not the corpus.

    Returns ``[doc_id, n_shingles, n_bench]`` for contaminated
    documents only; shingles are xxhash64-coded like every shingle op
    here (counts unchanged absent a 64-bit collision).
    """
    c_sh = _shingle_sets(corpus, text_col, id_col, k)
    b_sh = (
        _shingle_sets(bench, text_col, id_col, k)
        .withColumnRenamed("id", "bench_id")
    )
    hits = c_sh.join(F.broadcast(b_sh), "shingle")
    return hits.groupBy(F.col("id").alias(id_col)).agg(
        F.countDistinct("shingle").alias("n_shingles"),
        F.countDistinct("bench_id").alias("n_bench"),
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    seed: int = 7,
) -> DataFrame:
    """(id, minhash[num_hashes]) — each hash function h_i is
    ``xxhash64(shingle, seed, i)``; the signature entry is the min over
    the doc's shingles.  One explode + one groupBy; no UDFs."""
    return _signatures(
        _shingle_sets(df, text_col, id_col, k), num_hashes=num_hashes, seed=seed
    )


def _signatures(sh: DataFrame, *, num_hashes: int, seed: int) -> DataFrame:
    """:func:`minhash_signatures` over an ``_shingle_sets`` frame.  The
    ``num_hashes`` min-aggregates are ONE SQL expression (an ``F.*``
    built aggregate costs ~60 py4j round trips each).  ``seed`` may be
    any signed 64-bit long; as a plain SQL literal it is typed exactly
    as ``F.lit`` typed it (INT when it fits 32 bits, else BIGINT, and INT
    ``i``) — the literal type is part of the hash, so the hashes, and
    every signature store written with them, are unchanged."""
    require_int("num_hashes", num_hashes)
    require_seed("seed", seed)
    mins = ", ".join(
        f"min(xxhash64(shingle, {seed}, {i}))" for i in range(num_hashes)
    )
    return sh.groupBy("id").agg(F.expr(f"array({mins}) AS minhash"))


def _band_signatures(sig: DataFrame, *, bands: int, rows: int) -> DataFrame:
    """(id, band, bhash) rows: each signature contributes one xxhash64
    per band over its ``rows`` consecutive minhash entries — one
    ``inline`` over an array of ``bands`` structs, as one SQL text."""
    structs = ", ".join(
        f"struct({b} AS band, xxhash64("
        + ", ".join(f"element_at(minhash, {b * rows + r + 1})" for r in range(rows))
        + ") AS bhash)"
        for b in range(bands)
    )
    return sig.selectExpr("id", f"inline(array({structs}))")


def _lsh_rows(num_hashes: int, bands: int) -> int:
    """Rows per band; refuses parameters the banding cannot honour."""
    require_int("num_hashes", num_hashes)
    require_int("bands", bands)
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}): the trailing signature entries would be "
            "silently ignored and the 1-(1-s^r)^b recall curve would "
            "not be the one the parameters promise"
        )
    return num_hashes // bands


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.

    ``bands`` bands of ``num_hashes/bands`` rows each: two docs collide if
    any band of their signatures matches exactly.  Collision probability
    for true Jaccard s is 1-(1-s^r)^b — with 32 hashes / 8 bands (r=4) the
    S-curve crosses 0.5 near s≈0.56.  Candidates are then verified with
    the exact Jaccard of the colliding pair's shingle sets, so precision
    is exact; recall is the LSH S-curve (hence rows-only correctness
    check, SURVEY.md §2.4).

    Verification is in-row: candidates join, on ``id_a`` and on
    ``id_b``, the per-document arrays of :func:`_shingle_arrays` and are
    scored from ``size(array_intersect)``, evaluated once per candidate
    — one row per document, no set-size aggregate, no shingle-level
    join; the signature side holds the plan's only ``explode``.  A repeated input id repeats its pairs.
    Built as SQL text: about 110 py4j round trips per call where the
    ``F.*`` form took 3,518 (budgeted by
    ``tests/test_dedup_knn.py::test_dedup_plan_build_round_trip_budget``)."""
    rows = _lsh_rows(num_hashes, bands)
    thr = require_fraction("threshold", threshold)
    sh = _shingle_sets(df, text_col, id_col, k)
    banded = _band_signatures(
        _signatures(sh, num_hashes=num_hashes, seed=seed), bands=bands, rows=rows
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            F.expr("a.band = b.band AND a.bhash = b.bhash AND a.id < b.id"),
        )
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )
    arrays = _shingle_arrays(df, text_col, id_col, k)
    # the intersection size is bound once, as a lambda argument: a
    # projected column would be inlined into the pushed-down keep
    # filter and computed again there
    jaccard = _jaccard_sql("n", "size(sa)", "size(sb)")
    return (
        cand.join(arrays.selectExpr("id AS id_a", "s AS sa"), "id_a")
        .join(arrays.selectExpr("id AS id_b", "s AS sb"), "id_b")
        .selectExpr(
            "inline(filter(transform(array(size(array_intersect(sa, sb))), "
            f"n -> struct(id_a, id_b, CASE WHEN n > 0 THEN {jaccard} END AS jaccard)), "
            f"r -> r.jaccard >= {thr}))"
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    test_fraction: float = 0.1,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Train/test split that can never leak near-duplicates across the
    boundary: the split unit is the dedup CLUSTER, not the document, so
    a held-out doc cannot have a near-copy in train (the classic eval
    contamination hazard that a row-wise random split reintroduces
    AFTER dedup found the pairs).

    ``pairs`` is any near-dup pair set (ngram_jaccard_pairs,
    minhash_lsh_pairs, embedding_dup_pairs…); its connected components
    label each doc, singletons fall back to their own id, and the
    cluster label is hash-thresholded — deterministic and
    partition-independent, same discipline as the samplers.  Adds a
    ``split`` column ('train' | 'test'); ``test_fraction`` must be a
    finite number in [0, 1]."""
    require_fraction("test_fraction", test_fraction)
    # no broadcast hint: the cluster table scales with the corpus dup
    # rate (can be 10-20% of a web corpus) — let AQE pick the strategy
    clusters = dedup_clusters(pairs).withColumnRenamed("id", id_col)
    labeled = docs.join(clusters, id_col, "left")
    unit = F.coalesce(F.col("cluster_id"), F.col(id_col))
    buckets = 1 << 30
    u = F.pmod(F.xxhash64(unit, F.lit(seed)), F.lit(buckets)).cast(
        "double"
    ) / buckets
    return labeled.withColumn(
        "split",
        F.when(u < F.lit(float(test_fraction)), "test").otherwise("train"),
    ).drop("cluster_id")


def incremental_minhash_dedup(
    spark,
    new_docs: DataFrame,
    store_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """Near-dup detection for an ARRIVING batch against a persistent
    signature store — the production shape: historical documents are
    never re-read or re-shingled; only their (id, minhash) signatures
    (num_hashes longs per doc) live in the parquet store.

    The new batch's bands join against (store ∪ new) bands with the new
    side broadcast when small, so candidates are new-vs-old and
    new-vs-new only — old-vs-old pairs were already reported when those
    batches arrived, and the 100 TB history contributes exactly one
    pruned scan of a signature table ~10⁴× smaller than its text.
    Pairs are scored with the signature-estimated Jaccard (fraction of
    agreeing minhash positions — the unbiased estimator, sd ≈
    sqrt(s(1-s)/num_hashes)); exact-verification is impossible without
    historical text, which is the point of the trade.  Finally the
    store is upserted with the new signatures (keyed copy-on-write,
    sinks/writers.py:merge_upsert — idempotent on re-run).

    Returns (id_a, id_b, est_jaccard ≥ threshold), id_a < id_b.
    """
    import os

    from cosmap_spark.sinks.writers import _require_local, merge_upsert

    # loud refusal for remote URIs: os.path.exists is ALWAYS False for
    # s3a:// / hdfs:// paths, so an existing store would silently be
    # treated as first-batch and dedup history would restart from empty
    store_path = _require_local(store_path, "incremental_minhash_dedup")
    rows = _lsh_rows(num_hashes, bands)
    require_fraction("threshold", threshold)
    new_sig = minhash_signatures(
        new_docs, text_col=text_col, id_col=id_col, k=k,
        num_hashes=num_hashes, seed=seed,
    )
    # First batch iff the store directory does not exist.  An EXISTING
    # but unreadable/corrupt store must raise, not silently restart
    # dedup history from empty (that would leak every historical dup).
    if os.path.exists(store_path):
        old_sig = spark.read.parquet(store_path).select("id", "minhash")
        # ids re-submitted by a retried batch are superseded by their
        # new signature so all_sig stays key-unique — otherwise the
        # signature joins below would emit each pair 4×
        old_sig = old_sig.join(new_sig.select("id"), "id", "left_anti")
    else:
        old_sig = None
    all_sig = new_sig.unionByName(old_sig) if old_sig is not None else new_sig

    pairs = _incremental_pairs(
        new_sig, all_sig, bands=bands, rows=rows,
        num_hashes=num_hashes, threshold=threshold,
    )
    result = pairs.localCheckpoint()  # materialize BEFORE the store mutates
    merge_upsert(spark, store_path, new_sig, ["id"])
    return result


def _incremental_pairs(
    new_sig: DataFrame,
    all_sig: DataFrame,
    *,
    bands: int,
    rows: int,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """The un-checkpointed pair plan of :func:`incremental_minhash_dedup`
    — separated so the plan audit (tests/test_plan_summary.py) can gate
    its shape: the ARRIVING batch's bands broadcast against (store ∪
    new) and the verify joins are hash equi-joins; the checkpoint the
    caller adds would otherwise truncate the auditable lineage."""
    thr = require_fraction("threshold", threshold)
    banded_new = _band_signatures(new_sig, bands=bands, rows=rows)
    banded_all = _band_signatures(all_sig, bands=bands, rows=rows)
    cand = (
        banded_all.alias("a")
        .join(
            F.broadcast(banded_new.alias("b")),
            F.expr("a.band = b.band AND a.bhash = b.bhash AND a.id != b.id"),
        )
        .selectExpr("least(a.id, b.id) AS id_a", "greatest(a.id, b.id) AS id_b")
        .distinct()
    )
    agree = "size(filter(zip_with(ma, mb, (x, y) -> x = y), eq -> eq))"
    return (
        cand.join(all_sig.selectExpr("id AS id_a", "minhash AS ma"), "id_a")
        .join(all_sig.selectExpr("id AS id_b", "minhash AS mb"), "id_b")
        .selectExpr(
            "id_a", "id_b",
            f"round(CAST({agree} AS DOUBLE) / {num_hashes}, 6) AS est_jaccard",
        )
        .where(f"est_jaccard >= {thr}")
    )


def _bit_mask(i: int) -> int:
    """Bit-i mask as a signed 64-bit literal (two's complement for i=63)."""
    v = 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64, seed: int = 11) -> DataFrame:
    """64-bit SimHash per document from token hashes.

    Each token votes ±1 on each bit of its xxhash64; the fingerprint's
    bit i is 1 iff the summed vote is positive.  Implemented as explode →
    per-bit conditional sums → bit-OR fold; one shuffle."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    h = F.xxhash64(F.col("tok"), F.lit(seed))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(h.bitwiseAND(F.lit(_bit_mask(i)).cast("long")) != 0, 1).otherwise(-1)
            ).alias(f"v_{i}")
            for i in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v_{i}") > 0, F.lit(_bit_mask(i)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return votes.select("id", fp.alias("simhash"))


def hamming_pairs(fps: DataFrame, *, id_col: str = "id",
                  hash_col: str = "simhash",
                  max_hamming: int = 3,
                  n_chunks: int = 4) -> DataFrame:
    """All pairs within Hamming distance ``max_hamming`` of a 64-bit
    fingerprint column — the generic Manku et al. (WWW'07) banded join.

    Scale path: split the fingerprint into ``n_chunks`` equal-width
    chunks; by pigeonhole any pair within Hamming distance
    ``n_chunks − 1`` agrees EXACTLY on ≥ 1 chunk, so candidates come
    from equi-joins on (chunk_idx, chunk_value) — never a full cross
    join — and the exact ``bit_count(xor)`` verifies each candidate.
    The guarantee is ENFORCED: ``max_hamming > n_chunks − 1`` raises
    (raise ``n_chunks`` for larger radii; 8 chunks ⇒ exact recall to
    Hamming 7).  More chunks ⇒ shorter chunk values ⇒ bigger candidate
    buckets, so keep n_chunks at the smallest value covering the
    radius.  Works over ANY 64-bit fingerprint: text SimHash
    (``simhash_pairs``) and image pHash
    (operators/multimodal.py::phash_dup_pairs) both bind here."""
    if 64 % n_chunks:
        raise ValueError(f"n_chunks must divide 64; got {n_chunks}")
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"the {n_chunks}-chunk band only guarantees exact recall to "
            f"Hamming {n_chunks - 1}; raise n_chunks for max_hamming="
            f"{max_hamming}"
        )
    width = 64 // n_chunks
    # signed-64 domain: (1 << 64) - 1 overflows LongType (n_chunks=1 is
    # legal at max_hamming=0 — the exact-fingerprint-match call)
    mask = -1 if width == 64 else (1 << width) - 1
    chunks = fps.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("fp"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("ci"),
                    F.shiftright(hash_col, i * width)
                    .bitwiseAND(F.lit(mask)).alias("cv"),
                )
                for i in range(n_chunks)
            ])
        ).alias("c"),
    ).select("id", "fp", "c.ci", "c.cv")
    cand = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.ci") == F.col("b.ci")) & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, seed: int = 11) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming (the
    text binding of :func:`hamming_pairs` — see it for the banding
    guarantee)."""
    fps = simhash(df, text_col=text_col, id_col=id_col, seed=seed)
    return hamming_pairs(fps, id_col="id", hash_col="simhash",
                         max_hamming=max_hamming)


def dedup_clusters(
    pairs: DataFrame,
    *,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iterations: int = 20,
    _stats: dict | None = None,
) -> DataFrame:
    """Connected components over duplicate pairs → cluster assignment.

    The missing last step of every pair-producing dedup tier
    (ngram/minhash/simhash/embedding): near-dup relations are not
    transitive per-pair, but curation drops WHOLE clusters, so pairs
    must be closed into components.  Returns ``(id, cluster_id)`` where
    ``cluster_id`` is the component's minimum member id (canonical doc =
    the one equal to its cluster_id).

    Iterative min-label propagation (the DataFrame form of hash-to-min,
    cf. Rastogi et al., "Finding Connected Components in Map-Reduce"
    ICDE'13): each round every node adopts the minimum label in its
    closed neighborhood, so a component needs about as many rounds as
    its diameter.  Dup clusters are near-cliques (diameter 2-3) and
    settle in two or three rounds.  A chain-shaped component longer
    than ``max_iterations`` (an int ≥ 1) — e.g. a boilerplate/template
    chain in scraped web text — raises a ``RuntimeError`` instead of
    being silently split (a split component poisons the drop list);
    raise ``max_iterations`` for such inputs.

    The caller's pair plan is read ONCE: one generator emits both
    directions of each pair plus a self-loop on each endpoint, and the
    distinct edge set is checkpointed.  The self-loops close every
    neighborhood, so round 1 is ``min(dst)`` per ``src`` and each later
    round is one join (edges ⋈ labels on ``dst``) and one aggregate
    that yields both the new label (the minimum) and the old one (the
    self-loop's).  Each round is ONE eager ``localCheckpoint`` and
    convergence is read from a ``pyspark.sql.Observation`` attached to
    it, so no probe job runs between rounds.  The frames are SQL text,
    a few dozen py4j round trips each.  ``_stats``, when a dict,
    receives ``{"rounds": n}`` — measurement hook, not API.
    """
    require_int("max_iterations", max_iterations)
    src, dst = quote(left_col, "left_col"), quote(right_col, "right_col")
    # Checkpointed: the edge set is joined every round, and its lineage
    # is the caller's whole pair-producing plan (e.g. the full shingle
    # join) — without truncation each round would recompute it.
    # localCheckpoint blocks are reclaimed by the ContextCleaner when
    # the frame goes out of scope, unlike cache() (round-3 leak finding).
    sym = (
        pairs.selectExpr(f"{src} AS src", f"{dst} AS dst")
        .where("src != dst")
        .selectExpr(
            "inline(array(struct(src, dst), struct(dst AS src, src AS dst), "
            "struct(src, src AS dst), struct(dst AS src, dst)))"
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = None
    converged = False
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        if labels is None:
            # round 1: every label is still the node's own id, and the
            # self-loop puts it among the dst values
            step = sym.groupBy("src").agg(F.expr("min(dst) AS label")).selectExpr(
                "src AS id", "label", "src AS old"
            )
        else:
            step = (
                sym.join(labels.selectExpr("id AS dst", "label AS l"), "dst")
                .groupBy("src")
                .agg(F.expr("min(l) AS label"),
                     F.expr("min(CASE WHEN dst = src THEN l END) AS old"))
                .selectExpr("src AS id", "label", "old")
            )
        changed = Observation()
        # localCheckpoint truncates the growing lineage each round —
        # without it the plan doubles per iteration and the driver
        # spends its time re-optimizing an exponential tree.  It is the
        # round's only action; the observation counts, inside its jobs,
        # the labels this round lowered.
        labels = (
            step.observe(changed, F.expr("count_if(label < old) AS n"))
            .selectExpr("id", "label")
            .localCheckpoint(eager=True)
        )
        if changed.get["n"] == 0:
            converged = True
            break
    if not converged:
        # A component with diameter > max_iterations would otherwise be
        # silently split into several clusters — fail loudly instead.
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iterations} "
            "iterations (a duplicate component's diameter exceeds the "
            "budget); raise max_iterations"
        )
    if _stats is not None:
        _stats["rounds"] = rounds
    return labels.selectExpr("id", "label AS cluster_id")


def passage_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Corpus-level duplicate-passage removal — the C4 (Raffel et al.
    2020 §2.2 "three-sentence span" rule) / RefinedWeb recipe adapted to
    token streams: split every document into consecutive NON-overlapping
    ``k``-token passages, keep only the globally FIRST occurrence of each
    distinct passage (ordering by ``(doc_id, position)``), and reassemble
    the surviving passages in document order.

    Unlike document-level dedup (exact/minhash), this removes boilerplate
    and quoted passages *inside* otherwise-unique documents — the
    dominant duplication mode in scraped training corpora.

    Returns ``[doc_id, n_chunks, n_kept, text_clean]`` — one row per
    input document (``text_clean = ''`` when every passage was seen
    earlier); deterministic for any partitioning.

    Scale shape (100 TB): three exchanges, all skew-robust —

    1. winner election is a ``groupBy(passage-hash).agg(min(struct))``:
       partial map-side combine collapses a boilerplate passage that
       occurs a billion times to one row per map task BEFORE the
       exchange, so a hot passage cannot overload a reducer (a window
       ``row_number() over (partition by passage)`` — the obvious
       alternative — would put the whole hot key in one unsplittable
       partition);
    2. the passage→winner equi-join shuffles on the same hash and is
       AQE-skew-splittable;
    3. document reassembly groups by ``doc_id`` — bounded by document
       size, not corpus duplication.

    Passages are compared by md5 (128-bit) so a collision merging two
    distinct passages is never a practical concern; the shuffle carries
    32-byte hashes, not passage text, until reassembly.
    """
    toks = df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks"))
    n_chunks_expr = F.greatest(
        F.ceil(F.size("__toks") / F.lit(k)).cast("int"), F.lit(1)
    )
    chunked = toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), n_chunks_expr - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i * k + 1, k)),
        ).alias("__chunks"),
    )
    ch = chunked.select(
        "doc_id", F.posexplode("__chunks").alias("idx", "chunk")
    ).withColumn("h", F.md5("chunk"))
    winners = ch.groupBy("h").agg(F.min(F.struct("doc_id", "idx")).alias("w"))
    flagged = ch.join(winners, "h").select(
        "doc_id",
        "idx",
        "chunk",
        (
            (F.col("doc_id") == F.col("w.doc_id")) & (F.col("idx") == F.col("w.idx"))
        ).alias("keep"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.sort_array(F.collect_list(F.struct("idx", "keep", "chunk"))),
                    lambda s: s["keep"],
                ),
                lambda s: s["chunk"],
            ),
        ).alias("text_clean"),
    )


#: odd multipliers for the two rolling-hash lanes (golden-ratio and
#: xxhash-prime-2 constants, forced odd so they are invertible mod 2⁶⁴)
_ROLL_B1 = 0x9E3779B97F4A7C15
_ROLL_B2 = 0xC2B2AE3D27D4EB4F


def _rolling_hash_kernel(length: int, base: int):
    """Arrow kernel: per-doc token-hash array → array of all
    ``length``-window polynomial hashes, O(n) per doc.

    Math (all arithmetic wraps mod 2⁶⁴ — numpy uint64 semantics):
    over the BATCH-flattened token-hash stream ``t`` with global
    positions ``g``, let ``A = cumsum(t[g]·B^g)``.  A window starting
    at ``s`` has ``A[s+L] − A[s] = B^s · Σⱼ t[s+j]·B^j``; multiplying
    by ``B⁻ˢ`` (B odd ⇒ invertible mod 2⁶⁴, inverse powers are one
    cumprod) leaves ``Σⱼ t[s+j]·B^j`` — content-only, so identical
    windows hash identically across docs, batches, and partitions.
    Window starts never cross a doc boundary, so the flat cumsum is
    safe.  Everything is a handful of whole-batch numpy ops; no
    per-row Python.

    Mod-2⁶⁴ polynomial hashing is weak ADVERSARIALLY (Thue–Morse
    inputs) but the inputs here are xxhash64 values, not raw text, and
    :func:`substring_dedup` keys windows on TWO independent lanes
    (distinct base + distinct token-hash seed): 128 bits against the
    benign collisions that matter at corpus scale, same budget as the
    md5 form it replaces.  This is the documented dense-array-math
    exception to the stay-JVM-side rule (cf. ``ivf_assign``): the
    recurrence needs a scan primitive Spark's higher-order functions
    lack, and the JVM fold form is O(n·L)."""
    B = np.uint64(base)
    invB = np.uint64(pow(base, -1, 1 << 64))
    L = length

    @F.pandas_udf("array<long>")
    def roll(th: pd.Series) -> pd.Series:
        if len(th) == 0:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(a, dtype=np.int64).view(np.uint64) for a in th]
        lens = np.array([a.size for a in arrs], dtype=np.int64)
        flat = np.concatenate(arrs)
        N = flat.size
        bpow = np.empty(N, dtype=np.uint64)
        bpow[0] = 1
        bpow[1:] = B
        np.cumprod(bpow, out=bpow)           # B^g (wraps)
        ipow = np.empty(N, dtype=np.uint64)
        ipow[0] = 1
        ipow[1:] = invB
        np.cumprod(ipow, out=ipow)           # B^-g (wraps)
        A = np.zeros(N + 1, dtype=np.uint64)
        np.cumsum(flat * bpow, out=A[1:])    # prefix sums (wrap)
        counts = lens - L + 1                # valid windows per doc (≥1)
        offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
        local = np.arange(counts.sum(), dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(counts)[:-1])), counts
        )
        starts = np.repeat(offsets, counts) + local
        h = ((A[starts + L] - A[starts]) * ipow[starts]).view(np.int64)
        return pd.Series(np.split(h, np.cumsum(counts)[:-1]))

    return roll


def substring_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 20,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", §4.1) adapted to token streams: any
    ``length``-token sequence occurring MORE THAN ONCE in the corpus —
    at any position, in any document, including twice within one
    document — is removed at every occurrence except the globally first
    (lexicographic ``(doc_id, position)``).  Overlapping removed
    windows merge into maximal spans before cutting, so a long shared
    passage is excised once as a block.  The stride-1 window is what
    separates this from :func:`passage_dedup`'s non-overlapping chunks:
    a duplicated span is caught at EVERY alignment, not only when it
    happens to tile on a chunk boundary.

    Returns ``[doc_id, n_tokens, n_removed, text_clean]`` — one row per
    input document; documents shorter than ``length`` tokens pass
    through untouched.  Removal policy: a token position is dropped iff
    some NON-winning duplicated window covers it (a winning window's
    tokens can still fall to a different overlapping loser — the same
    greedy-span behavior as the reference implementation's byte-range
    cuts).  Deterministic under any partitioning.

    Scale shape: the window table is the honest cost — O(total_tokens)
    rows of (doc_id, pos, md5), built per-row with ``transform`` +
    ``slice`` + ``concat_ws`` was O(n·L) transient bytes per doc; the
    build is now the O(n) polynomial rolling hash its docstring always
    promised — see :func:`_rolling_hash_kernel`: tokens are xxhash64'd
    once in the JVM (two independent seeds), and an Arrow kernel turns
    each doc's token-hash array into all window hashes with a handful
    of vectorized cumulative ops (measured 2.0× on the build stage at
    L=20, sf0.1×10).  A window key is the PAIR of independent 64-bit lane hashes
    (128 bits total — collision-safe at corpus scale where a single
    64-bit key would birthday-collide near 2³² windows).
    Everything after ships 16-byte hashes: winner election is the same
    map-side-combined ``groupBy(hash).agg(min(struct), count)`` as
    ``passage_dedup`` (hot boilerplate collapses before the exchange);
    the join back is AQE-skew-splittable; span merge is the
    gaps-and-islands window per doc (``intervals.coalesce_intervals``);
    reassembly is one doc-keyed join + a per-row filter fold.
    """
    from cosmap_spark.operators.intervals import coalesce_intervals

    # drop empty tokens (split("") yields [""]) so blank documents count
    # zero tokens and window positions index the real token stream
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            tokens(F.col(text_col)), lambda x: x != F.lit("")
        ).alias("__toks"),
    )
    n = F.size("__toks")
    # two independently-seeded token-hash lanes; each lane rolls to its
    # window hashes in O(n) (see _rolling_hash_kernel) and the window
    # key is the lane PAIR (128 bits)
    th1 = F.transform(F.col("__toks"), lambda x: F.xxhash64(x))
    th2 = F.transform(F.col("__toks"), lambda x: F.xxhash64(x, F.lit(7)))
    roll1 = _rolling_hash_kernel(length, _ROLL_B1)
    roll2 = _rolling_hash_kernel(length, _ROLL_B2)
    # NOTE (round 11, measured-neutral — NOT shipped): the window
    # table feeds BOTH the winner election (groupBy h) and the
    # join-back probe side, so the scan→tokenize→rolling-hash
    # ArrowEvalPython chain runs twice.  Lazily checkpointing the
    # post-kernel pre-explode frame (doc_id, w1, w2 — the smallest
    # frame that cuts the Python pass) was A/B'd at sf0.1 AND ×10:
    # calibration-adjusted ratios 0.96-1.00 every pair — the saved
    # kernel re-run exactly balances the block materialization +
    # double read.  Kept the simpler two-pass shape (no corpus-sized
    # block pinning; SCALE.md round 11).
    wins = (
        toks.where(n >= length)
        .select("doc_id", roll1(th1).alias("w1"), roll2(th2).alias("w2"))
        .select(
            "doc_id",
            F.posexplode(F.arrays_zip("w1", "w2")).alias("pos", "h"),
        )
    )
    winners = wins.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("w"),
        F.count("*").alias("c"),
    )
    loser_spans = (
        wins.join(winners, "h")
        .where(
            (F.col("c") > 1)
            & ~(
                (F.col("doc_id") == F.col("w.doc_id"))
                & (F.col("pos") == F.col("w.pos"))
            )
        )
        .select("doc_id", F.col("pos").alias("start"),
                (F.col("pos") + length).alias("end"))
    )
    spans = coalesce_intervals(loser_spans, key_cols=["doc_id"]).groupBy(
        "doc_id"
    ).agg(F.collect_list(F.struct("start", "end")).alias("__spans"))
    out = toks.join(spans, "doc_id", "left").withColumn(
        "__spans",
        F.coalesce(
            F.col("__spans"),
            F.array().cast("array<struct<start:long,end:long>>"),
        ),
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__spans"), lambda s: (i >= s["start"]) & (i < s["end"])
    )
    kept = F.filter(F.col("__toks"), lambda x, i: ~covered(i))
    return out.select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("text_clean"),
    )


def _deletion_variants(s, k: int):
    """array<string> of every variant of ``s`` reachable by 0..k single-
    character deletions (the string itself included), distinct.  Pure
    column expression: level i+1 deletes each position of every level-i
    variant; C(len, ≤ k) distinct results.  dist(a, b) ≤ k implies a
    and b share a variant (each edit op removes ≤ 1 char from each
    side), which is what makes the short-bucket join complete."""
    levels = [F.array(s)]
    for _ in range(k):
        prev = levels[-1]
        levels.append(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        prev,
                        lambda v: F.when(
                            F.length(v) >= 1,
                            F.transform(
                                F.sequence(F.lit(1), F.length(v)),
                                lambda i: F.concat(
                                    v.substr(F.lit(1), i - 1),
                                    v.substr(i + 1, F.length(v) - i),
                                ),
                            ),
                        ).otherwise(F.array().cast("array<string>")),
                    )
                )
            )
        )
    return F.array_distinct(F.concat(*levels))


def edit_distance_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 2,
    q: int = 3,
    max_gram_df: int | None = 500,
) -> DataFrame:
    """All pairs (i < j) with ``levenshtein ≤ max_dist`` — the q-gram
    filtered edit-distance similarity join (the Gravano et al. VLDB'01
    recipe re-expressed on DataFrames): candidates from a shared-q-gram
    equi-join with a length filter, verified by the JVM's thresholded
    ``levenshtein`` (early-exits past ``max_dist``).  Never an
    all-pairs scan.

    Completeness: a pair within edit distance k shares at least
    ``L − q + 1 − q·k`` q-grams (each edit destroys ≤ q grams), so the
    shared-gram candidate join is COMPLETE for strings of length
    ≥ ``q·(k+1)``.  Shorter strings go through the dedicated SHORT
    BUCKET: every string of length < ``q·(k+1) + k`` (a short string's
    partner can be up to k longer) emits its ≤ k-deletion neighborhood
    (SymSpell / Karch et al. deletion-code join: dist(a,b) ≤ k ⇒ some
    ≤ k-deletion variants collide), candidates join on variant equality
    restricted to ``least(len_a, len_b) < q·(k+1)`` — exactly the pairs
    the gram path's guarantee excludes.  Variant count per string is
    C(len, ≤ k) with len bounded by the bucket cut, so the bucket is
    O(bucket_size) keys; its output is inherently quadratic only where
    the ANSWER is (e.g. all length-≤ k strings pair with each other).
    Together the two candidate generators are complete for every
    length.  ``max_gram_df`` is the same scale valve as
    ``ngram_jaccard_pairs``: grams appearing in more than that many
    strings (the n² explosion term, near-zero signal) are dropped from
    candidate generation; a true pair whose EVERY shared gram is hot is
    then missed — at the default cap that requires k·q hot-gram
    overlaps, vanishingly unlikely outside adversarial corpora.

    Scale shape: gram explode (map-side) → per-gram WINDOW df-filter +
    pair emission (one exchange, the ngram_jaccard discipline) →
    distinct candidate pairs (bounded by Σ_kept df²) → two hash joins
    to fetch the strings → thresholded levenshtein verify.  Returns
    ``[id_a, id_b, dist]``."""
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    if q < 2:
        raise ValueError("q must be >= 2")
    # guard len < q explicitly: sequence(1, 0) DESCENDS to [1, 0]
    # (review finding), which would emit the whole short string — and
    # '' for blanks — as a gram, making '' a hot gram in corpora with
    # many blank rows
    toks = F.expr(
        f"CASE WHEN length({text_col}) >= {q} THEN "
        f"array_distinct(transform(sequence(1, length({text_col})"
        f" - {q} + 1), i -> substring({text_col}, i, {q})))"
        f" ELSE array() END"
    )
    grams = df.select(
        F.col(id_col).alias("id"),
        F.length(text_col).alias("len"),
        F.explode(toks).alias("gram"),
    )
    if max_gram_df is not None:
        from pyspark.sql import Window as W

        grams = grams.withColumn(
            "__df", F.count("*").over(W.partitionBy("gram"))
        ).where(F.col("__df") <= max_gram_df).drop("__df")
    a, b = grams.alias("a"), grams.alias("b")
    cand_grams = a.join(
        b,
        (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.abs(F.col("a.len") - F.col("b.len")) <= max_dist),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    # SHORT BUCKET (see docstring): deletion-neighborhood join over the
    # strings below the gram guarantee, restricted to pairs whose
    # SHORTER member is below it (longer-member pairs are already
    # gram-complete; the restriction keeps the two generators disjoint
    # in guarantee, the final distinct removes any overlap)
    short_cut = q * (max_dist + 1)
    variants = _deletion_variants(F.col(text_col), max_dist)
    shorts = df.where(F.length(text_col) < short_cut + max_dist).select(
        F.col(id_col).alias("id"),
        F.length(text_col).alias("len"),
        F.explode(variants).alias("v"),
    )
    sa, sb = shorts.alias("sa"), shorts.alias("sb")
    cand_short = sa.join(
        sb,
        (F.col("sa.v") == F.col("sb.v"))
        & (F.col("sa.id") < F.col("sb.id"))
        & (F.abs(F.col("sa.len") - F.col("sb.len")) <= max_dist)
        & (F.least(F.col("sa.len"), F.col("sb.len")) < short_cut),
    ).select(F.col("sa.id").alias("id_a"), F.col("sb.id").alias("id_b"))
    cand = cand_grams.unionByName(cand_short).distinct()
    texts = df.select(
        F.col(id_col).alias("__tid"), F.col(text_col).alias("__txt")
    )
    verified = (
        cand.join(texts.withColumnRenamed("__tid", "id_a")
                  .withColumnRenamed("__txt", "__ta"), "id_a")
        .join(texts.withColumnRenamed("__tid", "id_b")
              .withColumnRenamed("__txt", "__tb"), "id_b")
        .withColumn(
            "dist", F.levenshtein(F.col("__ta"), F.col("__tb"), max_dist)
        )
        .where(F.col("dist") >= 0)  # thresholded form returns -1 past k
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )
    return verified


def winnow_fingerprints(
    docs: DataFrame,
    *,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token k-gram, slide
    a window of ``w`` consecutive hashes, and select each window's
    MINIMUM hash (rightmost position on ties).  The selected
    ``[doc_id, pos, fp]`` set is the document's fingerprint, with the
    paper's guarantee: any shared token run of ≥ w + k − 1 tokens
    between two documents shares at least one selected fingerprint —
    position-robust near-dup detection with ~2/(w+1) of the k-gram
    hashes retained.

    Wholly MAP-SIDE: tokens (empty-filtered), k-gram hashes (16-hex
    md5 prefix — an arithmetic-free hash both engines share, so the
    selection is hash-exact replayable in DuckDB), and the per-window
    argmin are all array expressions (``transform`` over window
    starts, a sequential ``aggregate`` fold per window whose
    "strictly-smaller or equal-and-later wins" update IS rightmost-
    tie argmin); no shuffle exists in this operator at any corpus
    scale.  Per-doc work is O(tokens·w).  A document with fewer than
    ``k`` tokens has no k-grams and yields no rows; with fewer than
    ``k + w − 1`` tokens the single clipped window selects one
    fingerprint.
    """
    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1; got k={k}, w={w}")
    init = F.lit(None).cast("struct<pos:long,h:string>")
    empty = F.array().cast("array<struct<pos:long,h:string>>")

    # the whole per-doc computation is ONE expression with the token
    # and gram arrays BOUND via single-element-array transforms:
    # CollapseProject inlines a projected alias into every downstream
    # reference, so the naive select(grams).select(wins-over-grams)
    # shape re-evaluated the full gram transform per window slice —
    # measured 2.6× slower than this bound form at sf0.1 (the
    # lambda-CSE rule, applied at projection level)
    def selected(text):
        toks = F.filter(tokens(text), lambda x: x != "")

        def over_tokens(t):
            # grams[i] = (pos=i, h=md5_16(k tokens from i));
            # sequence(1, 0) DESCENDS, so the n >= k guard is
            # load-bearing (CLAUDE.md)
            grams = F.when(
                F.size(t) >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - k),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.substring(
                            F.md5(F.concat_ws(" ", F.slice(t, i + 1, k))),
                            1, 16,
                        ).alias("h"),
                    ),
                ),
            ).otherwise(empty)

            def over_grams(g):
                wins = F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size(g) - w, F.lit(0))
                    ),
                    lambda s: F.aggregate(
                        F.slice(g, s + 1, w),
                        init,
                        lambda acc, x: F.when(
                            acc.isNull()
                            | (x["h"] < acc["h"])
                            | ((x["h"] == acc["h"])
                               & (x["pos"] > acc["pos"])),
                            x,
                        ).otherwise(acc),
                    ),
                )
                return F.when(
                    F.size(g) > 0, F.array_distinct(wins)
                ).otherwise(empty)

            return F.transform(F.array(grams), over_grams)[0]

        return F.transform(F.array(toks), over_tokens)[0]

    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(selected(F.col(text_col))).alias("__w"),
        )
        .select(
            "doc_id",
            F.col("__w.pos").alias("pos"),
            F.col("__w.h").alias("fp"),
        )
    )


def winnow_dup_pairs(
    docs: DataFrame,
    *,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints
    — ``[id_a, id_b, n_shared]`` (id_a < id_b), pairs sharing at least
    ``min_shared`` DISTINCT selected hashes.  The MOSS pair report:
    position-robust (a copied block selects the same fingerprints
    wherever it lands) at ~2/(w+1) of the k-gram index cost.

    Scale shape (the ``ngram_jaccard_pairs`` discipline): candidates
    come from a shared-fingerprint EQUI-join of the per-doc distinct
    fingerprint table — never an all-pairs scan; ``max_fp_df``
    (strongly recommended at scale) drops fingerprints selected by
    more than that many documents BEFORE the self-join, the df valve
    that keeps boilerplate from exploding the join."""
    fps = winnow_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col
    ).select("doc_id", "fp").distinct()
    if max_fp_df is not None:
        dfc = fps.groupBy("fp").agg(F.count("*").alias("__df"))
        fps = fps.join(
            dfc.where(F.col("__df") <= max_fp_df).select("fp"), "fp"
        )
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
