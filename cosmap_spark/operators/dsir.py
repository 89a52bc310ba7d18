"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
distribution matches a small TARGET corpus, by importance weighting
under two bag-of-hashed-ngram unigram models and Gumbel top-k
resampling.  The published recipe behind "pretrain on data that looks
like the target domain" (used for GLUE/domain-targeted pretraining
selection), complementing the trained quality classifier
(operators/classifier.py) with a training-free statistical filter.

Scale shape (the whole point of re-expressing it in Spark):

* **feature models** — one explode + map-side-combined groupBy per
  corpus; each produces an O(buckets) table no matter the corpus size.
  Hashing is ``xxhash64 % buckets`` (Weinberger et al. 2009 feature
  hashing) — no vocabulary, no driver state.
* **log-likelihood-ratio table** — the two models full-outer-joined on
  bucket with Laplace smoothing (zero-count buckets matter: an n-gram
  seen only in raw must PULL DOWN the weight), O(buckets) rows,
  broadcast.
* **per-document weights** — features ⋈ broadcast(llr) then one
  map-side-combined ``groupBy(id)``: the single corpus-sized exchange.
* **resampling** — Gumbel-top-k: ``log_w + g_i`` with hash-seeded
  Gumbel noise (partition-independent, no RNG state — the same
  discipline as operators/sampler.py), selected by ``orderBy().limit``
  = TakeOrderedAndProject, never a global sort.  Gumbel-max sampling
  without replacement ∝ exp(log_w) is exact (Vieira 2014).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cosmap_spark.functions.sqlargs import require_seed
from cosmap_spark.functions.text import tokens
from cosmap_spark.operators.sampler import _hash_uniform_sql
from cosmap_spark.operators.vocab import _adjacent_pairs


def hashed_ngram_features(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    seed: int = 17,
) -> DataFrame:
    """``[id, bucket]`` — one row per unigram+bigram OCCURRENCE, hashed
    into ``buckets`` (occurrences, not distinct features: the DSIR
    models are bag models).  Map-side only."""
    # drop empty tokens (split("") yields [""]) so blank documents carry
    # zero features instead of one phantom '' unigram
    t = F.filter(tokens(F.col(text_col)), lambda x: x != F.lit(""))
    feats = F.concat(t, _adjacent_pairs(t))
    return df.select(
        F.col(id_col).alias("id"), F.explode(feats).alias("f")
    ).select(
        "id", F.pmod(F.xxhash64("f", F.lit(seed)), F.lit(buckets)).alias("bucket")
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    seed: int = 17,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-raw-document DSIR log importance weight
    ``log p_target(x) − log p_raw(x)`` under hashed-ngram bag models:
    ``[id, log_w, n_feats]`` (log_w rounded 6 dp for cross-run
    stability; documents with zero features get log_w = 0).

    The two model totals are derived from the O(buckets) count tables
    (never a second look at the corpora) and the smoothed LLR per
    bucket lives in an O(buckets) broadcast table, so the raw corpus
    pays exactly two scans — one counting, one scoring (the honest
    minimum: the LLR table must be complete before any document can be
    scored) — plus one (id)-keyed exchange.
    """
    raw_feats = hashed_ngram_features(
        raw, text_col=text_col, id_col=id_col, buckets=buckets, seed=seed
    )
    tgt_feats = hashed_ngram_features(
        target, text_col=text_col, id_col=id_col, buckets=buckets, seed=seed
    )
    # O(buckets) count tables; totals via a scalar agg crossJoin (the
    # engine's standard scalar-subquery shape — 1-row broadcast)
    raw_counts = raw_feats.groupBy("bucket").agg(F.count("*").alias("rc"))
    tgt_counts = tgt_feats.groupBy("bucket").agg(F.count("*").alias("tc"))
    # totals from the count tables — aggregating O(buckets) rows, NOT
    # re-scanning the corpora (review finding: the agg-over-raw_feats
    # form silently tripled the dominant scan)
    raw_tot = raw_counts.agg(
        F.coalesce(F.sum("rc"), F.lit(0)).alias("rtot")
    )
    tgt_tot = tgt_counts.agg(
        F.coalesce(F.sum("tc"), F.lit(0)).alias("ttot")
    )
    llr = (
        raw_counts.join(tgt_counts, "bucket", "full_outer")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + F.lit(smoothing))
                    / (F.col("ttot") + F.lit(smoothing * buckets))
                )
                - F.log(
                    (F.coalesce(F.col("rc"), F.lit(0)) + F.lit(smoothing))
                    / (F.col("rtot") + F.lit(smoothing * buckets))
                )
            ).alias("llr"),
        )
    )
    ids = raw.select(F.col(id_col).alias("id"))
    scored = (
        raw_feats.join(F.broadcast(llr), "bucket")
        .groupBy("id")
        .agg(
            F.sum("llr").alias("__lw"),
            F.count("*").alias("n_feats"),
        )
    )
    # left join back: featureless documents (empty text) keep log_w 0
    return ids.join(scored, "id", "left").select(
        "id",
        F.round(F.coalesce(F.col("__lw"), F.lit(0.0)), 6).alias("log_w"),
        F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
    )


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    *,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    seed: int = 17,
    gumbel_seed: int = 59,
    smoothing: float = 1.0,
    temperature: float = 1.0,
) -> DataFrame:
    """Exactly ``k`` raw documents drawn WITHOUT replacement with
    probability ∝ ``exp(log_w / temperature)`` via the Gumbel-top-k
    trick: ``[id, log_w, gumbel_key]``, deterministic under any
    partitioning (hash-seeded Gumbel noise), executed as
    TakeOrderedAndProject.  ``temperature → 0`` approaches hard top-k
    by weight; large temperature approaches uniform."""
    w = dsir_weights(
        raw, target, text_col=text_col, id_col=id_col,
        buckets=buckets, seed=seed, smoothing=smoothing,
    )
    u = F.expr(_hash_uniform_sql("`id`", require_seed("gumbel_seed", gumbel_seed), 0))
    # LOAD-BEARING clamp: the hash uniform is pmod(h, B)/B and yields
    # exactly 0.0 for ~1/B of ids; Spark's ln(0) returns NULL, so an
    # unclamped id would get a NULL gumbel_key, sort deterministically
    # LAST under the desc ordering, and be excluded from every draw
    g = -F.log(-F.log(F.greatest(u, F.lit(1e-18))))
    key = (F.col("log_w") / F.lit(float(temperature))) + g
    return (
        w.withColumn("gumbel_key", F.round(key, 6))
        .orderBy(F.col("gumbel_key").desc(), F.col("id"))
        .limit(k)
        .select("id", "log_w", "gumbel_key")
    )
