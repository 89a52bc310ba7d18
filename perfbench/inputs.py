"""Seeded input generators for the benchmark workloads.

Every value is derived from ``xxhash64(id, seed, stream)`` over
``spark.range``, so the same seed gives the same rows on any partition
layout.  The generators write parquet files; the program under test
only ever receives those files.

* ``write_sky_catalog`` — area-uniform objects over the whole sphere
  (uniform in ra and sin dec) with a magnitude column.
* ``write_corpus`` — documents of ``DOC_TOKENS`` tokens drawn from a
  fixed vocabulary.  The last ids are planted duplicates of base
  documents: near-duplicates with one token replaced by a token no other
  document contains, and exact copies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_BUCKETS = 2**40

# Corpus shape: 60-token documents over a 20k-term vocabulary; 10% of
# the documents are one-token-edit near-duplicates and 2% exact copies.
DOC_TOKENS = 60
VOCAB = 20_000
NEAR_DUP_FRAC = 0.10
EXACT_DUP_FRAC = 0.02


def _u(id_col: Column, seed: int, stream: int) -> Column:
    """U[0,1) from (id, seed, stream), independent of partitioning."""
    h = F.xxhash64(id_col, F.lit(seed), F.lit(stream))
    return F.pmod(h, F.lit(_BUCKETS)).cast("double") / F.lit(float(_BUCKETS))


def _write(df: DataFrame, path: str, partitions: int) -> None:
    df.repartition(partitions).write.mode("overwrite").parquet(path)


def write_sky_catalog(
    spark: SparkSession, path: str, *, n: int, seed: int, partitions: int
) -> None:
    """``n`` objects (object_id, ra, dec, mag), area-uniform on the sky."""
    i = F.col("id")
    cat = spark.range(n).select(
        i.alias("object_id"),
        (_u(i, seed, 1) * 360.0).alias("ra"),
        F.degrees(F.asin(_u(i, seed, 2) * 2.0 - 1.0)).alias("dec"),
        (F.lit(16.0) + _u(i, seed, 3) * 10.0).alias("mag"),
    )
    _write(cat, path, partitions)


def write_reference(spark: SparkSession, path: str, *, n: int, partitions: int) -> None:
    """``n`` rows (k, v) for the reference job, the same for every seed."""
    i = F.col("id")
    ref = spark.range(n).select(
        F.pmod(F.xxhash64(i), F.lit(5000)).alias("k"), _u(i, 0, 1).alias("v")
    )
    _write(ref, path, partitions)


def corpus_split(n: int) -> tuple[int, int]:
    """(n_base, n_near): ids < n_base are base documents, the next
    n_near ids near-duplicates, the rest exact copies."""
    n_near = int(n * NEAR_DUP_FRAC)
    n_exact = int(n * EXACT_DUP_FRAC)
    return n - n_near - n_exact, n_near


def write_corpus(
    spark: SparkSession, path: str, *, n: int, seed: int, partitions: int
) -> None:
    """``n`` documents (doc_id, text) with planted duplicates.

    Every duplicate copies a base document ``src < n_base``, so the
    minimum id of each planted cluster is its base document."""
    n_base, n_near = corpus_split(n)
    i = F.col("id")
    is_dup = i >= n_base
    is_near = is_dup & (i < n_base + n_near)
    src = F.when(is_dup, F.pmod(F.xxhash64(i, F.lit(seed), F.lit(7)), F.lit(n_base))).otherwise(i)
    edit_pos = F.pmod(F.xxhash64(i, F.lit(seed), F.lit(8)), F.lit(DOC_TOKENS))

    def token(j: Column) -> Column:
        vocab_tok = F.concat(
            F.lit("t"),
            F.pmod(F.xxhash64(F.col("src"), j, F.lit(seed)), F.lit(VOCAB)).cast("string"),
        )
        unique_tok = F.concat(F.lit("u"), i.cast("string"))
        return F.when(is_near & (j == edit_pos), unique_tok).otherwise(vocab_tok)

    docs = spark.range(n).withColumn("src", src).select(
        i.alias("doc_id"),
        F.concat_ws(" ", F.transform(F.sequence(F.lit(0), F.lit(DOC_TOKENS - 1)), token)).alias("text"),
    )
    _write(docs, path, partitions)


def planted_near_pairs(spark: SparkSession, *, n: int, seed: int) -> set[tuple[int, int]]:
    """The (base, near-duplicate) id pairs ``write_corpus`` planted."""
    n_base, n_near = corpus_split(n)
    i = F.col("id")
    rows = spark.range(n_base, n_base + n_near).select(
        F.pmod(F.xxhash64(i, F.lit(seed), F.lit(7)), F.lit(n_base)).alias("src"), i
    ).collect()
    return {(r["src"], r["id"]) for r in rows}


def digest(df: DataFrame) -> str:
    """Order-independent content digest: row count + XOR of row hashes."""
    r = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return f"{r['n']}:{r['h'] & (2**64 - 1):016x}"
