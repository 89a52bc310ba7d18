"""Uniform-on-sphere region sampler as a DataFrame generator.

Reference: ``RandomSampler.generate_samples`` draws n points uniform in
(φ = ra, cos θ) over a frame-shrunk patch, then maps back to (ra°, dec°)
(reference src/cosmap/analysis/sampler.py:87-140); the frame is shrunk by
the sample radius so whole cones stay inside the patch
(src/cosmap/analysis/sampler.py:48-85).

Spark-first restatement: ``spark.range(n)`` plus *hash-seeded* uniforms.
We deliberately avoid ``rand(seed)``: its stream is assigned per
partition-index, so results change whenever partitioning changes — a
determinism hazard at scale (SURVEY.md §7 hard part 4).  Instead each
sample id derives its uniforms from ``xxhash64(id, seed)``, which is
partition-layout-independent, reproducible on any cluster size, and
perfectly parallel (no driver-side RNG state).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmap_spark.functions.sqlargs import (
    double_sql, literal_sql, quote, require_number, require_seed,
)

_HASH_BUCKETS = 2**40  # uniform grid fine enough for double precision


def _hash_uniform_sql(id_sql: str, seed: int, stream: int) -> str:
    """Deterministic U[0,1) from (id, seed, stream) as SQL text —
    partition-independent.  The seed is written as a plain int literal,
    so it is INT or BIGINT by range as ``F.lit`` types it (the hash
    depends on the type)."""
    return (
        f"CAST(pmod(xxhash64({id_sql}, {seed}, {stream}), {_HASH_BUCKETS}) AS DOUBLE)"
        f" / {float(_HASH_BUCKETS)!r}D"
    )


def _centers_sql(
    seed: int,
    ra_bounds: tuple[float, float],
    dec_bounds: tuple[float, float],
    margins: tuple[float, float],
    shrink_frame: bool,
    what: str,
) -> tuple[str, str]:
    """SQL text of the (ra, dec) of area-uniform centers over the patch:
    ``ra = lo + u1·(hi−lo)``, ``dec = degrees(asin(slo + u2·(shi−slo)))``
    with hash uniforms of ``id``.  With ``shrink_frame`` each side of
    the patch moves in by its margin (``margins`` = (ra, dec)), except
    that the full RA circle keeps its whole range; ``what`` names the
    sample shape when it no longer fits.  Bounds must be finite, the
    seed an int."""
    require_seed("seed", seed)
    ra_lo, ra_hi = (require_number("ra_bounds", b) for b in ra_bounds)
    dec_lo, dec_hi = (require_number("dec_bounds", b) for b in dec_bounds)
    if shrink_frame:
        if (ra_lo, ra_hi) != (0.0, 360.0):  # full circle: no RA margin needed
            ra_lo, ra_hi = ra_lo + margins[0], ra_hi - margins[0]
        dec_lo, dec_hi = dec_lo + margins[1], dec_hi - margins[1]
        if ra_lo >= ra_hi or dec_lo >= dec_hi:
            # inverted bounds would still "work" (lo + u·(hi−lo) walks
            # backwards INSIDE the patch) — but the documented whole-
            # shapes-inside guarantee is silently broken, so refuse
            raise ValueError(
                f"{what} does not fit the patch "
                f"ra={ra_bounds} dec={dec_bounds} after frame shrinking"
            )
    sin_lo, sin_hi = math.sin(math.radians(dec_lo)), math.sin(math.radians(dec_hi))
    u1, u2 = (_hash_uniform_sql("`id`", seed, stream) for stream in (1, 2))
    lit = lambda x: double_sql("patch bound", x)  # noqa: E731
    return (
        f"{lit(ra_lo)} + ({u1}) * {lit(ra_hi - ra_lo)}",
        f"degrees(asin({lit(sin_lo)} + ({u2}) * {lit(sin_hi - sin_lo)}))",
    )


def _key_hash_sql(key_cols: list[str], *extra: int) -> str:
    """SQL text of ``xxhash64`` of a composite row key with per-slot
    (position, isnull flag, value) anchoring — Spark's hash functions
    SKIP null argument slots, so a bare ``xxhash64(a, b)`` collides
    ('x', NULL) with (NULL, 'x') and their sampling fates would be
    perfectly correlated for every seed (the CLAUDE.md row-hash rule;
    merge.py::snapshot_cdc's ``hashed()`` is the same token stream).
    ``extra`` appends never-null int literals (seed/stream/epoch)
    unanchored; every int is written plainly, so it is INT or BIGINT
    by range exactly as ``F.lit`` typed it."""
    slots = []
    for i, c in enumerate(key_cols):
        q = quote(c, "key column")
        slots += [str(i), f"CAST(isnull({q}) AS INT)", q]
    slots += [str(require_seed("seed", x)) for x in extra]
    return f"xxhash64({', '.join(slots)})"


def _key_uniform_sql(key_cols: list[str], seed: int, stream: int) -> str:
    """SQL text of U[0,1) from a composite row key — the shared
    hash-threshold core of deterministic/stratified/weighted sampling
    (one place to change key normalization; distinct ``stream`` per
    sampler keeps their decisions independent)."""
    return _hash_uniform_sql(_key_hash_sql(key_cols), require_seed("seed", seed), stream)


def _key_uniform(key_cols: list[str], seed: int, stream: int) -> Column:
    """:func:`_key_uniform_sql` as a Column."""
    return F.expr(_key_uniform_sql(key_cols, seed, stream))


def uniform_sphere_samples(
    spark: SparkSession,
    n: int,
    *,
    seed: int = 42,
    radius_deg: float = 1.0,
    ra_bounds: tuple[float, float] = (0.0, 360.0),
    dec_bounds: tuple[float, float] = (-90.0, 90.0),
    shrink_frame: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """n circular sample regions, area-uniform over the patch.

    Uniform in (ra, sin dec): ``ra = lo + u1·(hi−lo)``;
    ``dec = degrees(asin(slo + u2·(shi−slo)))`` — the same change of
    variables as the reference (uniform in cos of colatitude,
    src/cosmap/analysis/sampler.py:87-113), written as the sin-of-latitude
    form.  ``shrink_frame`` reproduces the reference's frame margin so
    every cone lies fully inside the patch (sampler.py:48-85).
    """
    radius = double_sql("radius_deg", radius_deg)
    ra, dec = _centers_sql(
        seed, ra_bounds, dec_bounds, (float(radius_deg),) * 2, shrink_frame,
        f"cone radius {radius_deg}°",
    )
    base = spark.range(0, n, 1, num_partitions) if num_partitions else spark.range(n)
    return base.selectExpr(
        "`id` AS `sample_id`", f"{ra} AS `ra`", f"{dec} AS `dec`", f"{radius} AS `radius_deg`"
    )


def uniform_box_samples(
    spark: SparkSession,
    n: int,
    *,
    seed: int = 42,
    width_deg: float = 2.0,
    height_deg: float = 2.0,
    ra_bounds: tuple[float, float] = (0.0, 360.0),
    dec_bounds: tuple[float, float] = (-90.0, 90.0),
    shrink_frame: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """n rectangular sample regions with area-uniform centers.

    The reference declares a Rectangle sample shape (center/bounds +
    units) but never wires it up, and its validator is broken — it
    returns ``bound * units`` of the LAST element for every field
    (reference src/cosmap/config/models/geometry.py:44-63, bug at :63;
    SURVEY.md §4.2 says to fix, not replicate).  Here a box sample is
    explicit ra/dec bounds per row: centers drawn with the same
    hash-seeded (ra, sin dec) scheme as the cone sampler, the frame
    shrunk by the HALF-width/height per side so whole boxes stay inside
    the patch (the analog of the reference's cone-radius margin,
    src/cosmap/analysis/sampler.py:48-85).
    """
    half_w = require_number("width_deg", width_deg) / 2
    half_h = require_number("height_deg", height_deg) / 2
    ra, dec = _centers_sql(
        seed, ra_bounds, dec_bounds, (half_w, half_h), shrink_frame,
        f"box ({width_deg}°×{height_deg}°)",
    )
    w, h = double_sql("width_deg", half_w), double_sql("height_deg", half_h)
    # on the full RA circle, boxes near 0/360 emit ra_min < 0 or
    # ra_max > 360 — the unwrapped representation; consumers filtering
    # `ra BETWEEN ra_min AND ra_max` must compare on (ra mod 360)
    # shifted into the box frame, exactly as the cone search handles
    # RA wrap.
    base = spark.range(0, n, 1, num_partitions) if num_partitions else spark.range(n)
    return base.selectExpr(
        "`id` AS `sample_id`", f"{ra} AS `ra`", f"{dec} AS `dec`",
        f"{ra} - {w} AS `ra_min`", f"{ra} + {w} AS `ra_max`",
        f"{dec} - {h} AS `dec_min`", f"{dec} + {h} AS `dec_max`",
    )


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    *,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by hash threshold.

    ``df.sample()`` shares the partition-index-seeded RNG hazard of
    ``rand(seed)``: re-partition the input and the sample changes.  Hash
    thresholding on the row KEY is partition-layout-independent,
    re-runnable (same rows survive every run, on any cluster), and
    composable: samples at f1 ⊇ samples at f2 when f1 ≥ f2 with the same
    seed — the nested-subsample property training-data curation wants."""
    u = _key_uniform(key_cols, seed, 3)
    return df.where(u < F.lit(float(fraction)))


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    *,
    strata_col: str,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Per-stratum deterministic sampling (``sampleBy`` twin, minus the
    partition-dependence): each stratum keeps its own fraction.  Strata
    absent from ``fractions`` are dropped — the rebalancing primitive for
    skewed training corpora (e.g. downsample the dominant language)."""
    u = _key_uniform_sql(key_cols, seed, 4)
    col = quote(strata_col, "strata_col")
    # <=> so a None stratum key (unlabeled rows) is a real, addressable
    # stratum instead of silently matching nothing
    whens = "".join(
        f" WHEN {col} <=> {literal_sql('fractions key', value)}"
        f" THEN {double_sql('fractions', f)}"
        for value, f in fractions.items()
    )
    frac = f"CASE{whens} ELSE 0.0D END" if whens else "0.0D"
    return df.where(f"{u} < {frac}")


def weighted_sample(
    df: DataFrame,
    *,
    weight_col: str,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Keep each row independently with probability ``weight_col``
    (clamped to [0, 1]) — quality-weighted corpus selection (keep
    P(doc) ∝ quality score), deterministic via the same
    partition-independent hash threshold as ``deterministic_sample``:
    the same rows survive every run on any cluster layout, and a row's
    fate is monotone in its weight (raising a doc's score never drops
    it).  Map-side only; no shuffle.

    NULL and NaN weights both drop the row: a weight the scoring
    pipeline failed to compute must not survive by default (Spark sorts
    NaN above every double, so an unguarded clamp would keep NaN rows
    with probability 1 — the exact rows whose score computation
    failed)."""
    u = _key_uniform(key_cols, seed, 5)
    w_raw = F.col(weight_col).cast("double")
    w = F.when(w_raw.isNull() | F.isnan(w_raw), F.lit(0.0)).otherwise(
        F.least(F.greatest(w_raw, F.lit(0.0)), F.lit(1.0))
    )
    return df.where(u < w)


def temperature_mixture(
    df: DataFrame,
    *,
    source_col: str,
    key_cols: list[str],
    alpha: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Temperature-flattened source mixture by downsampling — the
    multilingual/multi-domain rebalancing recipe (mixture weight
    p_s ∝ n_s^alpha, alpha < 1 flattens toward uniform; alpha = 1 is the
    natural mixture, alpha = 0 uniform-over-sources).

    Realized WITHOUT upsampling: each source keeps
    ``frac_s = (n_min / n_s)^(1 - alpha)`` of its rows via the same
    partition-independent hash threshold as ``deterministic_sample`` —
    the exponent is ≤ 0 in n_s, so every fraction is ≤ 1, the smallest
    source is kept whole, and expected post-sample sizes are ∝ n_s^alpha
    (the flattened mixture).  The only driver-side step is the per-source count
    aggregate — #sources rows (the tiny-side collect pattern, like the
    IVF centroid table); the data path is one scan + one map-side
    filter, no shuffle of the corpus at all.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1]; got {alpha}")
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if not counts:
        return df
    n_min = min(counts.values())
    fractions = {s: (n_min / n) ** (1.0 - alpha) for s, n in counts.items()}
    return stratified_sample(
        df, fractions, strata_col=source_col, key_cols=key_cols, seed=seed
    )


def negative_pairs(
    df: DataFrame,
    *,
    k: int = 4,
    id_col: str = "doc_id",
    seed: int = 42,
    exclude_pairs: DataFrame | None = None,
) -> DataFrame:
    """k pseudo-random negative partners per document — the contrastive-
    training pair miner (anchor, negative) with negatives uniform over
    the corpus, deterministic, and never self.

    Sampling uniformly from a distributed table without knowing ids is
    the trick: ``row_index`` (operators/packing.py) assigns dense
    0..n-1 positions via the sharded prefix sum, each anchor derives k
    partner POSITIONS as ``(idx + 1 + hash(idx, seed, j) mod (n-1))
    mod n`` (offset ≥ 1 ⇒ never itself), and one equi-join maps
    positions back to ids.  ``exclude_pairs`` (id_a, id_b — e.g. a
    near-dup pair set) drops known FALSE negatives via a left-anti
    join.  Output: ``(anchor_id, negative_id, neg_rank)``.  The k
    draws are independent, so two can COLLIDE (guaranteed when
    ``k > n−1``): colliding positions are collapsed map-side
    (``array_distinct`` before the explode — ``neg_rank`` then ranks
    the distinct draws), so a pair never repeats; after collapsing
    and exclusions an anchor may carry fewer than k rows."""
    from cosmap_spark.operators.packing import row_index

    idx = row_index(df.select(id_col), order_col=id_col)
    n = idx.count()
    if n < 2:
        # no partner exists — empty result with the declared schema
        # (an upstream filter routinely leaves 0- or 1-row tables;
        # crashing the pipeline helps no one)
        return df.select(
            F.col(id_col).alias("anchor_id"),
            F.col(id_col).alias("negative_id"),
            F.lit(0).cast("long").alias("neg_rank"),
        ).where(F.lit(False))
    offs = F.array(*[
        (
            F.lit(1)
            + F.pmod(
                F.xxhash64(F.col("row_idx"), F.lit(seed), F.lit(j)),
                F.lit(n - 1),
            )
        ).alias(f"o{j}")
        for j in range(k)
    ])
    anchors = idx.select(
        F.col(id_col).alias("anchor_id"),
        F.posexplode(
            F.array_distinct(
                F.transform(
                    offs, lambda o: F.pmod(F.col("row_idx") + o, F.lit(n))
                )
            )
        ).alias("neg_rank", "__pidx"),
    )
    partners = idx.select(
        F.col("row_idx").alias("__pidx"), F.col(id_col).alias("negative_id")
    )
    pairs = anchors.join(partners, "__pidx").select(
        "anchor_id", "negative_id", F.col("neg_rank").cast("long").alias("neg_rank")
    )
    if exclude_pairs is not None:
        norm = exclude_pairs.select(
            F.least("id_a", "id_b").alias("__x"),
            F.greatest("id_a", "id_b").alias("__y"),
        )
        keyed = pairs.withColumn(
            "__x", F.least("anchor_id", "negative_id")
        ).withColumn("__y", F.greatest("anchor_id", "negative_id"))
        pairs = keyed.join(norm, ["__x", "__y"], "left_anti").drop("__x", "__y")
    return pairs


def select_to_token_budget(
    df: DataFrame,
    *,
    budget: int,
    priority_col: str,
    token_col: str,
    key_cols: list[str],
    seed: int = 42,
    precision: int = 4,
) -> DataFrame:
    """Select the highest-``priority_col`` documents until ~``budget``
    tokens — "give me the best N-token corpus" — WITHOUT a global sort.

    The naive form (order by priority, running token sum, cut at the
    budget) serializes 100 TB through one sorted window.  Instead:
    priorities round to ``precision`` dp buckets; ONE aggregate gives
    per-bucket token sums (bucket cardinality ≤ 10^precision·range —
    thousands, not corpus-sized); a window over that tiny table finds
    each bucket's cumulative tokens-before; buckets entirely under the
    budget keep everything, buckets past it drop, and the single
    boundary bucket keeps the residual fraction by the deterministic
    key-hash threshold.  The corpus itself is touched by exactly one
    aggregate and one map-side filtered join against the broadcast
    bucket plan.

    Exactness: buckets above the cut are complete; only the boundary
    bucket is sampled, so realized tokens = budget ± the boundary
    binomial noise (and ties within a bucket are resolved by hash, not
    rank — the price of never sorting the corpus).  Larger budgets
    yield supersets (same hash stream, higher thresholds)."""
    from pyspark.sql import Window

    b = F.round(F.col(priority_col).cast("double"), precision)
    buckets = df.groupBy(b.alias("__b")).agg(
        F.sum(F.col(token_col)).alias("__toks")
    )
    w = Window.orderBy(F.col("__b").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    plan = (
        buckets.withColumn(
            "__before", F.coalesce(F.sum("__toks").over(w), F.lit(0))
        )
        .withColumn(
            "__take",
            F.when(F.col("__before") >= budget, F.lit(0.0))
            .when(
                F.col("__before") + F.col("__toks") <= budget, F.lit(1.0)
            )
            .otherwise(
                (F.lit(budget) - F.col("__before"))
                / F.col("__toks").cast("double")
            ),
        )
        .where(F.col("__take") > 0)
        .select("__b", "__take")
    )
    u = _key_uniform(key_cols, seed, 6)
    return (
        df.join(F.broadcast(plan), b == F.col("__b"))
        .where(u < F.col("__take"))
        .drop("__b", "__take")
    )


def epoch_shuffle(
    df: DataFrame,
    *,
    key_cols: list[str],
    epoch: int,
    num_partitions: int | None = None,
    seed: int = 42,
    key_col_out: str | None = None,
) -> DataFrame:
    """Deterministic global training-order shuffle for one epoch.

    The permutation key is ``xxhash64(key, seed, epoch)`` — a new,
    reproducible pseudo-random total order per epoch, independent of
    input partition layout (the ``rand(seed)`` hazard again).  The order
    is realized as ``repartitionByRange + sortWithinPartitions`` on
    (hash, *key_cols) — the key-columns tie-break makes the order total
    even across 64-bit hash collisions (inevitable at ~10¹² rows) — a
    RANGE exchange plus partition-local sorts: rows are globally ordered
    across the partition index without ever funneling through a
    single-task global sort, so a 100 TB epoch shuffles exactly once at
    full parallelism.

    Downstream consumers that read partitions in index order (parquet
    part files) see the permuted stream.  Operators that re-order by an
    explicit column — ``pack_offsets(order_col=...)``, ``row_index`` —
    would UNDO the permutation if pointed at the original id; pass
    ``key_col_out`` to keep the permutation key as a column and hand it
    to them as the order column instead."""
    h = F.expr(_key_hash_sql(key_cols, seed, int(epoch)))
    key = key_col_out or "__shuffle_key"
    keyed = df.withColumn(key, h)
    n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    out = (
        keyed.repartitionByRange(int(n), key)
        .sortWithinPartitions(key, *key_cols)
    )
    return out if key_col_out else out.drop(key)


def kfold_assign(
    df: DataFrame,
    *,
    key_cols: list[str],
    k: int = 5,
    seed: int = 59,
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment: ``fold ∈ [0, k)`` from the row
    key's hash — map-side only, partition-layout independent, stable
    across runs and clusters (the cross-validation splitter).

    Each row's fold is an independent uniform choice, so folds are
    balanced to within sampling noise (√n per fold), and re-running
    with the same seed reproduces the exact split — the property that
    lets a 100 TB corpus be k-folded WITHOUT materializing fold tables:
    any job recomputes membership from the key."""
    if k < 2:
        raise ValueError(f"need k >= 2 folds; got {k}")
    h = F.expr(_key_hash_sql(key_cols, seed, 71))
    return df.withColumn(fold_col, F.pmod(h, F.lit(k)).cast("int"))


def group_kfold_assign(
    df: DataFrame,
    *,
    group_col: str,
    k: int = 5,
    seed: int = 59,
    fold_col: str = "fold",
) -> DataFrame:
    """k-fold where the unit is a GROUP: every row of a group lands in
    the same fold (fold = hash of the group key alone).

    The grouped sibling of ``dedup.leakage_safe_split`` — use the
    near-dup cluster label, the source domain, or the author id as the
    group so correlated rows never straddle a train/eval fold boundary
    (the leakage a row-wise k-fold silently reintroduces).  Map-side,
    no shuffle, no group table materialized."""
    if k < 2:
        raise ValueError(f"need k >= 2 folds; got {k}")
    h = F.expr(_key_hash_sql([group_col], seed, 73))
    return df.withColumn(fold_col, F.pmod(h, F.lit(k)).cast("int"))


def exact_k_sample(
    df: DataFrame,
    *,
    k: int,
    key_cols: list[str],
    seed: int = 83,
) -> DataFrame:
    """EXACTLY k rows, uniform over the table, deterministic: the k
    rows with the smallest ``xxhash64(key, seed)`` — a global top-k
    that Catalyst executes as TakeOrderedAndProject (per-partition
    heap of k, merge of partition heaps on the driver side of the
    exchange; never a global sort).

    Complements ``deterministic_sample`` (rate-based: size varies
    binomially) when the contract is a hard row budget — eval-set
    carving, fixed-size debugging slices.  Same hash-threshold family:
    partition-layout independent, stable across runs/clusters, and a
    different seed draws an (almost) independent sample."""
    h = F.expr(_key_hash_sql(key_cols, seed))
    return (
        df.withColumn("__h", h)
        .orderBy("__h", *key_cols)
        .limit(k)
        .drop("__h")
    )


def _es_rank_sql(weight_col: str, key_cols: list[str], seed: int) -> str:
    """SQL text of the Efraimidis–Spirakis exponential rank
    ``r = −ln(u)/w`` with a DETERMINISTIC hash-uniform ``u`` strictly
    inside (0, 1): the +1 shift keeps u off 0 (rank +inf — a random
    zero-probability row) and the B+1 denominator keeps it off 1 (rank
    EXACTLY 0 — a row that would sample regardless of weight, violating
    the weight-monotone inclusion contract at the endpoint; round-9
    advice) — shared by :func:`weighted_k_sample` and the streaming
    reservoir's weighted mode, which is what makes the live sample
    bit-equal to the batch one.  Invalid weights (NULL/NaN/≤0) rank
    NULL — the caller drops them (the weighted_sample NULL-drop
    contract).  Stream id 7 (unique among this module's samplers)."""
    h = _key_hash_sql(key_cols, seed, 7)
    u = f"(CAST(pmod({h}, {_HASH_BUCKETS}) AS DOUBLE) + 1.0D) / {float(_HASH_BUCKETS) + 1.0!r}D"
    w = f"CAST({quote(weight_col, 'weight_col')} AS DOUBLE)"
    return f"CASE WHEN {w} IS NOT NULL AND NOT isnan({w}) AND {w} > 0 THEN -ln({u}) / {w} END"


def weighted_k_sample(
    df: DataFrame,
    *,
    k: int,
    weight_col: str,
    key_cols: list[str],
    seed: int = 83,
) -> DataFrame:
    """EXACTLY ``k`` rows with inclusion odds increasing in
    ``weight_col`` — the fixed-budget twin of :func:`weighted_sample`
    (which keeps a binomially-varying count): the k rows with the
    smallest Efraimidis–Spirakis rank ``−ln(u)/w`` (A-ES, Efraimidis &
    Spirakis 2006 — a weighted reservoir without sequential state),
    ``u`` a deterministic hash of the key, so the sample is
    partition-layout independent, stable across runs/clusters, and
    MONOTONE in a row's own weight (raising a doc's score can only
    pull its rank down, never evict it).  Invalid weights (NULL, NaN,
    ≤ 0) never sample.  Same TakeOrdered plan shape as
    :func:`exact_k_sample`; ties (astronomically unlikely) break by
    key.  The live twin is ``streaming.ops.reservoir_stream(
    weight_col=)`` — bit-equal by the shared rank."""
    if k < 1:
        raise ValueError(f"need k >= 1; got {k}")
    return (
        df.withColumn("__r", F.expr(_es_rank_sql(weight_col, key_cols, seed)))
        .where("__r IS NOT NULL")
        .orderBy(F.expr("__r"), *(F.expr(quote(c, "key column")) for c in key_cols))
        .limit(k)
        .drop("__r")
    )


def equi_depth_bin(
    df: DataFrame,
    col: str,
    *,
    n_bins: int = 10,
    accuracy: int = 10_000,
    bin_col: str | None = None,
) -> DataFrame:
    """Assign each row the equi-DEPTH bin (quantile bucket) of ``col``:
    bin b holds approximately 1/n_bins of the rows — the stratification
    key for quality-score curricula and skew-aware splits, where
    equal-WIDTH buckets (``width_bucket``) collapse under heavy tails.

    One ``percentile_approx`` sketch pass computes the n_bins-1 inner
    edges (a tiny literal broadcast row); assignment is the map-side
    count of edges ≤ x via a higher-order ``filter`` over the edge
    array — no UDF, no second shuffle.  Bins are [0, n_bins); a value
    exactly equal to a bin edge lands in the LOWER bin (assignment is
    ``#edges strictly < x``, so the edge value itself does not count
    its own edge)."""
    if n_bins < 2:
        raise ValueError(f"need n_bins >= 2; got {n_bins}")
    probs = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    edges = df.agg(
        F.percentile_approx(col, probs, accuracy).alias("__edges")
    )
    out_col = bin_col or f"{col}_bin"
    return (
        df.join(F.broadcast(edges))
        .withColumn(
            out_col,
            F.size(F.filter("__edges", lambda e: e < F.col(col))).cast("int"),
        )
        .drop("__edges")
    )


def exact_k_per_group(
    df: DataFrame,
    *,
    k: int,
    group_cols: list[str],
    key_cols: list[str],
    seed: int = 97,
) -> DataFrame:
    """Up to ``k`` rows PER GROUP, uniform within the group,
    deterministic: rank by ``xxhash64(key, seed)`` inside each group
    and keep rank ≤ k — the grouped twin of :func:`exact_k_sample`
    (per-language eval slices, per-source debugging samples, capped
    per-domain contributions).

    One hash-partitioned window per group key — never a global sort;
    group sizes bound the sort runs, so skewed groups cost their own
    size, not the table's.  Same hash-threshold family: partition-
    layout independent, stable across runs, seed-swappable."""
    from pyspark.sql import Window

    if "__rn" in df.columns:
        raise ValueError(
            "exact_k_per_group reserves the internal column name '__rn'; "
            "rename the input column"
        )

    h = F.expr(_key_hash_sql(key_cols, seed))
    w = Window.partitionBy(*group_cols).orderBy(h, *key_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
