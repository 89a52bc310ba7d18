"""Data layout for file skipping: z-order (Morton) clustering.

At 100 TB the fastest scan is the one that never opens the file:
parquet readers prune files and row groups on footer min/max stats,
but stats only help when values are CLUSTERED — a multi-dimensional
filter over randomly laid-out files matches every file.  Z-ordering
interleaves the bits of per-column quantile ranks so rows close in
the multi-dimensional key space land in the same files, shrinking
every file's bounding box and letting point/range predicates on ANY
prefix-free subset of the z-ordered columns skip most of the data —
the lakehouse ``OPTIMIZE ... ZORDER BY`` layout, expressed as a plain
repartition so it works on any parquet sink.

Scale shape: one stats job (approxQuantile boundaries or min/max,
driver state O(2^bits) per column, independent of row count), one
map-side rank+interleave projection (JVM shift/mask + higher-order
functions, no Python), one range shuffle into the target file count.

Two bucketing strategies, one interleave:

* ``rank`` (default) — buckets are approxQuantile boundaries, so each
  bucket holds ~equal row mass; skew cannot collapse the interleave.
* ``range`` — buckets are uniform slices of a fixed [lo, hi) range
  (given or computed by one min/max aggregate); cheapest stats pass,
  exactly reproducible across independent writes of the same declared
  range, but outliers clamp to the boundary cells and heavy skew
  concentrates rows in few cells (the SCALE.md trade-off note).

This module is the one z-order/layout implementation in the package.
The reference has no
layout story (its catalogs are fixed HDF5 —
/root/reference/src/cosmap/dataset/opencosmo.py); this module is part
of the beyond-reference pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket_expr(col: str, boundaries: list[float]) -> "F.Column":
    """Quantile-rank bucket of ``col`` against sorted ``boundaries``:
    ``|{b : b <= x}|`` via a JVM higher-order filter — O(2^bits)
    comparisons per row, all codegen'd, no Python.  NULL compares to
    nothing, so NULLs land in bucket 0 (the natural "first" cell).

    The cast column is BOUND once via the single-element-array +
    transform trick (the repo's lambda-CSE discipline: an outer-scope
    expression referenced inside a higher-order-function lambda
    re-evaluates per element)."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.transform(
        F.array(F.col(col).cast("double")),
        lambda x: F.size(F.filter(arr, lambda b: b <= x)).cast("long"),
    )[0]


def _range_bucket_expr(col: str, lo: float, hi: float, bits: int) -> "F.Column":
    """Uniform [lo, hi) quantization to ``bits`` with boundary clamp
    (outliers land in the edge cells).

    The scale factor is ``2^bits`` (then clamped), the standard
    equal-width formula: scaling by ``2^bits − 1`` would make the top
    cell reachable only by ``x == hi`` exactly, wasting one of the
    column's code points and degenerating that cell's mass.  An
    all-NULL column (NULL min/max) contributes constant bucket 0 —
    the same graceful degradation as the rank strategy's empty
    boundary list."""
    if lo is None or hi is None:
        return F.lit(0).cast("long")
    n_cells = 1 << bits
    span = float(hi - lo) or 1.0
    return F.least(
        F.lit(n_cells - 1).cast("long"),
        F.greatest(
            F.lit(0).cast("long"),
            F.floor(
                (F.col(col).cast("double") - F.lit(float(lo)))
                / span * n_cells
            ).cast("long"),
        ),
    )


def zorder_key(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 8,
    out_col: str = "__z",
    strategy: str = "rank",
    ranges: dict | None = None,
    relative_error: float = 0.001,
) -> DataFrame:
    """Append a Morton key interleaving the ``bits``-bit bucket ids of
    ``cols`` (``bits × len(cols)`` must fit a signed long, so ≤ 63
    total); bit ``j`` of column ``k`` lands at position ``j*d + k``.

    ``strategy='rank'`` buckets by approxQuantile boundaries (ONE
    eager stats pass over all columns, O(2^bits) driver state each —
    the only eager work); duplicate boundaries from low-cardinality or
    constant columns collapse, so such columns contribute fewer
    effective bits instead of skewing the interleave.
    ``strategy='range'`` (or passing ``ranges={col: (lo, hi)}``)
    quantizes uniformly against fixed ranges — min/max aggregate if
    not given — with outliers clamped to the edge cells.  Either way
    the key itself is a pure map-side projection.
    """
    if bits * len(cols) > 63:
        raise ValueError(f"bits*len(cols) = {bits * len(cols)} exceeds 63")
    if ranges is not None:
        strategy = "range"
    if strategy not in ("rank", "range"):
        raise ValueError(f"unknown strategy {strategy!r}")
    d = len(cols)
    buckets: list = []
    if strategy == "rank":
        n_bnd = (1 << bits) - 1
        probs = [(i + 1) / (1 << bits) for i in range(n_bnd)]
        all_bnds = df.approxQuantile(cols, probs, relative_error)
        for c, bnds in zip(cols, all_bnds):
            uniq = sorted(set(bnds))
            buckets.append(
                _bucket_expr(c, uniq) if uniq else F.lit(0).cast("long")
            )
    else:
        if ranges is None:
            agg = df.agg(
                *[F.min(c).alias(f"{c}_lo") for c in cols],
                *[F.max(c).alias(f"{c}_hi") for c in cols],
            ).collect()[0]
            ranges = {c: (agg[f"{c}_lo"], agg[f"{c}_hi"]) for c in cols}
        for c in cols:
            if c not in ranges:
                raise ValueError(
                    f"zorder_key: ranges has no entry for column {c!r} "
                    f"(got {sorted(ranges)})"
                )
            lo, hi = ranges[c]
            buckets.append(_range_bucket_expr(c, lo, hi, bits))
    z = F.lit(0).cast("long")
    for k, bucket in enumerate(buckets):
        for j in range(bits):
            bit = F.shiftright(bucket, j).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, j * d + k))
    return df.withColumn(out_col, z)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 8,
    num_files: int = 16,
    mode: str = "overwrite",
    fmt: str = "parquet",
    strategy: str = "rank",
    ranges: dict | None = None,
) -> None:
    """Write ``df`` z-ordered on ``cols``: range-partition the Morton
    key into ``num_files`` contiguous key ranges (one output file
    each), sort within each file so row groups cluster too, drop the
    key, write.  Size ``num_files`` so each file lands near the
    cluster's target file size (128–1024 MB at real scale);
    ``strategy``/``ranges`` select the bucketing (see
    :func:`zorder_key`)."""
    keyed = zorder_key(df, cols, bits=bits, strategy=strategy, ranges=ranges)
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )


def describe_layout(path: str, columns: list[str]) -> list[dict]:
    """Row-group-level min/max layout report for a parquet directory —
    the ops tool behind clustering decisions: one dict per row group
    with ``file``, ``n_rows``, and ``<col>_min`` / ``<col>_max`` per
    requested column.  Reads FOOTERS only (pyarrow), never data pages,
    so it is safe to point at a huge table from the driver.

    Use it to answer "is this table worth re-clustering?": for a
    predicate box, the fraction of row groups whose bounds intersect
    it IS the scan fraction a filtered query will pay.  (This is the
    one footer reader in the engine.)"""
    import glob as _glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(_glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        idx = {c: names.index(c) for c in columns}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            row = {"file": f.rsplit("/", 1)[-1], "n_rows": rg.num_rows}
            for c, i in idx.items():
                st = rg.column(i).statistics
                ok = st is not None and st.has_min_max
                row[f"{c}_min"] = st.min if ok else None
                row[f"{c}_max"] = st.max if ok else None
            out.append(row)
    return out


def layout_spans(path: str, cols: list[str]):
    """Per-FILE min/max spans for ``cols`` — :func:`describe_layout`'s
    row groups folded to file granularity (the unit Spark's
    file-listing prune works at).  Returns
    ``[{file, <col>_min, <col>_max, ...}, ...]``."""
    by_file: dict[str, dict] = {}
    for rg in describe_layout(path, cols):
        row = by_file.setdefault(
            rg["file"],
            {"file": rg["file"],
             **{f"{c}_{e}": None for c in cols for e in ("min", "max")}},
        )
        for c in cols:
            mn, mx = rg[f"{c}_min"], rg[f"{c}_max"]
            if mn is not None:
                cur = row[f"{c}_min"]
                row[f"{c}_min"] = mn if cur is None else min(cur, mn)
            if mx is not None:
                cur = row[f"{c}_max"]
                row[f"{c}_max"] = mx if cur is None else max(cur, mx)
    return [by_file[f] for f in sorted(by_file)]


def pruning_ratio(
    spans: list[dict],
    cols: list[str],
    lo: dict,
    hi: dict,
) -> float:
    """Fraction of files a box predicate ``lo[c] <= c <= hi[c]`` must
    open given ``layout_spans`` output — the file-skipping metric a
    layout is judged by (1.0 = no skipping, → 0 = most files
    pruned).  Empty ``spans`` raises: a missing/mistyped path must not
    score as a perfectly-pruned layout."""
    if not spans:
        raise ValueError("pruning_ratio: empty spans (wrong path, or the "
                         "layout was never written)")
    hit = 0
    for row in spans:
        ok = True
        for c in cols:
            if row[f"{c}_min"] is None:
                continue
            if row[f"{c}_max"] < lo[c] or row[f"{c}_min"] > hi[c]:
                ok = False
                break
        hit += ok
    return hit / len(spans)


