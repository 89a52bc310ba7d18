"""Compile a transformation block into one lazy DataFrame plan.

Reference execution (src/cosmap/analysis/task.py:168-188): walk the topo
order; each transformation receives its ``needed-data`` catalogs, its
``dependencies`` (upstream results, keyword-aliased), and its
``needed-parameters`` (dotted config paths), via kwargs injection
(src/cosmap/analysis/utils.py:174-229); the terminal ``is-output``
node's result is the sample's output row.

Spark-first restatement: the walk happens ONCE on the driver, composing
lazy DataFrame transformations — not once per sample.  A node is either

* **native** — a Python callable composing DataFrame ops: receives
  DataFrames/values, returns a DataFrame/value; zero execution cost at
  compile time (laziness), fused by Catalyst; or
* **per-sample** (``"per-sample": true`` + ``"schema"``) — a black-box
  pandas function applied to each sample's little table via
  ``applyInPandas`` over ``sample_id`` groups: the exact "whole small
  table in → table out" contract a reference transformation had.  The
  function may raise :class:`BadSampleError` to drop its sample
  (reference task.py:155-157) — the group is then omitted from the
  output rather than failing the job; or
* **SQL** (``"sql": "SELECT …"``) — no Python implementation at all:
  the node's ``needed-data`` and ``dependencies`` are registered as
  temp views under their kwarg aliases and ``needed-parameters``
  bind as NAMED query parameters (``:param`` — Spark's parameterized
  SQL, injection-safe literals, never string splicing).  The view
  registration is resolved eagerly when ``spark.sql`` builds the
  plan, so a later node reusing an alias cannot corrupt an earlier
  node's captured plan.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame

from cosmap_spark.pipeline.dag import output_node, topo_order
from cosmap_spark.pipeline.errors import BadSampleError, DagValidationError


def _get_impl(implementations: Any, name: str) -> Callable:
    """Transformation lookup by name (reference getattr discovery,
    src/cosmap/analysis/utils.py:68-87)."""
    fn = getattr(implementations, name, None)
    if fn is None and isinstance(implementations, dict):
        fn = implementations.get(name)
    if not callable(fn):
        raise DagValidationError(
            f"transformation {name!r} is declared in the block but has no "
            f"callable implementation"
        )
    return fn


def resolve_parameter(parameters: dict, dotted: str) -> Any:
    """Resolve a ``"Block.param"`` dotted path (reference
    get_task_parameters_from_dictionary, src/cosmap/analysis/utils.py:174-229).
    ``"all"`` passes the whole parameter tree."""
    if dotted == "all":
        return parameters
    cur: Any = parameters
    for part in dotted.split("."):
        if hasattr(cur, part):
            cur = getattr(cur, part)
            continue
        if isinstance(cur, dict) and part in cur:
            cur = cur[part]
            continue
        raise DagValidationError(f"unknown parameter path {dotted!r}")
    return cur


def node_kwargs(name: str, spec: dict, results: dict, parameters: dict,
                data: dict) -> dict[str, Any]:
    """The keyword arguments of DAG node ``name`` — the one resolver of
    both walkers (:func:`compile_pipeline` and
    ``analysis.run_setup_block``, which passes no data): its
    ``needed-data`` from ``data``, its ``dependencies`` from
    ``results`` (a list-valued one receives a LIST), its
    ``needed-parameters``, and whichever ``optional-parameters``
    resolve (soft-fail, reference utils.py:208-214)."""
    kwargs: dict[str, Any] = {}
    for dtype in spec.get("needed-data", []) or []:
        if dtype not in data:
            raise DagValidationError(
                f"transformation {name!r} needs data {dtype!r} "
                f"which was not provided"
            )
        kwargs[dtype] = data[dtype]
    for alias, dep in (spec.get("dependencies", {}) or {}).items():
        if isinstance(dep, (list, tuple)):
            kwargs[alias] = [results[d] for d in dep]
        else:
            kwargs[alias] = results[dep]
    for p in spec.get("needed-parameters", []) or []:
        kwargs[p.rsplit(".", 1)[-1]] = resolve_parameter(parameters, p)
    for p in spec.get("optional-parameters", []) or []:
        try:
            kwargs[p.rsplit(".", 1)[-1]] = resolve_parameter(parameters, p)
        except DagValidationError:
            pass
    return kwargs


def verify_block(block: dict, implementations: Any) -> None:
    """Spec ↔ implementation cross-check + DAG validity (reference
    CosmapAnalysis.verify_analysis, src/cosmap/analysis/analysis.py:93-126)."""
    topo_order(block)
    output_node(block)
    for name, spec in block.items():
        if "sql" in spec:
            if spec.get("per-sample"):
                raise DagValidationError(
                    f"transformation {name!r} cannot be both 'sql' and "
                    f"'per-sample' (a SQL node has no pandas function)"
                )
            if not isinstance(spec["sql"], str) or not spec["sql"].strip():
                raise DagValidationError(
                    f"transformation {name!r}: 'sql' must be a non-empty "
                    f"query string"
                )
            continue
        _get_impl(implementations, name)


def compile_pipeline(
    block: dict,
    implementations: Any,
    *,
    parameters: dict | None = None,
) -> Callable[[dict[str, DataFrame]], DataFrame]:
    """Return ``run(data) -> DataFrame`` executing the block lazily.

    ``data`` maps dtype names (the reference's ``needed-data``, e.g.
    ``"catalog"``) to DataFrames.  All composition is lazy; nothing
    touches the cluster until an action on the returned DataFrame.
    """
    parameters = parameters or {}
    verify_block(block, implementations)
    order = topo_order(block)
    out_node = output_node(block)

    def run(data: dict[str, DataFrame]) -> DataFrame:
        results: dict[str, Any] = {}
        for name in order:
            spec = block[name]
            kwargs = node_kwargs(name, spec, results, parameters, data)
            if "sql" in spec:
                dfs = {
                    k: v for k, v in kwargs.items()
                    if isinstance(v, DataFrame)
                }
                if not dfs:
                    raise DagValidationError(
                        f"sql transformation {name!r} consumes no DataFrame "
                        f"— declare needed-data or dependencies to query"
                    )
                spark = next(iter(dfs.values())).sparkSession
                # the SQL plan is captured eagerly by spark.sql, so the
                # views are only needed DURING the call — save any
                # same-named session TEMP VIEWS and restore (or drop)
                # after, leaving the user's session exactly as found.
                # Only temp views are captured: spark.table(alias) also
                # resolves PERMANENT catalog tables, and "restoring"
                # one would mint a shadowing temp view that leaks
                # (review finding); a catalog table needs no restore —
                # dropping our alias un-shadows it.
                def _temp_view(name: str):
                    for t in spark.catalog.listTables():
                        if t.isTemporary and t.name == name.lower():
                            return spark.table(name)
                    return None

                saved: dict[str, DataFrame | None] = {}
                for alias, v in dfs.items():
                    try:
                        saved[alias] = _temp_view(alias)
                    except Exception:
                        saved[alias] = None
                    v.createOrReplaceTempView(alias)
                args = {
                    k: v for k, v in kwargs.items()
                    if not isinstance(v, DataFrame)
                }
                try:
                    results[name] = spark.sql(spec["sql"], args=args or None)
                finally:
                    for alias, prev in saved.items():
                        if prev is not None:
                            prev.createOrReplaceTempView(alias)
                        else:
                            spark.catalog.dropTempView(alias)
                continue
            fn = _get_impl(implementations, name)
            if spec.get("per-sample"):
                kwargs_np = {k: v for k, v in kwargs.items() if not isinstance(v, DataFrame)}
                dfs = [v for v in kwargs.values() if isinstance(v, DataFrame)]
                if len(dfs) != 1:
                    raise DagValidationError(
                        f"per-sample transformation {name!r} must consume "
                        f"exactly one DataFrame, got {len(dfs)}"
                    )
                schema = spec.get("schema")
                if not schema:
                    raise DagValidationError(
                        f"per-sample transformation {name!r} must declare "
                        f"an output 'schema' (the engine does not infer "
                        f"schemas from first rows — SURVEY.md §7 hard part 3)"
                    )

                results[name] = dfs[0].groupBy("sample_id").applyInPandas(
                    _badsample_guard(fn, kwargs_np, schema), schema=schema
                )
            else:
                results[name] = fn(**kwargs)
        result = results[out_node]
        if not isinstance(result, DataFrame):
            raise DagValidationError(
                f"output transformation {out_node!r} must return a DataFrame, "
                f"got {type(result).__name__}"
            )
        return result

    return run


def _badsample_guard(fn: Callable, kwargs: dict, schema: str) -> Callable:
    """Wrap a per-sample pandas fn: BadSampleError ⇒ empty frame (sample
    dropped), matching reference task.py:155-157 semantics.

    Column names come from Spark's own DDL parser — a naive
    ``schema.split(",")`` would shred comma-bearing types
    (``decimal(10,2)``, ``struct<...>``) into bogus columns, and the
    guard's empty frame would then fail Arrow conversion at task time:
    the exact case the guard exists to absorb would crash the job."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    cols = _parse_datatype_string(schema).fieldNames()

    def guarded(pdf: pd.DataFrame) -> pd.DataFrame:
        try:
            return fn(pdf, **kwargs)
        except BadSampleError:
            return pd.DataFrame({c: pd.Series(dtype="object") for c in cols})

    return guarded
