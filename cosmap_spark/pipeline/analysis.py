"""End-to-end analysis orchestration — the reference's CosmapAnalysis
(src/cosmap/analysis/analysis.py:19-162) as one lazy Spark plan.

Reference lifecycle: config → verify DAG → generate samples on the
driver → spin up Dask workers each holding a dataset copy → map
per-chunk closures → per-sample cone search + pipeline loop → stream
results back → buffered CSV append.

Spark lifecycle (SURVEY.md §3.1 restatement): config → verify DAG →
samples as a DataFrame → cone-search JOIN → pipeline composition →
``result.write``.  No worker-side dataset copies (the catalog is one
shared scan), no chunking heuristics (AQE), no output buffering (the
sink streams).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from cosmap_spark.operators.cone_search import cone_search
from cosmap_spark.operators.sampler import uniform_sphere_samples
from cosmap_spark.pipeline.config import AnalysisConfig, load_config
from cosmap_spark.pipeline.dag import topo_order
from cosmap_spark.pipeline.pipeline import (
    _get_impl,
    compile_pipeline,
    resolve_parameter,
)
from cosmap_spark.sinks.writers import write_output


def run_setup_block(
    block: dict, implementations: Any, parameters: dict
) -> dict:
    """Driver-side Setup pre-pass producing NEW parameters (reference
    handle_setup/run_setup, src/cosmap/analysis/setup.py:12-55): run the
    setup transformations in topo order; nodes flagged ``output`` (or
    with no dependents) export their results, renamed by ``output-name``
    when present; returns the updated parameter dict (merge semantics of
    CosmapAnalysis.update_parameters, analysis.py:128-148)."""
    if not block:
        return parameters
    order = topo_order(block)
    dependents: set[str] = set()
    for spec in block.values():
        for v in (spec.get("dependencies", {}) or {}).values():
            dependents.update(v if isinstance(v, (list, tuple)) else [v])
    results: dict[str, Any] = {}
    exports: dict[str, Any] = {}
    for name in order:
        spec = block[name]
        # same lookup + not-callable check as the distributed pipeline:
        # a missing setup implementation raises DagValidationError naming
        # the node instead of an opaque "'NoneType' is not callable"
        fn = _get_impl(implementations, name)
        kwargs: dict[str, Any] = {}
        for alias, dep in (spec.get("dependencies", {}) or {}).items():
            # list-valued dependency = the alias receives a LIST of
            # results, the same shape dag._dep_names and pipeline.py
            # accept — a dict lookup on the raw list would TypeError
            if isinstance(dep, (list, tuple)):
                kwargs[alias] = [results[d] for d in dep]
            else:
                kwargs[alias] = results[dep]
        for p in spec.get("needed-parameters", []) or []:
            kwargs[p.rsplit(".", 1)[-1]] = resolve_parameter(parameters, p)
        results[name] = fn(**kwargs)
        if spec.get("output") or name not in dependents:
            exports[spec.get("output-name", name)] = results[name]
    merged = dict(parameters)
    merged.setdefault("analysis_parameters", {})
    merged["analysis_parameters"] = {**merged["analysis_parameters"], **exports}
    return merged


class Analysis:
    """A configured, validated analysis ready to run."""

    def __init__(
        self,
        config: AnalysisConfig | dict,
        transformations: dict,
        implementations: Any,
        *,
        setup_block: dict | None = None,
        setup_implementations: Any | None = None,
    ) -> None:
        self.config = (
            config if isinstance(config, AnalysisConfig) else load_config(config)
        )
        self.transformations = transformations
        self.implementations = implementations
        self.setup_block = setup_block or {}
        self.setup_implementations = setup_implementations

    def build(self, spark: SparkSession, catalog: DataFrame) -> DataFrame:
        """Compose the full lazy plan: sample → cone join → pipeline."""
        params: dict = self.config.model_dump()
        if self.setup_block:
            params = run_setup_block(
                self.setup_block, self.setup_implementations, params
            )
        sp = self.config.sampling_parameters

        def _default_sampler(spark_, sampling):
            # the only draw this sampler makes; other values are for a
            # registered generate_samples plugin to handle
            if (sampling.sample_type, sampling.sample_shape) != ("Random", "Circle"):
                raise ValueError(
                    "the default sampler draws sample_type 'Random', "
                    "sample_shape 'Circle'; got sample_type "
                    f"{sampling.sample_type!r}, sample_shape "
                    f"{sampling.sample_shape!r} (register a "
                    "generate_samples plugin for other samplers)"
                )
            return uniform_sphere_samples(
                spark_,
                sampling.n_samples,
                seed=sampling.seed,
                radius_deg=sampling.sample_dimensions,
                ra_bounds=tuple(sampling.ra_bounds),
                dec_bounds=tuple(sampling.dec_bounds),
            )

        from cosmap_spark.pipeline import plugins

        # O31 hook: a registered generate_samples plugin overrides the
        # uniform sphere sampler (firstresult, unique)
        samples = plugins.call(
            "generate_samples", spark, sp, default=_default_sampler
        )
        cols = self.config.dataset_parameters.columns
        has_cone_plugin = plugins._HOOKS.get("cone_strategy") is not None
        if cols and not has_cone_plugin:
            # O3: source projection → parquet column pruning.  Skipped
            # when a cone_strategy PLUGIN is registered: the plugin may
            # join on columns outside the declared projection (a
            # prebuilt spatial-index column is the advertised case) and
            # pruning first would strip them with an opaque
            # UNRESOLVED_COLUMN; the declared projection is applied to
            # the JOINED frame below instead, and Catalyst still pushes
            # the post-join pruning into the scan for the plugin's
            # actually-unused columns.
            needed = {"ra", "dec", *cols}
            catalog = catalog.select(*[c for c in catalog.columns if c in needed])
        joined = plugins.call(
            "cone_strategy", catalog, samples, default=cone_search
        )
        if cols and has_cone_plugin:
            needed = {"ra", "dec", *cols}
            drop = [c for c in catalog.columns if c not in needed]
            joined = joined.drop(*[c for c in drop if c in joined.columns])
        run = compile_pipeline(
            self.transformations, self.implementations, parameters=params
        )
        return run({"catalog": joined, "samples": samples})

    def run(self, spark: SparkSession, catalog: DataFrame) -> DataFrame:
        """Build and, when output_parameters.path is set, write the sink
        through :func:`cosmap_spark.sinks.writers.write_output`
        (reference O24/O25: append-mode writer, output/writer.py:23-35);
        an unsupported ``format`` raises ``ValueError``."""
        result = self.build(spark, catalog)
        out = self.config.output_parameters
        if out.path:
            write_output(result, out.path, fmt=out.format, mode=out.mode)
        return result
