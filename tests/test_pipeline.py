"""Pipeline-engine unit tests: DAG validation error cases mirroring the
reference's rejections (FIXTURES.md "DAG-validation specs"), @-reference
resolution, variant merge semantics, per-sample UDFs + BadSampleError,
and the setup-block pre-pass."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from cosmap_spark.pipeline import (
    BadSampleError,
    DagCycleError,
    DagValidationError,
    compile_pipeline,
    topo_order,
)
from cosmap_spark.pipeline.analysis import Analysis, run_setup_block
from cosmap_spark.pipeline.config import (
    load_config,
    quantity_to_deg,
    resolve_references,
)
from cosmap_spark.pipeline.dag import output_node
from cosmap_spark.pipeline.manage import (
    combine_dicts,
    combine_transformations,
    combine_with_mod,
)

# --- DAG validation (reference dependencies.py:60-62, task.py:104-107) ----


def test_cycle_2node_rejected():
    block = {
        "a": {"dependencies": {"x": "b"}},
        "b": {"dependencies": {"y": "a"}, "is-output": True},
    }
    with pytest.raises(DagCycleError):
        topo_order(block)


def test_cycle_3node_rejected():
    block = {
        "a": {"dependencies": {"x": "c"}},
        "b": {"dependencies": {"y": "a"}},
        "c": {"dependencies": {"z": "b"}, "is-output": True},
    }
    with pytest.raises(DagCycleError):
        topo_order(block)


def test_missing_dependency_rejected():
    block = {"a": {"dependencies": {"x": "ghost"}, "is-output": True}}
    with pytest.raises(DagValidationError):
        topo_order(block)


def test_nonterminal_output_rejected():
    block = {
        "a": {"is-output": True},
        "b": {"dependencies": {"x": "a"}},
    }
    with pytest.raises(DagValidationError):
        output_node(block)


def test_multiple_outputs_rejected():
    block = {"a": {"is-output": True}, "b": {"is-output": True}}
    with pytest.raises(DagValidationError):
        output_node(block)


def test_missing_implementation_rejected(spark):
    block = {"nope": {"is-output": True}}
    with pytest.raises(DagValidationError, match="no.*callable|callable.*no"):
        compile_pipeline(block, object())


def test_topo_respects_dependencies():
    block = {
        "c": {"dependencies": {"x": "b"}, "is-output": True},
        "b": {"dependencies": {"x": "a"}},
        "a": {},
    }
    assert topo_order(block) == ["a", "b", "c"]


# --- config layer ---------------------------------------------------------


def test_quantity_normalization():
    assert quantity_to_deg({"value": 120, "units": "arcmin"}) == pytest.approx(2.0)
    assert quantity_to_deg({"value": 7200, "units": "arcsec"}) == pytest.approx(2.0)
    assert quantity_to_deg(2.0) == 2.0
    with pytest.raises(ValueError):
        quantity_to_deg({"value": 1, "units": "parsec"})


def test_general_unit_table():
    """The generalized unit layer (reference sky.py:10-41 validates
    arbitrary astropy Quantities; here a declared table, constant
    multiply to one canonical unit per dimension)."""
    from cosmap_spark.pipeline.config import UNIT_TABLE, quantity_to

    # length → canonical Mpc
    assert quantity_to({"value": 4.2e9, "units": "pc"}, "length") == pytest.approx(4200.0)
    assert quantity_to({"value": 2500.0, "units": "kpc"}, "length") == pytest.approx(2.5)
    # mass → canonical Msun
    assert quantity_to({"value": 1.988409870698051e30, "units": "kg"}, "mass") == pytest.approx(1.0)
    # flux → canonical Jy
    assert quantity_to({"value": 250.0, "units": "mJy"}, "flux") == pytest.approx(0.25)
    assert quantity_to({"value": 1e-26, "units": "W/m2/Hz"}, "flux") == pytest.approx(1.0)
    # time → canonical s
    assert quantity_to({"value": 2.0, "units": "hr"}, "time") == pytest.approx(7200.0)
    # round-trip through the table's own factor is exact (one multiply)
    for unit, (dim, factor) in UNIT_TABLE.items():
        if factor:
            v = quantity_to({"value": 3.5, "units": unit}, dim)
            assert v / factor == pytest.approx(3.5)
    # dimension mismatch raises (astropy UnitConversionError analog)
    with pytest.raises(ValueError, match="expected a length"):
        quantity_to({"value": 1.0, "units": "arcmin"}, "length")
    # bare number without a declared dimension is ambiguous
    with pytest.raises(ValueError, match="bare number"):
        quantity_to(3.0)
    with pytest.raises(ValueError, match="unknown unit"):
        quantity_to({"value": 1.0, "units": "furlong"}, "length")


def test_at_reference_resolution():
    tree = {
        "Main": {"radius": 2.5},
        "Analysis": {"min_radius": "@Main.radius", "also": "@Analysis.min_radius"},
    }
    out = resolve_references(tree)
    assert out["Analysis"]["min_radius"] == 2.5
    assert out["Analysis"]["also"] == 2.5


def test_at_reference_cycle_rejected():
    tree = {"A": {"x": "@B.y"}, "B": {"y": "@A.x"}}
    with pytest.raises(DagValidationError):
        resolve_references(tree)


def test_config_validates_sampling_units():
    cfg = load_config(
        {
            "name": "t",
            "sampling_parameters": {
                "n_samples": 10,
                "sample_dimensions": {"value": 120, "units": "arcmin"},
            },
        }
    )
    assert cfg.sampling_parameters.sample_dimensions == pytest.approx(2.0)


@pytest.mark.parametrize(
    "field,value",
    [
        ("sample_dimensions", 0),
        ("sample_dimensions", -1.0),
        ("sample_dimensions", float("nan")),
        ("sample_dimensions", {"value": -30, "units": "arcmin"}),
        ("dec_bounds", [-95.0, 10.0]),
        ("dec_bounds", [10.0, 90.5]),
        ("dec_bounds", [float("nan"), 10.0]),
    ],
)
def test_config_rejects_bad_sampling(field, value):
    """A non-positive or NaN radius would match no catalog row and a
    declination off the sphere would fold the patch back: both refuse at
    load, naming the field, instead of writing a silently wrong run."""
    with pytest.raises(ValueError, match=field):
        load_config({"sampling_parameters": {field: value}})


def test_config_keeps_negative_ra_for_wrap_patches():
    cfg = load_config({"sampling_parameters": {"ra_bounds": [-20.0, 20.0]}})
    assert cfg.sampling_parameters.ra_bounds == (-20.0, 20.0)


@pytest.mark.parametrize(
    "field,value", [("sample_shape", "Rectangle"), ("sample_type", "Grid")]
)
def test_default_sampler_refuses_what_it_does_not_draw(field, value):
    """The default sampler draws random circles only; any other
    sample_type or sample_shape refuses at build time, on the driver,
    before Spark is touched (hence no session here)."""
    analysis = Analysis(
        {"sampling_parameters": {field: value}},
        {"t": {"needed-data": ["catalog"], "is-output": True}},
        {"t": lambda catalog: catalog},
    )
    with pytest.raises(ValueError, match=field):
        analysis.build(None, None)


# --- variant overlay (reference manage.py:206-332 semantics) --------------


def test_combine_transformations_overwrites_whole_node():
    base = {"t1": {"needed-data": ["catalog"], "is-output": True}}
    overlay = {"t1": {"dependencies": {"x": "t0"}}}
    merged = combine_transformations(base, overlay)
    # node replaced entirely: base keys do NOT survive inside the node
    assert merged["t1"] == {"dependencies": {"x": "t0"}}


def test_combine_dicts_deep_right_biased():
    base = {"a": {"x": 1, "y": 2}, "b": 3}
    overlay = {"a": {"y": 20, "z": 30}}
    assert combine_dicts(base, overlay) == {"a": {"x": 1, "y": 20, "z": 30}, "b": 3}


def test_combine_with_mod_prefers_variant_impl():
    class Base:
        @staticmethod
        def f():
            return "base"

    class Mod:
        @staticmethod
        def f():
            return "mod"

    merged = combine_with_mod(
        {"implementations": Base, "transformations": {}, "parameters": {}},
        {"implementations": Mod},
    )
    assert merged["implementations"].f() == "mod"


# --- execution: native chain, per-sample UDF, bad-sample drop -------------


def _mini_samples(spark):
    return spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0), (3, 1.0)], "sample_id long, x double"
    )


def test_compile_pipeline_native_chain(spark):
    block = {
        "double_x": {"needed-data": ["catalog"]},
        "total": {"dependencies": {"d": "double_x"}, "is-output": True},
    }

    class Impls:
        @staticmethod
        def double_x(catalog):
            return catalog.withColumn("x2", F.col("x") * 2)

        @staticmethod
        def total(d):
            return d.groupBy("sample_id").agg(F.sum("x2").alias("t"))

    run = compile_pipeline(block, Impls)
    out = {r["sample_id"]: r["t"] for r in run({"catalog": _mini_samples(spark)}).collect()}
    assert out == {1: 60.0, 2: 10.0, 3: 2.0}


def test_per_sample_udf_and_bad_sample_drop(spark):
    block = {
        "per_sample_stat": {
            "needed-data": ["catalog"],
            "per-sample": True,
            "schema": "sample_id long, n long",
            "is-output": True,
        },
    }

    class Impls:
        @staticmethod
        def per_sample_stat(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) < 2:  # reference-style bad-sample rejection
                raise BadSampleError("too few rows")
            return pd.DataFrame(
                {"sample_id": [pdf["sample_id"].iloc[0]], "n": [len(pdf)]}
            )

    run = compile_pipeline(block, Impls)
    rows = {r["sample_id"]: r["n"] for r in run({"catalog": _mini_samples(spark)}).collect()}
    assert rows == {1: 2}  # samples 2 and 3 dropped, job alive


def test_parameter_injection(spark):
    block = {
        "scale": {
            "needed-data": ["catalog"],
            "needed-parameters": ["analysis_parameters.factor"],
            "is-output": True,
        },
    }

    class Impls:
        @staticmethod
        def scale(catalog, factor):
            return catalog.withColumn("x", F.col("x") * factor)

    run = compile_pipeline(
        block, Impls, parameters={"analysis_parameters": {"factor": 10.0}}
    )
    vals = sorted(r["x"] for r in run({"catalog": _mini_samples(spark)}).collect())
    assert vals == [10.0, 50.0, 100.0, 200.0]


def test_setup_block_exports_parameters():
    block = {
        "compute_threshold": {"needed-parameters": ["analysis_parameters.base"]},
        "derived": {
            "dependencies": {"t": "compute_threshold"},
            "output-name": "threshold",
        },
    }

    impls = {
        "compute_threshold": lambda base: base * 2,
        "derived": lambda t: t + 1,
    }
    params = run_setup_block(block, impls, {"analysis_parameters": {"base": 10}})
    assert params["analysis_parameters"]["threshold"] == 21


# --- SQL transformation nodes ---------------------------------------------


def test_sql_node_with_views_params_and_deps(spark):
    """A mixed DAG: native node -> SQL node consuming the dependency as
    a temp view plus a named :threshold parameter, hash-equal to the
    DataFrame formulation."""
    block = {
        "enrich": {
            "needed-data": ["catalog"],
            "is-output": False,
        },
        "summarize": {
            "dependencies": {"enriched": "enrich"},
            "needed-parameters": ["Thresholds.min_mag"],
            "sql": (
                "SELECT bucket, COUNT(*) AS n, "
                "CAST(ROUND(AVG(mag), 6) AS DOUBLE) AS avg_mag "
                "FROM enriched WHERE mag >= :min_mag "
                "GROUP BY bucket ORDER BY bucket"
            ),
            "is-output": True,
        },
    }

    def enrich(catalog):
        return catalog.select(
            (F.col("id") % 4).alias("bucket"),
            (F.col("id") * 0.5).alias("mag"),
        )

    cat = spark.range(1_000)
    run = compile_pipeline(
        block, {"enrich": enrich},
        parameters={"Thresholds": {"min_mag": 50.0}},
    )
    got = [(r["bucket"], r["n"], r["avg_mag"]) for r in run({"catalog": cat}).collect()]
    want = [
        (r["bucket"], r["n"], r["avg_mag"])
        for r in enrich(cat).where(F.col("mag") >= 50.0)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"),
             F.round(F.avg("mag"), 6).cast("double").alias("avg_mag"))
        .orderBy("bucket").collect()
    ]
    assert got == want and len(got) == 4


def test_sql_node_alias_reuse_does_not_corrupt_earlier_plan(spark):
    """Two SQL nodes registering the SAME view alias: the first node's
    captured plan must not change when the second rebinds the alias."""
    block = {
        "first": {"needed-data": ["t"], "sql": "SELECT COUNT(*) AS n FROM t",
                  "is-output": False},
        "second": {
            "needed-data": ["u"],
            "dependencies": {"t": "first"},
            "sql": "SELECT (SELECT n FROM t) AS prev_n, COUNT(*) AS n FROM u",
            "is-output": True,
        },
    }
    run = compile_pipeline(block, {})
    out = run({"t": spark.range(7), "u": spark.range(3)}).collect()
    assert [(r["prev_n"], r["n"]) for r in out] == [(7, 3)]


def test_sql_node_validation(spark):
    with pytest.raises(DagValidationError):
        compile_pipeline(
            {"a": {"sql": "SELECT 1", "per-sample": True, "is-output": True}},
            {},
        )
    with pytest.raises(DagValidationError):
        compile_pipeline({"a": {"sql": "   ", "is-output": True}}, {})
    run = compile_pipeline(
        {"a": {"sql": "SELECT 1 AS x", "is-output": True}}, {}
    )
    with pytest.raises(DagValidationError):
        run({})  # no DataFrame inputs to register


def test_sql_node_restores_session_views(spark):
    """A SQL node must leave the session's temp views exactly as it
    found them: same-named user views restored, DAG aliases dropped."""
    spark.range(3).createOrReplaceTempView("t")
    block = {
        "first": {"needed-data": ["t"], "sql": "SELECT COUNT(*) AS n FROM t",
                  "is-output": False},
        "second": {"dependencies": {"u": "first"},
                   "sql": "SELECT n FROM u", "is-output": True},
    }
    out = compile_pipeline(block, {})({"t": spark.range(7)}).collect()
    assert out[0]["n"] == 7  # the DAG's own 't' was used inside
    assert spark.table("t").count() == 3  # user's view restored
    assert not spark.catalog.tableExists("u")  # DAG alias dropped
    spark.catalog.dropTempView("t")


def test_sql_node_does_not_shadow_catalog_table(spark, tmp_path):
    """A needed-data alias matching a PERMANENT table must not leave a
    shadowing temp view behind (review finding: spark.table also
    resolves catalog tables, and 'restoring' one minted a leak)."""
    spark.sql("DROP TABLE IF EXISTS perm_events")
    spark.range(3).write.saveAsTable("perm_events")
    try:
        block = {
            "s": {"needed-data": ["perm_events"],
                  "sql": "SELECT COUNT(*) AS n FROM perm_events",
                  "is-output": True},
        }
        out = compile_pipeline(block, {})({"perm_events": spark.range(9)})
        assert out.collect()[0]["n"] == 9  # the DAG's own table won
        # no temp view left; the permanent table resolves again
        assert not any(
            t.isTemporary and t.name == "perm_events"
            for t in spark.catalog.listTables()
        )
        assert spark.table("perm_events").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS perm_events")


def test_badsample_guard_comma_bearing_schema():
    """decimal(10,2)/struct<...> schemas must parse into real column
    names — a naive split(',') shredded them and the guard's empty
    frame crashed Arrow conversion for the exact case it absorbs."""
    from cosmap_spark.pipeline.pipeline import BadSampleError, _badsample_guard

    def boom(pdf):
        raise BadSampleError("bad")

    guarded = _badsample_guard(
        boom, {}, "sample_id long, amount decimal(10,2), s struct<a:int,b:string>"
    )
    import pandas as pd

    out = guarded(pd.DataFrame({"x": [1]}))
    assert list(out.columns) == ["sample_id", "amount", "s"]
    assert len(out) == 0


def test_variant_setup_and_plugins_overlay():
    """A variant's setup block and plugins file must take effect —
    combine_with_mod silently kept the base's."""
    from cosmap_spark.pipeline.manage import combine_with_mod

    base = {
        "transformations": {"t": {}},
        "parameters": {"a": 1},
        "setup": {"s": {"needed-parameters": ["a"]}},
        "plugins_file": "/base/plugins.py",
    }
    mod = {
        "setup": {"s2": {"needed-parameters": ["a"]}},
        "plugins_file": "/variant/plugins.py",
    }
    out = combine_with_mod(base, mod)
    assert set(out["setup"]) == {"s", "s2"}  # node-whole overlay
    assert out["plugins_file"] == "/variant/plugins.py"
    # a variant WITHOUT those sections keeps the base's
    out2 = combine_with_mod(base, {"parameters": {"a": 2}})
    assert out2["setup"] == base["setup"]
    assert out2["plugins_file"] == "/base/plugins.py"


def test_setup_block_list_dependencies():
    """List-valued dependencies (the DAG-validated shape) must deliver
    a LIST of results, not crash on an unhashable key."""
    from cosmap_spark.pipeline.analysis import run_setup_block

    class Impl:
        @staticmethod
        def a():
            return 2

        @staticmethod
        def b():
            return 3

        @staticmethod
        def s(xs):
            return sum(xs)

    block = {
        "a": {"output": False},
        "b": {"output": False},
        "s": {"dependencies": {"xs": ["a", "b"]}},
    }
    params = run_setup_block(block, Impl, {"analysis_parameters": {}})
    assert params["analysis_parameters"]["s"] == 5


def test_registry_env_var_read_at_call_time(tmp_path, monkeypatch):
    """COSMAP_SPARK_REGISTRY set AFTER import must be honored — an
    import-time default silently wrote to the user's real registry."""
    import json

    from cosmap_spark.pipeline import manage

    monkeypatch.setenv("COSMAP_SPARK_REGISTRY", str(tmp_path / "reg.json"))
    d = tmp_path / "an"
    d.mkdir()
    (d / "transformations.json").write_text("{}")
    (d / "parameters.json").write_text(json.dumps({"name": "envtest"}))
    (d / "transformations.py").write_text("class Main: pass\n")
    manage.install_analysis(d)
    assert (tmp_path / "reg.json").exists()
    assert manage.list_analyses() == {"envtest": str(d)}
    manage.uninstall_analysis("envtest")
