"""Plugin hook tests (reference O31 semantics: firstresult, unique,
request-by-name) + TOML config ingestion (O4 suffix dispatch)."""

from __future__ import annotations

import pytest

from cosmap_spark.pipeline import plugins
from cosmap_spark.pipeline.errors import CosmapSparkError


@pytest.fixture(autouse=True)
def clean_hooks():
    yield
    for h in plugins.KNOWN_HOOKS:
        plugins.unregister(h)


def test_unknown_hook_rejected():
    with pytest.raises(CosmapSparkError, match="unknown hook"):
        plugins.register("made_up_hook", lambda: None)
    # the reference's task-generation hook has no call site in the
    # engine: registering it must fail, not be silently ignored
    with pytest.raises(CosmapSparkError, match="unknown hook"):
        plugins.register("generate_tasks", lambda: None)


def test_unique_registration():
    plugins.register("generate_samples", lambda spark, sp: "first")
    with pytest.raises(CosmapSparkError, match="already has"):
        plugins.register("generate_samples", lambda spark, sp: "second")
    plugins.register("generate_samples", lambda spark, sp: "forced", replace=True)
    assert plugins.call("generate_samples", None, None) == "forced"


def test_default_fallback():
    assert plugins.call("cone_strategy", 1, 2, default=lambda a, b: a + b) == 3
    with pytest.raises(CosmapSparkError, match="no implementation"):
        plugins.request("cone_strategy")


def test_sampler_hook_overrides_analysis(spark):
    """A registered generate_samples plugin replaces the uniform sampler
    inside Analysis.build (the reference's plugin use-case).  It gets the
    sampling parameters as configured, including a sample_shape the
    default sampler refuses."""
    from cosmap_spark.pipeline.analysis import Analysis
    from cosmap_spark.tables import catalog_df

    seen = []

    @plugins.register("generate_samples")
    def fixed_grid(spark_, sampling):
        seen.append(sampling.sample_shape)
        return spark_.createDataFrame(
            [(0, 137.508, 13.654584745987911, 5.0)],
            "sample_id long, ra double, dec double, radius_deg double",
        )

    analysis = Analysis(
        {
            "name": "hooked",
            "sampling_parameters": {"n_samples": 999, "sample_shape": "Rectangle"},
        },
        {
            "count_objects": {
                "needed-data": ["catalog"],
                "is-output": True,
            }
        },
        {
            "count_objects": lambda catalog: catalog.groupBy("sample_id").count()
        },
    )
    rows = analysis.build(
        spark, catalog_df(spark, "/root/testdata/sf0.001")
    ).collect()
    # one fixed sample centered exactly on object 1's position
    assert len(rows) == 1 and rows[0]["sample_id"] == 0 and rows[0]["count"] >= 1
    assert seen == ["Rectangle"]


def test_toml_run_config(tmp_path):
    from cosmap_spark.pipeline.cli import _load_run_config

    f = tmp_path / "run.toml"
    f.write_text('["base-analysis"]\n', encoding="utf-8")
    f.write_text('"base-analysis" = "quickstart"\n[sampling_parameters]\nn_samples = 5\n')
    cfg = _load_run_config(str(f))
    assert cfg["base-analysis"] == "quickstart"
    assert cfg["sampling_parameters"]["n_samples"] == 5


def test_load_external_plugins_from_file(spark, tmp_path):
    """A file-based module's generate_samples hook is discovered,
    registered, and actually used by the Analysis run (the reference's
    external-plugin registry behavior, plugins/manage.py:24-58)."""
    from cosmap_spark.pipeline.analysis import Analysis
    from cosmap_spark.tables import catalog_df

    plug = tmp_path / "my_plugins.py"
    plug.write_text(
        "def generate_samples(spark, sampling):\n"
        "    return spark.createDataFrame(\n"
        "        [(7, 137.508, 13.654584745987911, 5.0)],\n"
        "        'sample_id long, ra double, dec double, radius_deg double')\n"
    )
    loaded = plugins.load_external(str(plug))
    assert loaded == ["generate_samples"]
    analysis = Analysis(
        {"name": "ext", "sampling_parameters": {"n_samples": 999}},
        {"count_objects": {"needed-data": ["catalog"], "is-output": True}},
        {"count_objects": lambda catalog: catalog.groupBy("sample_id").count()},
    )
    rows = analysis.build(spark, catalog_df(spark, "/root/testdata/sf0.001")).collect()
    assert len(rows) == 1 and rows[0]["sample_id"] == 7


def test_load_plugin_registry_json(tmp_path):
    """JSON registry {hook: 'file.py:attr'} — the plugins.json shape."""
    import json

    plug = tmp_path / "mod.py"
    plug.write_text("def my_cone(catalog, samples):\n    return 'joined'\n")
    reg = tmp_path / "plugins.json"
    reg.write_text(json.dumps({"cone_strategy": f"{plug}:my_cone"}))
    assert plugins.load_plugin_registry(str(reg)) == ["cone_strategy"]
    assert plugins.call("cone_strategy", None, None) == "joined"
    with pytest.raises(CosmapSparkError, match="unknown hook"):
        bad = tmp_path / "bad.json"
        bad.write_text(json.dumps({"nope": f"{plug}:my_cone"}))
        plugins.load_plugin_registry(str(bad))


def test_analysis_dir_plugins_picked_up(tmp_path):
    """An analysis directory shipping plugins.py surfaces it through
    load_analysis_files for the runner to register."""
    from cosmap_spark.pipeline import manage

    d = tmp_path / "ana"
    d.mkdir()
    (d / "transformations.json").write_text("{}")
    (d / "parameters.json").write_text('{"name": "ana"}')
    (d / "transformations.py").write_text("class Main:\n    pass\n")
    (d / "plugins.py").write_text("def generate_samples(spark, sampling):\n    return 1\n")
    out = manage.load_analysis_files(d)
    assert out["plugins_file"] == str(d / "plugins.py")
    assert plugins.load_external(out["plugins_file"]) == ["generate_samples"]
