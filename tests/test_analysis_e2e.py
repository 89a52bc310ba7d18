"""End-to-end analysis run: an installed analysis directory (the
reference's packaging unit) driving sample → cone join → per-sample agg,
plus registry/CLI operations — the README quickstart
(/root/reference/README.md:55-174) reshaped as one Spark plan."""

from __future__ import annotations

import json
import textwrap
from pathlib import Path

import pytest

from cosmap_spark.pipeline import manage
from cosmap_spark.pipeline.analysis import Analysis
from cosmap_spark.pipeline.cli import main as cli_main
from cosmap_spark.pipeline.errors import CosmapSparkError

QUICKSTART_PY = textwrap.dedent(
    '''
    from pyspark.sql import functions as F


    class Main:
        """Quickstart transformations (reference README.md:60-74): the
        cone join already provides sep_deg per (sample, object)."""

        @staticmethod
        def compute_radius(catalog):
            return catalog.withColumn("sep_arcsec", F.col("sep_deg") * 3600.0)

        @staticmethod
        def compute_result(with_radius, min_radius):
            far = with_radius.where(F.col("sep_deg") > min_radius)
            return far.groupBy("sample_id").agg(
                F.count("*").alias("n_objects"),
                F.round(F.sum("sep_arcsec"), 4).alias("total_arcsec"),
            )
    '''
)

TRANSFORMS = {
    "compute_radius": {"needed-data": ["catalog"]},
    "compute_result": {
        "dependencies": {"with_radius": "compute_radius"},
        "needed-parameters": ["analysis_parameters.min_radius"],
        "is-output": True,
    },
}

PARAMETERS = {
    "name": "quickstart",
    "sampling_parameters": {
        "n_samples": 50,
        "sample_dimensions": {"value": 180, "units": "arcmin"},
        "seed": 7,
    },
    "analysis_parameters": {"min_radius": 0.1},
}


@pytest.fixture()
def analysis_dir(tmp_path: Path) -> Path:
    d = tmp_path / "quickstart"
    d.mkdir()
    (d / "transformations.json").write_text(json.dumps(TRANSFORMS))
    (d / "parameters.json").write_text(json.dumps(PARAMETERS))
    (d / "transformations.py").write_text(QUICKSTART_PY)
    return d


def test_registry_roundtrip(analysis_dir: Path, tmp_path: Path):
    reg = tmp_path / "reg.json"
    name = manage.install_analysis(analysis_dir, registry=reg)
    assert name == "quickstart"
    assert manage.locate_analysis("quickstart", registry=reg) == analysis_dir
    with pytest.raises(CosmapSparkError):  # duplicate install rejected
        manage.install_analysis(analysis_dir, registry=reg)
    manage.uninstall_analysis("quickstart", registry=reg)
    assert manage.list_analyses(registry=reg) == {}


def test_manifest_enforced(tmp_path: Path):
    d = tmp_path / "broken"
    d.mkdir()
    (d / "parameters.json").write_text("{}")
    with pytest.raises(CosmapSparkError, match="missing required files"):
        manage.verify_analysis_directory(d)


def test_quickstart_end_to_end(spark, analysis_dir: Path):
    from cosmap_spark.tables import catalog_df

    loaded = manage.load_analysis_files(analysis_dir)
    analysis = Analysis(
        loaded["parameters"], loaded["transformations"], loaded["implementations"]
    )
    catalog = catalog_df(spark, "/root/testdata/sf0.001")
    result = analysis.build(spark, catalog)
    rows = result.collect()
    assert len(rows) > 0
    assert set(result.columns) == {"sample_id", "n_objects", "total_arcsec"}
    assert all(r["n_objects"] > 0 for r in rows)
    # determinism: hash-seeded sampler ⇒ identical rerun
    rows2 = analysis.build(spark, catalog).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_cli_install_list_locate(analysis_dir: Path, tmp_path: Path, monkeypatch, capsys):
    monkeypatch.setenv("COSMAP_SPARK_REGISTRY", str(tmp_path / "cli_reg.json"))
    import importlib

    importlib.reload(manage)  # pick up the env registry path
    try:
        assert cli_main(["install", str(analysis_dir)]) == 0
        assert "quickstart" in capsys.readouterr().out
        assert cli_main(["list"]) == 0
        assert "quickstart" in capsys.readouterr().out
        assert cli_main(["locate", "quickstart"]) == 0
        assert str(analysis_dir) in capsys.readouterr().out
        assert cli_main(["uninstall", "quickstart"]) == 0
    finally:
        monkeypatch.delenv("COSMAP_SPARK_REGISTRY")
        importlib.reload(manage)


def test_quickstart_sql_node_equivalent(spark, analysis_dir: Path):
    """The quickstart's output node rewritten as a SQL transformation
    (pipeline round-3 surface) produces exactly the Python-node rows —
    a reference user can bring plain SQL instead of code."""
    from cosmap_spark.tables import catalog_df

    loaded = manage.load_analysis_files(analysis_dir)
    sql_transforms = {
        "compute_radius": {"needed-data": ["catalog"]},
        "compute_result": {
            "dependencies": {"with_radius": "compute_radius"},
            "needed-parameters": ["analysis_parameters.min_radius"],
            "sql": (
                "SELECT sample_id, COUNT(*) AS n_objects, "
                "ROUND(SUM(sep_arcsec), 4) AS total_arcsec "
                "FROM with_radius WHERE sep_deg > :min_radius "
                "GROUP BY sample_id"
            ),
            "is-output": True,
        },
    }
    catalog = catalog_df(spark, "/root/testdata/sf0.001")
    base = Analysis(
        loaded["parameters"], loaded["transformations"],
        loaded["implementations"],
    ).build(spark, catalog).collect()
    via_sql = Analysis(
        loaded["parameters"], sql_transforms, loaded["implementations"]
    ).build(spark, catalog).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, via_sql))


def test_run_writes_through_the_sink_formats(
    spark, analysis_dir: Path, tmp_path: Path
):
    """Analysis.run writes through sinks.writers.write_output: an orc
    output is really orc, and an unknown format refuses before any
    output exists instead of silently writing parquet."""
    from cosmap_spark.tables import catalog_df

    from .conftest import SF_DIR

    loaded = manage.load_analysis_files(analysis_dir)
    catalog = catalog_df(spark, SF_DIR)

    def run(fmt: str, out: Path):
        params = {**loaded["parameters"],
                  "output_parameters": {"path": str(out), "format": fmt}}
        return Analysis(
            params, loaded["transformations"], loaded["implementations"]
        ).run(spark, catalog)

    orc_out = tmp_path / "out_orc"
    result = run("orc", orc_out)
    assert sorted(map(tuple, spark.read.orc(str(orc_out)).collect())) == \
        sorted(map(tuple, result.collect()))

    bad_out = tmp_path / "out_bad"
    with pytest.raises(ValueError, match="unsupported sink format 'xml'"):
        run("xml", bad_out)
    assert not bad_out.exists()
