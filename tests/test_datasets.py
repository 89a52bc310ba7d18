"""Named-dataset registry tests (heinlein analog, reference
src/cosmap/dataset/plugins.py:20-32): name -> {path, format, columns}
resolution, projection pushdown, and the CLI surface."""

from __future__ import annotations

import pytest

from cosmap_spark.pipeline.errors import CosmapSparkError
from cosmap_spark.sources import datasets


@pytest.fixture()
def registry(tmp_path):
    return tmp_path / "known_datasets.json"


def test_register_resolve_roundtrip(registry):
    datasets.register_dataset(
        "survey", "/root/testdata/sf0.001/customer.parquet",
        columns=["c_custkey", "c_name"], registry=registry,
    )
    entry = datasets.resolve_dataset("survey", registry=registry)
    assert entry == {
        "path": "/root/testdata/sf0.001/customer.parquet",
        "format": "parquet",
        "columns": ["c_custkey", "c_name"],
    }
    with pytest.raises(CosmapSparkError, match="already registered"):
        datasets.register_dataset("survey", "/elsewhere", registry=registry)
    datasets.unregister_dataset("survey", registry=registry)
    with pytest.raises(CosmapSparkError, match="not registered"):
        datasets.resolve_dataset("survey", registry=registry)


def test_open_dataset_by_name_applies_projection(spark, registry):
    datasets.register_dataset(
        "survey", "/root/testdata/sf0.001/customer.parquet",
        columns=["c_custkey", "c_name"], registry=registry,
    )
    df = datasets.open_dataset(spark, "survey", registry=registry)
    assert df.columns == ["c_custkey", "c_name"]
    assert df.count() > 0
    # caller projection narrows further
    df2 = datasets.open_dataset(
        spark, "survey", columns=["c_custkey"], registry=registry
    )
    assert df2.columns == ["c_custkey"]


def test_open_dataset_falls_back_to_path(spark, registry):
    df = datasets.open_dataset(
        spark, "/root/testdata/sf0.001/region.parquet", registry=registry
    )
    assert df.count() == 5


def test_hdf5_dataset_requires_schema(registry):
    with pytest.raises(CosmapSparkError, match="schema"):
        datasets.register_dataset(
            "h5", "/tmp/nope", fmt="hdf5", registry=registry
        )


def test_cli_dataset_commands(registry, monkeypatch, capsys):
    from cosmap_spark.pipeline import cli

    monkeypatch.setenv("COSMAP_SPARK_DATASETS", str(registry))
    assert cli.main([
        "register-dataset", "survey", "/root/testdata/sf0.001/customer.parquet",
    ]) == 0
    assert cli.main(["datasets"]) == 0
    out = capsys.readouterr().out
    assert "survey" in out and "parquet" in out
    assert cli.main(["unregister-dataset", "survey"]) == 0
    assert datasets.list_datasets(registry=registry) == {}


def test_register_dataset_validates_format(tmp_path):
    import pytest

    from cosmap_spark.pipeline.errors import CosmapSparkError
    from cosmap_spark.sources.datasets import register_dataset

    with pytest.raises(CosmapSparkError, match="unsupported dataset format"):
        register_dataset(
            "typo", tmp_path, fmt="parqet", registry=tmp_path / "reg.json"
        )


def test_open_dataset_projection_narrows_not_widens(spark, tmp_path):
    """A caller column outside the registered projection is refused —
    the registration may exist to HIDE columns."""
    import pytest

    from cosmap_spark.pipeline.errors import CosmapSparkError
    from cosmap_spark.sources.datasets import open_dataset, register_dataset

    p = tmp_path / "t"
    spark.createDataFrame(
        [(1, 2.0, "secret")], "a long, b double, pii string"
    ).write.parquet(str(p))
    reg = tmp_path / "reg.json"
    register_dataset("vis", p, columns=["a", "b"], registry=reg)
    assert open_dataset(spark, "vis", registry=reg).columns == ["a", "b"]
    assert open_dataset(
        spark, "vis", columns=["a"], registry=reg
    ).columns == ["a"]
    with pytest.raises(CosmapSparkError, match="outside that projection"):
        open_dataset(spark, "vis", columns=["a", "pii"], registry=reg)


def test_dataset_registry_env_var_read_at_call_time(tmp_path, monkeypatch):
    """COSMAP_SPARK_DATASETS set AFTER import must be honored — an
    import-time default silently wrote to the user's real registry."""
    reg = tmp_path / "datasets.json"
    monkeypatch.setenv("COSMAP_SPARK_DATASETS", str(reg))
    datasets.register_dataset("envtest", "/data/survey.parquet")
    assert reg.exists()
    assert datasets.list_datasets() == {
        "envtest": {"path": "/data/survey.parquet", "format": "parquet"}
    }
    datasets.unregister_dataset("envtest")
    assert datasets.list_datasets() == {}
