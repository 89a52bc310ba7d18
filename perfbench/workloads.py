"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), runs
the program through its public entry points (``run``), runs the same
work again layer by layer under spans (``traced_run``), and checks a
run's committed output against an oracle that does not use the program
(``check``).

Why these two:

* ``sky_native`` — the paper's flagship path: many small cones over a
  dec -20..+20 patch through ``Analysis.run`` with a native DAG.  The
  catalog scan and the broadcast cone join dominate; it is the one
  workload where pruning the scan to the patch can show.
* ``corpus_dedup`` — exact dedup, MinHash-LSH pairs and connected
  components over a corpus with planted near-duplicates: the LLM-ops
  path, shuffle-heavy and iterative with many small jobs.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmap_spark.operators.cone_search import cone_search
from cosmap_spark.operators.dedup import dedup_clusters, exact_dedup, minhash_lsh_pairs
from cosmap_spark.operators.sampler import uniform_sphere_samples
from cosmap_spark.pipeline.analysis import Analysis
from cosmap_spark.pipeline.pipeline import compile_pipeline
from cosmap_spark.session import ENGINE_CONF
from cosmap_spark.sinks.writers import write_output
from cosmap_spark.sources.readers import ingest_catalog, read_catalog_source

import inputs

# Input sizes.  A warm run takes 1-5 s on a 4-core machine, so one
# benchmark process, with its set-up, takes about a minute.  Most of a
# run is fixed per-job cost and JIT warm-up at these sizes; larger
# corpora mainly add CPU-bound MinHash work.
SKY_OBJECTS = 400_000
CORPUS_DOCS = 4_000
CHECK_SAMPLES = 24  # seeded subset of samples checked against numpy
REFERENCE_ROWS = 300_000


def reference_session(spark: SparkSession, partitions: int) -> SparkSession:
    """A session of its own for the reference job, with Spark's default
    SQL conf in place of the program's, so that a change to the
    program's session conf cannot move the yardstick."""
    ref = spark.newSession()
    for key in ENGINE_CONF:
        try:
            ref.conf.unset(key)
        except Exception:  # a static conf is fixed for the whole JVM
            pass
    ref.conf.set("spark.sql.shuffle.partitions", str(partitions))
    return ref


def reference_job(spark: SparkSession, src: str, out: str) -> None:
    """A fixed plain-Spark job that uses none of the program: scan, two
    aggregations, a join and a parquet write, like the workloads.  Its
    time is the yardstick for how fast the host runs Spark right now."""
    df = spark.read.parquet(src)
    per_key = df.groupBy("k").agg(F.count("*").alias("n"), F.max("v").alias("m"))
    (
        df.join(per_key, "k")
        .where(F.col("v") * 2 > F.col("m"))
        .groupBy("k")
        .agg(F.sum("n").alias("t"), F.sum("v").alias("s"))
        .write.mode("overwrite")
        .parquet(out)
    )


def output_files(path: str) -> tuple[int, int]:
    """(data files, bytes) a sink committed under ``path``."""
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(root, name))
    return files, nbytes


def _keep(df: DataFrame, held: list) -> tuple[DataFrame, int]:
    """Materialize ``df`` at a layer boundary; returns it and its rows."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    held.append(df)
    return df, df.count()


class Workload:
    name = ""
    #: what one run processes, for items_per_s
    items = 0
    #: untimed runs after the cold one, then at least this many timed
    #: runs.  The JIT keeps cutting a run's time for several runs, so
    #: the timed runs should be the same runs of the process's life on
    #: every host: at the declared run_seconds the window is count-bound.
    warmup_runs = 0
    timed_runs = 3

    def __init__(self, spark: SparkSession, work_dir: str, seed: int, partitions: int):
        self.spark = spark
        self.seed = seed
        self.partitions = partitions
        self.inputs = os.path.join(work_dir, "inputs")

    def _in(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def generate(self) -> float:
        """Write the seeded inputs; returns seconds spent in ingest."""
        raise NotImplementedError

    def digest(self) -> str:
        raise NotImplementedError

    def prepare_check(self) -> None:
        """Build the oracle once, after set-up; not timed."""

    def run(self, out: str) -> None:
        raise NotImplementedError

    def traced_run(self, tracer, out: str, held: list) -> dict:
        """Layer-by-layer run; returns counts observed at boundaries."""
        raise NotImplementedError

    def check(self, out: str) -> tuple[bool, str]:
        raise NotImplementedError


# --- sky -------------------------------------------------------------------------


class NativeDag:
    """Two native nodes, the quickstart shape."""

    @staticmethod
    def with_sep(catalog):
        return catalog.withColumn("sep_arcsec", F.col("sep_deg") * 3600.0)

    @staticmethod
    def per_sample(with_sep):
        return with_sep.groupBy("sample_id").agg(
            F.max("s_ra").alias("s_ra"),
            F.max("s_dec").alias("s_dec"),
            F.count("*").alias("n_objects"),
            F.sum("mag").alias("sum_mag"),
            F.sum("sep_arcsec").alias("sum_sep_arcsec"),
        )


class SkyNative(Workload):
    name = "sky_native"
    n_samples = items = 10_000
    warmup_runs, timed_runs = 2, 5
    radius_deg = 0.5
    dec_bounds = (-20.0, 20.0)
    transformations = {
        "with_sep": {"needed-data": ["catalog"]},
        "per_sample": {"dependencies": {"with_sep": "with_sep"}, "is-output": True},
    }
    implementations = NativeDag

    def generate(self) -> float:
        inputs.write_sky_catalog(
            self.spark, self._in("catalog_raw"), n=SKY_OBJECTS, seed=self.seed,
            partitions=self.partitions,
        )
        t = time.perf_counter()
        ingest_catalog(read_catalog_source(self.spark, self._in("catalog_raw")), self._in("catalog"))
        return time.perf_counter() - t

    def digest(self) -> str:
        return inputs.digest(self.spark.read.parquet(self._in("catalog_raw")))

    def config(self, out: str) -> dict:
        return {
            "name": self.name,
            "sampling_parameters": {
                "n_samples": self.n_samples,
                "sample_dimensions": self.radius_deg,
                "dec_bounds": list(self.dec_bounds),
                "seed": self.seed,
            },
            "dataset_parameters": {"columns": ["mag"]},
            "output_parameters": {"path": out, "mode": "overwrite"},
        }

    def run(self, out: str) -> None:
        catalog = read_catalog_source(self.spark, self._in("catalog"))
        Analysis(self.config(out), self.transformations, self.implementations).run(
            self.spark, catalog
        )

    def traced_run(self, tracer, out: str, held: list) -> dict:
        with tracer.span("pipeline.build"):
            analysis = Analysis(self.config(out), self.transformations, self.implementations)
            built = analysis.build(self.spark, read_catalog_source(self.spark, self._in("catalog")))
        with tracer.span("pipeline.plan"):
            built._jdf.queryExecution().executedPlan()
        with tracer.span("sources.scan"):
            cat, rows = _keep(
                read_catalog_source(self.spark, self._in("catalog"), columns=["ra", "dec", "mag"]),
                held,
            )
        sp = analysis.config.sampling_parameters
        with tracer.span("sampler.generate"):
            samples, _ = _keep(
                uniform_sphere_samples(
                    self.spark, sp.n_samples, seed=sp.seed, radius_deg=sp.sample_dimensions,
                    ra_bounds=tuple(sp.ra_bounds), dec_bounds=tuple(sp.dec_bounds),
                ),
                held,
            )
        with tracer.span("cone.join"):
            joined, pairs = _keep(cone_search(cat, samples), held)
        with tracer.span("pipeline.exec"):
            run = compile_pipeline(
                self.transformations, self.implementations,
                parameters=analysis.config.model_dump(),
            )
            result, groups = _keep(run({"catalog": joined, "samples": samples}), held)
        with tracer.span("sinks.write"):
            write_output(result, out, mode="overwrite")
        return {"rows_scanned": rows, "pairs": pairs, "groups": groups}

    # oracle: a dec-sorted numpy copy of the catalog, read with pyarrow
    def prepare_check(self) -> None:
        t = pq.read_table(self._in("catalog_raw"), columns=["ra", "dec", "mag"])
        order = np.argsort(t["dec"].to_numpy())
        self._dec = t["dec"].to_numpy()[order]
        self._ra = t["ra"].to_numpy()[order]
        self._mag = t["mag"].to_numpy()[order]
        rng = np.random.default_rng(self.seed)
        self._check_ids = [int(i) for i in rng.choice(self.n_samples, CHECK_SAMPLES, replace=False)]

    def _cone(self, s_ra: float, s_dec: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(sep, mag, certain) of candidates near the cone; ``certain``
        is False for objects within 1e-9 deg of the rim, where float
        rounding may legitimately go either way."""
        r = self.radius_deg
        lo, hi = np.searchsorted(self._dec, [s_dec - r - 1e-6, s_dec + r + 1e-6])
        ra, dec, mag = self._ra[lo:hi], self._dec[lo:hi], self._mag[lo:hi]
        d1, d2 = np.radians(s_dec), np.radians(dec)
        h = np.sin((d2 - d1) / 2) ** 2 + np.cos(d1) * np.cos(d2) * np.sin(np.radians(ra - s_ra) / 2) ** 2
        sep = 2.0 * np.degrees(np.arcsin(np.sqrt(np.minimum(1.0, h))))
        near = sep <= r + 1e-9
        return sep[near], mag[near], np.abs(sep[near] - r) > 1e-9

    def check(self, out: str) -> tuple[bool, str]:
        res = self.spark.read.parquet(out)
        n = res.count()
        # a cone may hold no object (then it has no output row), but at
        # these densities that is rare
        if not self.n_samples * 0.995 <= n <= self.n_samples:
            return False, f"{n} output rows for {self.n_samples} samples"
        rows = res.where(F.col("sample_id").isin(self._check_ids)).collect()
        if len(rows) < CHECK_SAMPLES // 2:
            return False, f"only {len(rows)} of the checked samples in the output"
        for row in rows:
            if not self.dec_bounds[0] <= row["s_dec"] <= self.dec_bounds[1]:
                return False, f"sample {row['sample_id']} centre outside the patch"
            sep, mag, certain = self._cone(row["s_ra"], row["s_dec"])
            if not certain.sum() <= row["n_objects"] <= len(sep):
                return False, f"sample {row['sample_id']}: {row['n_objects']} objects, numpy {len(sep)}"
            if certain.all() and not self.values_match(row, sep, mag):
                return False, f"sample {row['sample_id']}: aggregates differ from numpy"
        return True, ""

    def values_match(self, row, sep: np.ndarray, mag: np.ndarray) -> bool:
        return bool(
            np.isclose(row["sum_mag"], mag.sum(), rtol=1e-9)
            and np.isclose(row["sum_sep_arcsec"], (sep * 3600.0).sum(), rtol=1e-9, atol=1e-6)
        )


# --- corpus dedup -------------------------------------------------------------


def _drop_list(docs: DataFrame, kept: DataFrame, clusters: DataFrame) -> DataFrame:
    """Exact copies that lost to their canonical id, plus every
    near-duplicate cluster member that is not the cluster's minimum."""
    exact_drops = docs.join(kept, "doc_id", "left_anti").select(F.col("doc_id").alias("id"))
    near_drops = clusters.where(F.col("id") != F.col("cluster_id")).select("id")
    return exact_drops.unionByName(near_drops)


def _canonical(docs: DataFrame) -> DataFrame:
    canon = exact_dedup(docs).select(F.col("canonical_id").alias("doc_id"))
    return docs.join(canon, "doc_id", "left_semi")


class CorpusDedup(Workload):
    name = "corpus_dedup"
    items = CORPUS_DOCS
    warmup_runs, timed_runs = 3, 3
    min_recall = 0.99

    def generate(self) -> float:
        inputs.write_corpus(
            self.spark, self._in("corpus"), n=CORPUS_DOCS, seed=self.seed,
            partitions=self.partitions,
        )
        return 0.0

    def digest(self) -> str:
        return inputs.digest(self.spark.read.parquet(self._in("corpus")))

    def prepare_check(self) -> None:
        n_base, _ = inputs.corpus_split(CORPUS_DOCS)
        self._dups = set(range(n_base, CORPUS_DOCS))
        self._planted = inputs.planted_near_pairs(self.spark, n=CORPUS_DOCS, seed=self.seed)

    def run(self, out: str) -> None:
        docs = read_catalog_source(self.spark, self._in("corpus"))
        kept = _canonical(docs)
        clusters = dedup_clusters(minhash_lsh_pairs(kept))
        write_output(_drop_list(docs, kept, clusters), out, mode="overwrite")

    def traced_run(self, tracer, out: str, held: list) -> dict:
        with tracer.span("sources.scan"):
            docs, n_docs = _keep(read_catalog_source(self.spark, self._in("corpus")), held)
        with tracer.span("dedup.exact"):
            kept, _ = _keep(_canonical(docs), held)
        with tracer.span("dedup.minhash"):
            pairs, n_pairs = _keep(minhash_lsh_pairs(kept), held)
        with tracer.span("dedup.cc"):
            stats: dict = {}
            clusters, _ = _keep(dedup_clusters(pairs, _stats=stats), held)
        with tracer.span("sinks.write"):
            write_output(_drop_list(docs, kept, clusters), out, mode="overwrite")
        found = {(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()}
        return {
            "rows_scanned": n_docs,
            "pairs": n_pairs,
            "cc_rounds": stats.get("rounds", 0),
            "recall": len(found & self._planted) / max(1, len(self._planted)),
        }

    def check(self, out: str) -> tuple[bool, str]:
        dropped = [r["id"] for r in self.spark.read.parquet(out).collect()]
        drops = set(dropped)
        if len(drops) != len(dropped):
            return False, "drop list repeats ids"
        if not drops <= self._dups:
            return False, f"{len(drops - self._dups)} dropped documents were not planted duplicates"
        recall = len(drops) / len(self._dups)
        if recall < self.min_recall:
            return False, f"dropped {recall:.4f} of the planted duplicates"
        return True, ""


WORKLOADS = {w.name: w for w in (SkyNative, CorpusDedup)}
