"""Benchmark driver: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload sky_native --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  The process

1. pins its resources: ``local[min(cores, 4)]``, a 1 GiB driver heap,
   Spark scratch, temp files and the event log under
   ``.perfbench/`` in the checkout;
2. sets up several times (session start, seeded input generation,
   catalog ingest) and reports as ``setup_s`` the CPU seconds of the
   session start plus the median of the set-ups; the cold run comes
   right after the first set-up, so only set-up jobs precede it;
3. makes the workload's untimed warm-up runs, then its timed runs back
   to back: at least ``timed_runs`` of them and for at least
   ``--seconds``; each run starts after the previous output is
   committed and checked, and that output is deleted first;
4. with ``--trace 1``, makes as many traced runs after the timed ones;
   they time each layer under a span and materialize its output at the
   boundary, and Spark's counters are read from the event log.

Right before every run but the cold one, a fixed reference job runs:
plain Spark on seed-independent data, none of the program, in a
session with Spark's default SQL conf (``workloads.reference_job``).
``run_rel``, the gated speed metric, is the wall time of the timed
runs divided by that of the reference jobs run next to them.  On a
shared host the wall time and even the CPU time of a run follow the
neighbours' load, by 1.4-2x between minutes; the reference slows down
with the run, so the ratio moves much less.
The raw figures are printed but not gated: ``run_s`` (median wall
seconds of a timed run), ``items_per_s``, ``cold_run_s``, ``cpu_s``
(mean CPU seconds of a timed run over the process tree: this client,
the JVM and its Python workers), ``cpu_rel``, ``cold_cpu_s`` and
``setup_wall_s``.

It prints a table of every metric with its unit and, as the last line
of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``; a layer the workload does not
exercise reads 0).  The metric names and units come from
``BENCHMARK.json`` at the checkout root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
# The heap starts small and grows as the program needs it, so
# peak_rss_mb follows the program's heap use as well as its off-heap
# and Python-worker memory.
DRIVER_MEMORY = "1g"

#: end-to-end metrics that are printed but not in BENCHMARK.json
UNGATED_UNITS = {
    "setup_wall_s": "s", "run_s": "s", "items_per_s": "1/s", "cold_run_s": "s", "cold_cpu_s": "s",
    "cpu_s": "s", "cpu_rel": "ratio", "error_rate": "ratio",
}

#: per-layer metric -> the end-to-end metric it should move, and where
MOVES = {
    "session.start_s": "setup_s on every workload; cold_run_s (printed)",
    "sources.ingest_s": "setup_s on sky_native",
    "sources.scan_s": "run_rel on sky_native",
    "sources.rows_scanned": "run_rel on sky_native (scan pruning); no change on corpus_dedup",
    "sources.bytes_scanned": "run_rel on sky_native (scan pruning); no change on corpus_dedup",
    "sources.task_s": "run_rel on every workload",
    "sampler.generate_s": "run_rel on sky_native (control: negligible)",
    "sampler.task_s": "run_rel on sky_native (control: negligible)",
    "cone.join_s": "run_rel on sky_native (dominant)",
    "cone.pairs_out": "run_rel on sky_native",
    "cone.pairs_per_scanned_row": "run_rel on sky_native",
    "cone.task_s": "run_rel on sky_native",
    "pipeline.build_s": "cold_run_s (printed), run_rel on sky_native",
    "pipeline.plan_s": "cold_run_s (printed) on sky_native",
    "pipeline.exec_s": "run_rel on sky_native",
    "pipeline.groups": "run_rel on sky_native",
    "pipeline.task_s": "run_rel on sky_native",
    "sinks.write_s": "run_rel on every workload",
    "sinks.bytes_written": "out_bytes on every workload",
    "sinks.files_written": "out_bytes on every workload",
    "sinks.task_s": "run_rel on every workload",
    "dedup.exact_s": "run_rel on corpus_dedup",
    "dedup.minhash_s": "run_rel on corpus_dedup",
    "dedup.pairs_out": "run_rel on corpus_dedup",
    "dedup.cc_s": "run_rel on corpus_dedup",
    "dedup.cc_rounds": "run_rel on corpus_dedup",
    "dedup.recall": "error rate (failed/attempted) on corpus_dedup",
    "dedup.task_s": "run_rel on corpus_dedup",
    "spark.jobs": "run_rel on corpus_dedup",
    "spark.stages": "run_rel on corpus_dedup",
    "spark.tasks": "run_rel on corpus_dedup",
    "spark.shuffle_write_bytes": "run_rel on corpus_dedup; near zero on sky_native (broadcast join)",
    "spark.shuffle_read_bytes": "run_rel on corpus_dedup; near zero on sky_native (broadcast join)",
    "spark.spill_bytes": "run_rel on corpus_dedup",
    "spark.gc_s": "run_rel, peak_rss_mb on corpus_dedup",
    "spark.task_busy_frac": "run_s (printed) on every workload: the share of the wall time tasks ran",
    "trace.overhead_s": "none (traced run_s minus untraced run_s)",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return max(1, min(len(os.sched_getaffinity(0)), 4))


def source_hash(*paths: str) -> str:
    """Hash of the Python sources under ``paths`` (files or trees)."""
    h = hashlib.sha1()
    for path in paths:
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, n) for d, _, names in os.walk(path) for n in names if n.endswith(".py")
        )
        for name in files:
            h.update(os.path.relpath(name, ROOT).encode())
            with open(name, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user and system, spent by process ``root`` and all
    its descendants (the JVM and its Python workers), including children
    they have reaped; read from /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended meanwhile
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / tick


def spread(values: list[float]) -> float:
    """Distance between the quartiles as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


class Bench:
    def __init__(self, args, manifest: dict):
        self.args = args
        self.manifest = manifest
        self.n_cores = cores()
        self.top = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(self.top, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.dirs = {k: os.path.join(self.work, k) for k in ("local", "tmp", "eventlog", "warehouse")}
        self.out = os.path.join(self.work, "out")
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.runs: list[dict] = []

    # --- session -------------------------------------------------------------

    def start_session(self):
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        # before the JVM starts: Spark scratch, Python and JVM temp files
        # stay inside the checkout
        os.environ["SPARK_LOCAL_DIRS"] = self.dirs["local"]
        os.environ["TMPDIR"] = self.dirs["tmp"]
        os.environ["SPARK_GRAFT_CPUS"] = str(self.n_cores)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        import tempfile

        tempfile.tempdir = self.dirs["tmp"]
        from cosmap_spark.session import get_spark
        from tracing import event_log_conf

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.dirs['tmp']}"
            ),
            "spark.local.dir": self.dirs["local"],
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            **event_log_conf(self.dirs["eventlog"]),
        }
        spark = get_spark(f"perfbench-{self.args.workload}", master=f"local[{self.n_cores}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_session(self, spark) -> None:
        """Stop Spark and wait for the JVM and its workers to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # --- runs --------------------------------------------------------------------

    def one_run(self, wl, tracer, kind: str, held: list, check: bool = True) -> dict:
        """One run into an emptied output directory; with ``check=False``
        the caller checks the output later with ``check_run``."""
        shutil.rmtree(self.out, ignore_errors=True)
        rec = {"run_id": f"r{len(self.runs)}", "kind": kind, "ok": False, "counts": {}}
        self.attempted += 1
        self.runs.append(rec)
        if kind != "cold":
            self.reference(rec)
        cpu0 = tree_cpu_s(os.getpid())
        try:
            try:
                with tracer.run(rec["run_id"], kind) as sp:
                    if kind == "traced":
                        rec["counts"] = wl.traced_run(tracer, self.out, held)
                    else:
                        wl.run(self.out)
            finally:
                for df in held:
                    df.unpersist(blocking=True)
                held.clear()
        except Exception as exc:  # a failed run is counted, not fatal
            self.problems.append(f"{rec['run_id']}: {type(exc).__name__}: {exc}")
            self.failed += 1
            return rec
        rec["seconds"] = sp.seconds
        rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        if check:
            self.check_run(wl, rec)
        return rec

    def reference(self, rec: dict) -> None:
        """Run the reference job just before run ``rec`` and record its
        wall and CPU seconds with it."""
        from workloads import reference_job

        t, c = time.perf_counter(), tree_cpu_s(os.getpid())
        reference_job(self.ref_spark, self.ref_in, os.path.join(self.work, "ref_out"))
        rec["ref_s"] = time.perf_counter() - t
        rec["ref_cpu_s"] = tree_cpu_s(os.getpid()) - c

    def check_run(self, wl, rec: dict) -> None:
        """Check the output the run ``rec`` committed."""
        from workloads import output_files

        rec["files"], rec["bytes"] = output_files(self.out)
        try:
            ok, why = wl.check(self.out)
        except Exception as exc:
            ok, why = False, f"{type(exc).__name__}: {exc}"
        rec["ok"] = ok
        if not ok:
            self.failed += 1
            self.problems.append(f"{rec['run_id']}: {why}")

    def main(self) -> dict:
        from inputs import write_reference
        from tracing import EventLog, Tracer
        from workloads import REFERENCE_ROWS, WORKLOADS, reference_session

        args = self.args
        t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
        spark = self.start_session()
        self.session_start_s = time.perf_counter() - t0
        self.session_cpu_s = tree_cpu_s(os.getpid()) - c0
        try:
            tracer = Tracer(spark.sparkContext)
            wl = WORKLOADS[args.workload](spark, self.work, args.seed, self.n_cores)
            setup, setup_cpu, ingest, digests = [], [], [], []
            held: list = []
            cold = None
            for _ in range(SETUP_REPS):
                t, c = time.perf_counter(), tree_cpu_s(os.getpid())
                ingest.append(wl.generate())
                setup.append(time.perf_counter() - t)
                setup_cpu.append(tree_cpu_s(os.getpid()) - c)
                if cold is None:
                    # right after the first set-up, before the digest, the
                    # oracle and the other set-ups warm the JVM further
                    cold = self.one_run(wl, tracer, "cold", held, check=False)
                digests.append(wl.digest())
            if len(set(digests)) != 1:
                self.problems.append(f"same seed, different inputs: {digests}")
            self.digest = digests[0]
            self.setup_wall_s = self.session_start_s + statistics.median(setup)
            self.setup_reps = setup
            self.setup_s = self.session_cpu_s + statistics.median(setup_cpu)
            self.setup_cpu_reps = setup_cpu
            self.ingest_s = statistics.median(ingest)
            wl.prepare_check()
            self.ref_in = os.path.join(self.work, "ref_in")
            write_reference(spark, self.ref_in, n=REFERENCE_ROWS, partitions=self.n_cores)
            self.ref_spark = reference_session(spark, self.n_cores)
            self.items = wl.items
            if "seconds" in cold:
                self.check_run(wl, cold)
            for _ in range(wl.warmup_runs):
                self.one_run(wl, tracer, "warmup", held)
            window = args.seconds / 2 if args.trace else args.seconds
            for kind in ("warm", "traced") if args.trace else ("warm",):
                t_start, n = time.perf_counter(), 0
                while n < wl.timed_runs or time.perf_counter() - t_start < window:
                    self.one_run(wl, tracer, kind, held)
                    n += 1
        finally:
            self.stop_session(spark)
        self.events = EventLog(self.dirs["eventlog"])
        self.tracer = tracer
        return self.report()

    # --- metrics -------------------------------------------------------------------

    def ok_runs(self, kind: str) -> list[dict]:
        """Runs of ``kind`` that passed their check; when none did, every
        run that completed, so a wrong program still gets its figures
        (the result then says ``correct: false``)."""
        done = [r for r in self.runs if r["kind"] == kind and "seconds" in r]
        return [r for r in done if r["ok"]] or done

    def end_to_end(self) -> dict[str, float]:
        warm, cold = self.ok_runs("warm"), self.ok_runs("cold")
        if not warm or not cold:
            raise RuntimeError("no run completed: " + "; ".join(self.problems))
        run_s = statistics.median(r["seconds"] for r in warm)
        peak = max(self.events.group(r["run_id"])["peak_rss_bytes"] for r in warm)
        return {
            "setup_s": self.setup_s,
            "setup_wall_s": self.setup_wall_s,
            "run_s": run_s,
            "items_per_s": self.items / run_s,
            "cold_run_s": cold[0]["seconds"],
            "cpu_s": statistics.mean(r["cpu_s"] for r in warm),
            "run_rel": sum(r["seconds"] for r in warm) / sum(r["ref_s"] for r in warm),
            "cpu_rel": sum(r["cpu_s"] for r in warm) / sum(r["ref_cpu_s"] for r in warm),
            "cold_cpu_s": cold[0]["cpu_s"],
            "peak_rss_mb": peak / 1e6,
            "out_bytes": statistics.median(r["bytes"] for r in warm),
            "error_rate": self.failed / self.attempted,
        }

    def per_layer(self, e2e: dict[str, float]) -> dict[str, float]:
        m = {name: 0.0 for name in MOVES}
        warm, traced = self.ok_runs("warm"), self.ok_runs("traced")
        m["session.start_s"] = self.session_start_s
        if self.args.workload == "sky_native":
            m["sources.ingest_s"] = self.ingest_s
        # Spark counters of the untraced runs, median per run
        per_run = [self.events.group(r["run_id"]) for r in warm]

        def med(key: str) -> float:
            return statistics.median(g.get(key, 0.0) for g in per_run)

        for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
                    "spill_bytes", "gc_s"):
            m[f"spark.{key}"] = med(key)
        m["spark.task_busy_frac"] = statistics.median(
            g.get("task_s", 0.0) / (r["seconds"] * self.n_cores) for g, r in zip(per_run, warm)
        )
        m["sources.rows_scanned"] = med("input_records")
        m["sources.bytes_scanned"] = med("input_bytes")
        m["sinks.bytes_written"] = e2e["out_bytes"]
        m["sinks.files_written"] = statistics.median(r["files"] for r in warm)
        # layer spans of the traced runs, median per run: span
        # "layer.op" gives "layer.op_s" and adds to "layer.task_s"
        for span_name in sorted({s.name for s in self.tracer.spans if s.parent}):
            times, task_s = [], []
            for r in traced:
                spans = [s for s in self.tracer.spans if s.run_id == r["run_id"] and s.name == span_name]
                times.append(sum(s.seconds for s in spans))
                task_s.append(sum(self.events.group(s.span_id).get("task_s", 0.0) for s in spans))
            m[f"{span_name}_s"] = statistics.median(times)
            layer = span_name.split(".")[0]
            m[f"{layer}.task_s"] += statistics.median(task_s)
        counts = {k: statistics.median(r["counts"][k] for r in traced) for k in (traced[0]["counts"] if traced else {})}
        wl = self.args.workload
        if not traced:
            self.problems.append("no traced run completed")
        elif wl == "sky_native":
            m["cone.pairs_out"] = counts["pairs"]
            m["pipeline.groups"] = counts["groups"]
            m["cone.pairs_per_scanned_row"] = counts["pairs"] / max(1.0, m["sources.rows_scanned"])
        elif wl == "corpus_dedup":
            m["dedup.pairs_out"] = counts["pairs"]
            m["dedup.cc_rounds"] = counts["cc_rounds"]
            m["dedup.recall"] = counts["recall"]
        if traced:
            m["trace.overhead_s"] = statistics.median(r["seconds"] for r in traced) - e2e["run_s"]
        return m

    def determinism(self, m: dict[str, float]) -> None:
        """Same seed, same inputs and counts: within this process across
        runs, and across processes through a record in ``.perfbench``.
        The record keys the input digest by the generator's source, and
        the counts also by the source of the workloads and the program,
        so changed code starts a new record instead of failing."""
        seen = {r["files"] for r in self.ok_runs("warm")}
        if len(seen) > 1:
            self.problems.append(f"sinks.files_written varies between runs: {sorted(seen)}")
        seen = {r["counts"]["pairs"] for r in self.ok_runs("traced")}
        if len(seen) > 1:
            self.problems.append(f"pair count varies between runs: {sorted(seen)}")
        counts = {"sinks.files_written": statistics.median(r["files"] for r in self.ok_runs("warm"))}
        if self.args.trace:
            for key in ("cone.pairs_out", "dedup.pairs_out"):
                if m.get(key):
                    counts[key] = m[key]
        run = f"{self.args.workload}/{self.args.seed}"
        gen = source_hash(os.path.join(HERE, "inputs.py"))
        code = source_hash(os.path.join(HERE, "workloads.py"), os.path.join(ROOT, "cosmap_spark"))
        records = {f"inputs/{run}/{gen}": {"digest": self.digest}, f"counts/{run}/{gen}/{code}": counts}
        path = os.path.join(self.top, "determinism.json")
        try:
            with open(path) as f:
                known = json.load(f)
        except FileNotFoundError:
            known = {}
        for key, record in records.items():
            before = known.get(key, {})
            for k, v in record.items():
                if k in before and before[k] != v:
                    self.problems.append(f"{k} differs from an earlier run of this seed: {before[k]} != {v}")
            known[key] = {**before, **record}
        with open(path, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)

    def report(self) -> dict:
        e2e = self.end_to_end()
        trace = bool(self.args.trace)
        metrics_spec = self.manifest["per_layer" if trace else "end_to_end"]
        layer = self.per_layer(e2e) if trace else {}
        values = layer if trace else e2e
        self.determinism(layer)

        print(f"# workload {self.args.workload}  seed {self.args.seed}  local[{self.n_cores}]  "
              f"items {self.items}  input {self.digest}")
        print(f"# set-up: session {self.session_start_s:.3f} s, inputs "
              + ", ".join(f"{t:.3f}" for t in self.setup_reps) + " s")
        print(f"# set-up cpu: session {self.session_cpu_s:.3f} s, inputs "
              + ", ".join(f"{t:.3f}" for t in self.setup_cpu_reps) + " s")
        print("# run seconds: " + ", ".join(f"{r['kind']} {r.get('seconds', float('nan')):.3f}" for r in self.runs))
        print("# reference seconds: " + ", ".join(f"{r['kind']} {r.get('ref_s', float('nan')):.3f}/{r.get('ref_cpu_s', float('nan')):.3f}" for r in self.runs))
        print("# run cpu seconds: " + ", ".join(f"{r['kind']} {r.get('cpu_s', float('nan')):.3f}" for r in self.runs))
        print(f"# runs: {len(self.ok_runs('warm'))} warm, {len(self.ok_runs('traced'))} traced, "
              f"{self.attempted} attempted, {self.failed} failed")
        units = {**UNGATED_UNITS}
        units.update((m["name"], m["unit"]) for m in self.manifest["end_to_end"] + self.manifest["per_layer"])
        for name, v in e2e.items():
            print(f"{name:28s} {v:16.6g} {units[name]:8s}")
        bounds = {m["name"]: m["bound"] for m in self.manifest["end_to_end"]}
        timings = {
            # the first set-up also pays the cold JVM, hence its spread
            "setup_s": self.setup_cpu_reps,
            "run_s": [r["seconds"] for r in self.ok_runs("warm")],
            "run_rel": [r["seconds"] / r["ref_s"] for r in self.ok_runs("warm")],
            "traced run": [r["seconds"] for r in self.ok_runs("traced")],
        }
        for name, times in timings.items():
            if times:
                print(f"# steadiness: {name} spread {spread(times):.3f} over {len(times)} "
                      f"repetitions (bound {bounds.get(name, 'none')})")
        for name, v in layer.items():
            print(f"{name:28s} {v:16.6g} {units.get(name, ''):8s} -> {MOVES.get(name, '')}")
        for p in self.problems[:20]:
            print(f"# problem: {p}")
        if len(self.problems) > 20:
            print(f"# ... and {len(self.problems) - 20} more problems")

        os.makedirs(os.path.join(self.top, "spans"), exist_ok=True)
        extra = {s.span_id: {"spark": self.events.group(s.span_id)} for s in self.tracer.spans}
        self.tracer.dump(
            os.path.join(self.top, "spans", f"{self.args.workload}-{self.args.seed}-t{self.args.trace}.jsonl"),
            extra,
        )
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics_spec}
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    # the program under test comes from this checkout, never from
    # anything installed
    sys.path.insert(0, ROOT)
    import cosmap_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(cosmap_spark.__file__))) != ROOT:
        print(f"cosmap_spark imported from outside the checkout: {cosmap_spark.__file__}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    bench = Bench(args, manifest)
    try:
        result = bench.main()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
