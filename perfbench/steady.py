"""Steadiness check: run one workload once per seed and report, for each
end-to-end metric, the distance between the quartiles of its values as
a share of their median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload corpus_dedup --seeds 1-10

Runs are made one after another, never in parallel.  A spread above a
third of the bound is marked ``WIDE``, one above the bound ``OVER``.
``--log`` appends every raw result as a JSON line; two such logs of the
same code are compared with

    python3 perfbench/steady.py --workload corpus_dedup --compare A.jsonl B.jsonl

which prints, for each end-to-end metric, both medians, both spreads and
how much worse the second median is than the first, as a share of the
first, against the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["notes"] = [line for line in lines if line.startswith("#")]
    return result


def worse(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    change = (second - first) / first
    return change if better == "lower" else -change


def compare(manifest: dict, workload: str, logs: list[str]) -> int:
    sets = []
    for log in logs:
        with open(log) as f:
            sets.append([r for r in map(json.loads, f) if r["workload"] == workload])
    ok = all(sets)
    for m in manifest["end_to_end"]:
        values = [[r["metrics"][m["name"]]["value"] for r in runs] for runs in sets]
        meds = [statistics.median(v) for v in values]
        spreads = [spread(v) for v in values]
        w = worse(meds[0], meds[1], m["better"])
        mark = "ok" if w <= m["bound"] and max(spreads) <= m["bound"] else "OVER"
        ok = ok and mark == "ok"
        print(f"{m['name']:14s} medians {meds[0]:11.5g} {meds[1]:11.5g} {m['unit']:6s} "
              f"spreads {spreads[0]:.3f} {spreads[1]:.3f}  second worse by {w:+.3f}  "
              f"bound {m['bound']:.2f}  {mark}")
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--log", default=None)
    p.add_argument("--compare", nargs=2, metavar="LOG", default=None)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    if args.compare:
        return compare(manifest, args.workload, args.compare)
    results = []
    for seed in seeds(args.seeds):
        r = run_once(args.workload, seed, manifest["run_seconds"])
        results.append(r)
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              f"wall={r['wall_s']:.1f}s " + " ".join(
                  f"{k}={v['value']:.5g}" for k, v in r["metrics"].items()), flush=True)
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **r}) + "\n")
    ok = all(r["correct"] and not r["failed"] for r in results)
    for m in manifest["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(values)
        sp = spread(values)
        mark = "WIDE" if sp > m["bound"] / 3 else "ok"
        if sp > m["bound"]:
            mark, ok = "OVER", False
        print(f"{m['name']:14s} median {med:12.5g} {m['unit']:6s} spread {sp:.3f} "
              f"bound {m['bound']:.2f}  {mark}")
    print(f"max wall {max(r['wall_s'] for r in results):.1f}s, "
          f"mean wall {statistics.mean(r['wall_s'] for r in results):.1f}s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
