"""Run the benchmark k times per workload, or compare two sets of runs.

    python3 perfbench/repeat.py run --runs 10 --out .perfbench_out/base.json
    python3 perfbench/repeat.py run --runs 2 --seed 4242 --trace 1 --out t.json
    python3 perfbench/repeat.py summary .perfbench_out/base.json
    python3 perfbench/repeat.py compare .perfbench_out/base.json .perfbench_out/new.json

``run`` executes run.py once per (seed, workload), seeds first_seed,
first_seed + 1, ..., workloads interleaved, and prints for every metric
the median, first and third quartile and the quartile spread as a share
of the median (``statistics.quantiles(values, n=4)``). ``compare``
prints both sets' medians, the change as a share of the first median
(positive = worse) and, for end-to-end metrics, whether the change is
within the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode in (0, 1) and lines else None
    if result is None:
        sys.stderr.write(proc.stderr[-4000:])
    return {"workload": workload, "seed": seed, "trace": trace, "exit": proc.returncode,
            "wall_s": wall, "result": result}


def spread(values: list) -> tuple:
    """(median, q1, q3, (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def by_metric(runs: list) -> dict:
    """{(workload, metric): [values]} over the runs that printed a result."""
    out: dict = {}
    for r in runs:
        if r["result"] is None:
            continue
        for name, m in r["result"]["metrics"].items():
            out.setdefault((r["workload"], name), []).append(m["value"])
    return out


def summary(runs: list) -> None:
    bad = [r for r in runs if r["exit"] != 0]
    for r in bad:
        print(f"run {r['workload']} seed {r['seed']} exited {r['exit']}")
    walls = [r["wall_s"] for r in runs]
    print(f"{len(runs)} runs, wall per run median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    print(f"{'workload':12s} {'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s}")
    for (wl, name), values in sorted(by_metric(runs).items()):
        med, q1, q3, rel = spread(values)
        print(f"{wl:12s} {name:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} {rel:8.3f}")


def compare(a: list, b: list) -> None:
    spec = {m["name"]: m for m in load_spec()["end_to_end"]}
    va, vb = by_metric(a), by_metric(b)
    print(f"{'workload':12s} {'metric':28s} {'median A':>12s} {'median B':>12s} "
          f"{'worse by':>9s} {'iqr A':>7s} {'bound':>6s}")
    for key in sorted(set(va) & set(vb)):
        wl, name = key
        ma, _, _, rel_a = spread(va[key])
        mb = statistics.median(vb[key])
        m = spec.get(name)
        sign = -1 if m and m["better"] == "higher" else 1
        worse = sign * (mb - ma) / ma if ma else 0.0
        bound = f"{m['bound']:6.2f}" if m else "     -"
        verdict = ("" if not m else "ok" if worse <= m["bound"] else "REGRESSED")
        print(f"{wl:12s} {name:28s} {ma:12.4f} {mb:12.4f} {worse:9.3f} "
              f"{rel_a:7.3f} {bound} {verdict}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed", type=int, default=1, help="first seed")
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, choices=[0, 1], default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("file")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()

    if args.cmd == "run":
        spec = load_spec()
        workloads = args.workloads or [w["name"] for w in spec["workloads"]]
        seconds = args.seconds or spec["run_seconds"]
        runs = []
        for i in range(args.runs):
            for wl in workloads:
                runs.append(run_once(wl, args.seed + i, seconds, args.trace))
                print(f"{wl} seed {args.seed + i}: exit {runs[-1]['exit']}, "
                      f"{runs[-1]['wall_s']:.1f} s", flush=True)
                with open(args.out, "w") as f:
                    json.dump(runs, f, indent=1)
        summary(runs)
        return 0 if all(r["exit"] == 0 for r in runs) else 1
    if args.cmd == "summary":
        with open(args.file) as f:
            summary(json.load(f))
        return 0
    with open(args.a) as f, open(args.b) as g:
        compare(json.load(f), json.load(g))
    return 0


if __name__ == "__main__":
    sys.exit(main())
