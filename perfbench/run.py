"""Event-path benchmark for eventstorm_spark.

    python3 perfbench/run.py --workload append_only --seed 1 --seconds 30 --trace 0

Run from the repository root. Starts a local Spark session pinned to the
host's cores, bootstraps a seeded event log, warms up, then runs whole
cycles of the workload for about --seconds. The correctness checks run
after the timed phase. The last stdout line is one JSON object: with
--trace 0 it carries the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics taken from spans and Spark job groups
around every call into the program. Exits 1 when an operation or a
check failed, 2 when the program is not there to be measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from spans import Tracer, p50, p90

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYERS = ("log.store", "log.plan", "projections.materialize",
          "streaming.subscriptions", "bench")


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["append_only", "event_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def start_session(workdir: str, cpus: int):
    """local[cpus] with shuffle partitions = cpus; every scratch file
    Spark or a Python worker writes stays under workdir."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from eventstorm_spark import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(wl, tracer, timed_s: float, events: int) -> dict:
    return {
        "setup_s": (wl.setup["setup_s"], "s"),
        "append_events_per_s": (events / timed_s, "1/s"),
        "ops_per_s": (tracer.ops / timed_s, "1/s"),
    }


def self_shares(tracer, timed_s: float) -> dict:
    """Per-layer self time over the timed phase, in % of its wall time."""
    self_s = tracer.self_seconds()
    return {layer: 100 * self_s.get(layer, 0.0) / timed_s for layer in LAYERS}


def per_op(wl, tracer) -> dict:
    """Per-operation medians and job counts, over the timed phase and
    the probe calls."""
    lat, jobs, call = tracer.latencies, tracer.jobs, tracer.call_ms
    reads = lat["read.stream"] + lat["read.page"]
    return {
        "session.start_s": (wl.setup["session.start_s"], "s"),
        "seed.build_s": (wl.setup["seed.build_s"], "s"),
        "warmup_s": (wl.setup["warmup_s"], "s"),
        "append.samples": (len(lat["append"]), "count"),
        "append_p50_ms": (p50(lat["append"]), "ms"),
        "append_p90_ms": (p90(lat["append"]), "ms"),
        "append.jobs": (p50(jobs["append"]), "count"),
        "append_batch_p50_ms": (p50(lat["append.batch"]), "ms"),
        "append.files": (p50(wl.files_added), "count"),
        "append_100.p50_ms": (p50(lat["append_100"]), "ms"),
        "append_multi_p50_ms": (p50(lat["append_multi"]), "ms"),
        "append_multi.jobs": (p50(jobs["append_multi"]), "count"),
        "append.reject_p50_ms": (p50(lat["append.reject"]), "ms"),
        "append.foreign_p50_ms": (p50(lat["append.foreign"]), "ms"),
        "append.foreign_jobs": (p50(jobs["append.foreign"]), "count"),
        "read_stream_p50_ms": (p50(lat["read.stream"]), "ms"),
        "read_page_p50_ms": (p50(lat["read.page"]), "ms"),
        "read_p90_ms": (p90(reads), "ms"),
        "read.build_ms": (p50(call["EventLog.read_stream"] + call["EventLog.read_all"]), "ms"),
        "read.exec_ms": (p50(call["DataFrame.collect"]), "ms"),
        "read.jobs": (p50(jobs["read.stream"] + jobs["read.page"]), "count"),
        "log.files_end": (wl.log_files(), "count"),
        "sub.catchup_ms": (wl.setup["sub.catchup_ms"], "ms"),
        "sub.live_ms": (p50(lat["sub.drain"]), "ms"),
        "sub.jobs": (p50(jobs["sub.drain"]), "count"),
        "refresh_p50_ms": (p50(lat["refresh"]), "ms"),
        "refresh.jobs": (p50(jobs["refresh"]), "count"),
        "state_of.p50_ms": (p50(lat["state_of"]), "ms"),
    }


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "eventstorm_spark", "__init__.py")):
        print(f"perfbench: no eventstorm_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from workloads import SEED_EVENTS, WORKLOADS

    import pyarrow
    import pyspark

    cpus = len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cpus": cpus,
                      "seconds": args.seconds, "trace": args.trace,
                      "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}),
          flush=True)
    t0 = time.perf_counter()
    spark = start_session(workdir, cpus)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, workdir, args.seed, tracer)
        wl.setup["session.start_s"] = session_s
        wl.build_log()
        w0 = time.perf_counter()
        wl.warm_up()
        wl.setup["warmup_s"] = time.perf_counter() - w0
        wl.setup["setup_s"] = (wl.setup["session.start_s"] + wl.setup["seed.build_s"]
                               + wl.setup["warmup_s"])

        tracer.reset()
        wl.files_added.clear()
        acked_before = len(wl.acked)
        start = time.perf_counter()
        cycles = 0
        while True:
            wl.cycle()
            cycles += 1
            timed_s = time.perf_counter() - start
            # start another whole cycle only if it should end no more
            # than half a cycle past --seconds
            if timed_s + 0.5 * timed_s / cycles > args.seconds:
                break
        events = sum(r.count for r, _ in wl.acked[acked_before:])
        ops = tracer.ops
        shares = {}
        if args.trace:
            shares = self_shares(tracer, timed_s)
            # the layers only event_mixed calls read 0 on append_only,
            # so these two are the metrics; the summary line has all
            metrics = {
                "trace.overhead_pct": (100 * tracer.overhead_s / timed_s, "%"),
                "self_pct.log.store": (shares["log.store"], "%"),
                "self_pct.bench": (shares["bench"], "%"),
            }
            wl.probe()
            metrics.update(per_op(wl, tracer))
        else:
            metrics = end_to_end(wl, tracer, timed_s, events)

        c0 = time.perf_counter()
        problems = wl.check()
        check_s = time.perf_counter() - c0
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        wl.close()
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    failed = wl.failed + len(problems)
    for msg in wl.errors + problems:
        print(f"FAILED {msg}", flush=True)
    print(json.dumps({"setup_wall_s": start - t0, "cycles": cycles, "timed_s": timed_s,
                      "check_s": check_s, "ops": ops,
                      "events": events, "seed_events": SEED_EVENTS,
                      "rejected": wl.rejected, "failed_ratio": failed / wl.attempted,
                      "samples": {k: len(v) for k, v in tracer.latencies.items()},
                      "self_pct": shares}),
          flush=True)
    for name, (value, unit) in metrics.items():
        print(f"{name:28s} {value:12.4f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": wl.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
