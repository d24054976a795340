#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh Spark session.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Every invocation follows one schedule:
start the session and set up the inputs (the input setup is repeated
SETUP_REPS times and its median taken), run once cold, then run a fixed
number of warm runs that depends only on ``--seconds`` and the workload,
never on how fast the runs go. ``--trace 1`` adds a traced run after the
warm schedule and an untraced one after it, and reports per-layer
metrics instead of the end-to-end ones. Every run's output is checked.

The last line of stdout is the JSON result; the line before it is a
summary with the sample counts, the schedule and the failure ratio.
Spans and counts of a traced run go to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
HEAP = "2g"
# seconds one warm run takes on a 4-CPU box; it converts --seconds into
# a warm-run count that is the same for every commit measured
NOMINAL_S = {"crawl_polite": 19, "ops_udf": 12}


def _spec() -> dict[str, dict[str, str]]:
    """Metric name -> unit, per mode, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        mode: {m["name"]: m["unit"] for m in spec[key]}
        for mode, key in (("e2e", "end_to_end"), ("layers", "per_layer"))
    }


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "smart_crawler_spark")
    )


def _session(name: str, tmp: str):
    from smart_crawler_spark.session import spark_session

    cpus = len(os.sched_getaffinity(0))
    spark = spark_session(
        app_name=f"perfbench-{name}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            # a fixed-size heap: with the default lazily grown one, G1's
            # resize heuristic alone moved peak RSS by +-25% between
            # identical invocations
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # keep every job and stage of a run in the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session and its JVM, and wait until every process the
    session started has ended."""
    from pyspark import SparkContext

    from probes import tree_pids

    me = os.getpid()
    started = [p for p in tree_pids(me) if p != me]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    alive = started
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def measure(wl, spark, seed: int, seconds: int, trace: bool) -> dict:
    from probes import CpuWindow, JobWindow, Tracer, tree_peak_rss_mb

    cold = wl.run()
    warm = [wl.run() for _ in range(max(1, seconds // NOMINAL_S[wl.name]))]
    runs = [cold, *warm]
    out = {
        "cold_s": cold["wall_s"],
        "wall_s": statistics.median(r["wall_s"] for r in warm),
        "round_p50_s": statistics.median(s for r in warm for s in r["steps_s"]),
        "samples": {
            "warm_runs": len(warm),
            "steps": sum(len(r["steps_s"]) for r in warm),
            "warm_s": [r["wall_s"] for r in warm],
        },
    }
    if trace:
        tracer = Tracer(f"{wl.name}-seed{seed}")
        cpu, jobs = CpuWindow(os.getpid()), JobWindow(spark.sparkContext)
        cpu.start()
        jobs.start()
        with tracer.span("run"):
            traced = wl.run(tracer)
        c, j = cpu.stop(), jobs.stop()
        after = wl.run()
        runs += [traced, after]
        layers = {
            "trace.wall_s": traced["wall_s"],
            "trace.overhead_s": traced["wall_s"] - (warm[-1]["wall_s"] + after["wall_s"]) / 2,
            "spark.jobs": j["jobs"],
            "spark.tasks": j["tasks"],
            "spark.jobs_per_step": j["jobs"] / len(traced["steps_s"]),
            "proc.cpu_util": c["util"],
            "proc.driver_cpu_s": c["driver"],
            "proc.jvm_cpu_s": c["jvm"],
            "proc.python_cpu_share": c["python"] / c["total"] if c["total"] else 0.0,
        }
        layers.update(wl.layers(traced, tracer))
        if hasattr(wl, "replay"):
            with tracer.span("replay"):
                layers.update(wl.replay(tracer))
        out["layers"] = layers
        out["trace"] = {"cpu": c, "jobs": j, "spans": tracer.spans}
    out["rss_mb"] = tree_peak_rss_mb(os.getpid())
    out["peak_rss_mb"] = sum(out["rss_mb"].values())
    out["attempted"] = len(runs)
    out["failed"] = sum(not r["ok"] for r in runs)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not _program_present():
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2

    wdir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(wdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    import tempfile

    tempfile.tempdir = tmp
    if args.workload == "crawl_polite":
        from crawl import CrawlPolite as Workload
    else:
        from ops import OpsUdf as Workload

    from probes import host_steal_s

    steal0 = host_steal_s()
    t0 = time.monotonic()
    spark = _session(args.workload, tmp)
    session_s = time.monotonic() - t0
    try:
        wl = Workload(spark, args.seed, wdir)
        setup = [wl.setup() for _ in range(SETUP_REPS)]
        wl.prepare_check()
        res = measure(wl, spark, args.seed, args.seconds, bool(args.trace))
    finally:
        _shutdown(spark)
        shutil.rmtree(wdir, ignore_errors=True)
    res["setup_s"] = session_s + statistics.median(setup)

    spec = _spec()
    if args.trace:
        path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({k: res[k] for k in ("layers", "trace")}, f, indent=1)
        # a layer the workload does not exercise reports 0
        metrics = {k: res["layers"].get(k, 0.0) for k in spec["layers"]}
        units = spec["layers"]
    else:
        metrics = {k: res[k] for k in spec["e2e"]}
        units = spec["e2e"]
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "seed_applies": args.workload != "ops_udf",
        "session_s": session_s,
        "setup_samples_s": setup,
        "samples": res["samples"],
        "peak_rss_mb_by_process": res["rss_mb"],
        "fail_ratio": res["failed"] / res["attempted"],
        # host contention: invocations that lose CPU to other tenants of
        # the host read slower on every time metric
        "host_steal_s": host_steal_s() - steal0,
    }
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
