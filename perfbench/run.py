#!/usr/bin/env python3
"""Benchmark entry point for the crawlers_spark engine.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one SparkSession on
``local[<nproc>]`` built by the package's own ``get_spark``, one client
issuing one Spark job at a time (closed loop). The last stdout line is
the result JSON; the line before it is a detail record with the
workload's own figures, the per-seed work counts and the environment.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# work counts recorded per (workload, seed): a run whose counts differ is
# not correct, so a change cannot silently alter the work a seed does
WORK_COUNTS = os.path.join(HERE, "work_counts.json")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["frontier_mega", "crawl_deep", "crawl_resume", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; tiny is for the smoke test")
    return ap.parse_args(argv)


def confine(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # run on the package's session defaults, whatever the caller exported
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')} pyspark-shell"
    )


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawlers_spark")):
        print(f"perfbench: no crawlers_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    confine(work)
    sys.path[:0] = [ROOT, HERE]

    from harness import RssSampler, stop_jvm

    rss = RssSampler().start()
    try:
        return run(args, work, rss)
    finally:
        stop_jvm()
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, rss) -> int:
    from harness import EventLog, Tracer, environment, job_counter, median
    from crawlers_spark.session import get_spark
    from workloads import WORKLOADS, Unit, prewarm_python_workers

    cpus = nproc()
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(EventLog.CONF, **{"spark.eventLog.dir": "file://" + log_dir})
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]", extra_conf=conf)
    prewarm_python_workers(spark, cpus)
    session_s = time.monotonic() - T_START
    next_job = job_counter(spark)

    wl = WORKLOADS[args.workload](spark, args.seed, args.scale, work, cpus)
    t0 = time.monotonic()
    wl.stage()
    stage_s = time.monotonic() - t0
    setup_s = session_s + stage_s
    t0 = time.monotonic()
    wl.warm()
    warm_s = time.monotonic() - t0

    units: list[Unit] = []
    layer = None
    if args.trace:
        j0 = next_job()
        units.append(wl.unit())
        j1 = next_job()
        inputs = wl.replay_inputs()
        from tracing import layer_metrics, replay

        tracer = Tracer(f"{args.workload}-{args.seed}", next_job)
        replay(spark, tracer, inputs, os.path.join(work, "replay"))
        gens = units[0].figures.get("generations", 1)
        ckpt = getattr(wl, "replay_ckpt", None)
        env = environment(spark)
        spark.stop()
        tasks = EventLog(EventLog.find(log_dir)).totals(j0, j1)
        layer = layer_metrics(tracer, units[0].wall_s, j1 - j0, tasks, gens, ckpt)
        spans_out = os.path.join(ROOT, ".perfbench_work",
                                 f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans_out)
    else:
        busy = 0.0
        while busy < args.seconds:
            t0 = time.monotonic()
            try:
                u = wl.unit()
            except Exception:  # noqa: BLE001 — a failed operation, keep measuring
                traceback.print_exc()
                u = Unit(wall_s=time.monotonic() - t0, work=0, ok=False)
                wl.problems.append("exception in a timed unit")
            units.append(u)
            busy += u.wall_s
        env = environment(spark)
        spark.stop()

    counts = wl.work_counts()
    recorded = recorded_counts(args)
    if recorded is not None and recorded != counts:
        wl.problems.append(f"work counts {counts} differ from the recorded {recorded}")
    attempted = len(units)
    failed = sum(1 for u in units if not u.ok)
    ok_units = [u for u in units if u.ok] or units
    detail = workload_figures(args.workload, ok_units)
    detail.update(error_rate={"value": failed / attempted, "unit": "ratio"},
                  peak_rss_mb={"value": rss.peak / 2**20, "unit": "MB"})
    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "units": attempted, "metrics": detail, "work": counts,
        "unit_walls_s": [u.wall_s for u in units],
        "unit_figures": [{k: v for k, v in u.figures.items() if k.endswith("_s")}
                         for u in units],
        "problems": sorted(set(wl.problems)), "stage_s": stage_s,
        "session_s": session_s, "warm_s": warm_s, "environment": env,
    }}))
    if layer is not None:
        metrics = layer
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            # curate has no frontier or fetch rate; it is not in BENCHMARK.json
            **{k: detail[k] for k in ("wall_s", "frontier_urls_per_s", "pages_per_s")
               if k in detail},
        }
    print(json.dumps({"correct": failed == 0 and not wl.problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def recorded_counts(args) -> dict | None:
    if args.scale != "full" or not os.path.exists(WORK_COUNTS):
        return None
    with open(WORK_COUNTS) as f:
        return json.load(f).get(args.workload, {}).get(str(args.seed))


def workload_figures(name: str, units) -> dict:
    """The workload's own end-to-end figures, medians over its units."""
    from harness import median

    def m(value, unit):
        return {"value": value, "unit": unit}

    out = {"wall_s": m(median(u.wall_s for u in units), "s")}
    if name == "frontier_mega":
        urls = median(u.work / u.figures["frontier_s"] for u in units)
        out["frontier_urls_per_s"] = m(urls, "1/s")
        out["pages_per_s"] = m(median(u.figures["fetched_ok"] / u.figures["fetch_s"]
                                      for u in units), "1/s")
        out["generation_s_p50"] = m(median(u.wall_s for u in units), "s")
        out["generation_samples"] = m(len(units), "count")
    elif name in ("crawl_deep", "crawl_resume"):
        walls = [w for u in units for w in u.figures["gen_walls"]]
        out["pages_per_s"] = m(median(u.work / u.wall_s for u in units), "1/s")
        out["frontier_urls_per_s"] = m(median(u.figures["link_candidates"] / u.wall_s
                                              for u in units), "1/s")
        out["generation_s_p50"] = m(median(walls), "s")
        out["generation_samples"] = m(len(walls), "count")
        if name == "crawl_resume":
            out["resume_s"] = m(median(u.figures["resume_s"] for u in units), "s")
    else:
        out["curate_rows_per_s"] = m(median(u.work / u.wall_s for u in units), "1/s")
    return out


if __name__ == "__main__":
    sys.exit(main())
