"""One benchmark run: set up, time, verify, and print the result.

Run from the root of a checkout: the program under test is the package in
the checkout, imported from source.  Every file the run writes (inputs,
warehouse, Spark local and temp dirs, event log) lives under
``.perfbench_work/`` in the checkout and is removed when the run ends.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` switches on the
Spark event log and the layer spans and prints the per-layer metrics.
The line before the result holds the run's details: environment, load
average, input sizes, the tail percentile used and any step errors.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path
from types import SimpleNamespace

from .registry import QUERIES

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "bigdata_scala_offline_data_clean_spark"
WORKLOADS = ("nightly_etl", "registry_mix")
WORK_DIR = ".perfbench_work"

END_TO_END = {  # name -> unit
    "wall_s": "s",
    "step_p50_s": "s",
    "step_tail_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
    "ok_frac": "ratio",
}

PER_LAYER = {  # name -> unit; layers named by module
    "session.build_s": "s",
    "catalog.list_s": "s",
    "catalog.list_calls": "count",
    "catalog.write_s": "s",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "pipelines.A_p50_s": "s",
    "pipelines.B_p50_s": "s",
    "pipelines.C_p50_s": "s",
    "pipelines.D_p50_s": "s",
    "pipelines.plan_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    **{f"query.{q}.p50_s": "s" for q in QUERIES},
    "spark.jobs_per_step": "count",
    "spark.stages_per_step": "count",
    "spark.tasks_per_step": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.python_wait_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks_failed": "count",
    "spark.stages_skipped_ratio": "ratio",
    "trace.wall_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: Path) -> dict[str, str]:
    """Point every writer at ``work`` and make the package importable by
    Python workers; returns the JVM options for the session."""
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(min(4, len(os.sched_getaffinity(0))))
    )
    # not the program's 8g default: a fixed 8g heap doubled peak RSS and
    # ran no faster (perfbench/README.md, "Driver heap")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files in /tmp, from the launcher JVM of spark-submit too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    tempfile.tempdir = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # a fixed-size heap: G1 resizing it mid-run moved peak RSS by 20% and
    # step times by 10% between runs of the same code
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return {
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Djava.io.tmpdir={work / 'tmp'}",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    from .measure import children_map

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while children_map().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def run(args, work: Path) -> tuple[dict, dict]:
    from bigdata_scala_offline_data_clean_spark import session

    from . import measure, nightly, registry
    from .trace import Spans, event_log_conf, fold_event_log, read_event_log, spark_layer_metrics

    conf = prepare_environment(work)
    if args.trace:
        conf.update(event_log_conf(work / "eventlog"))
    ctx = SimpleNamespace(seed=args.seed, seconds=args.seconds, work=work)
    mod = nightly if args.workload == "nightly_etl" else registry
    wl = (nightly.NightlyRun if mod is nightly else registry.RegistryRun)(ctx)
    spans = Spans()
    if args.trace:
        spans.install_catalog()
    load_start = measure.loadavg()
    with measure.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = session.build_session(app_name=f"perfbench-{args.workload}",
                                      warehouse_dir=str(work / "spark-warehouse"),
                                      extra_conf=conf)
        session_s = time.perf_counter() - t0
        try:
            env = measure.environment(spark)
            wl.setup(spark)
            setup_s = time.perf_counter() - t0
            cpu0, gc0 = measure.host_cpu(), measure.jvm_gc_s(spark)
            wl.timed(spark)
            timed_host = {**measure.host_cpu_shares(cpu0, measure.host_cpu()),
                          "jvm_gc_s": measure.jvm_gc_s(spark) - gc0}
        finally:
            t1 = time.perf_counter()
            stop_spark(spark)
            spans.uninstall()
    stop_s = time.perf_counter() - t1
    wl.check()
    check_s = time.perf_counter() - t1 - stop_s
    steps = wl.steps
    failed = sum(1 for s in steps if s["error"])
    walls = [s["wall"] for s in steps]
    unit_walls = [sum(s["wall"] for s in steps if s["unit"] == u)
                  for u in sorted({s["unit"] for s in steps})]
    by_name = {n: measure.median([s["wall"] for s in steps if s["name"] == n])
               for n in dict.fromkeys(s["name"] for s in steps)}
    tail = measure.tail(walls)
    e2e = {
        # the timed phase: every timed step; the untimed work between
        # steps (GC, landing, retention, verification) is left out
        "wall_s": sum(walls),
        "step_p50_s": measure.hd_quantile(walls, 0.5),
        "step_tail_s": tail["value"],
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak / 2**20,
        "stored_bytes_per_input_byte": wl.stored_per_input(),
        "ok_frac": 1.0 - failed / len(steps),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": {**env, "loadavg_start": load_start, "loadavg_end": measure.loadavg()},
        # the machine's CPU during the timed phase; jvm_gc_s includes the
        # untimed System.gc before each step
        "timed_host": timed_host,
        "inputs": wl.inputs_timed(),
        "timed_units": len(unit_walls), "steps": len(steps),
        "unit_walls": unit_walls,
        "unit_peak_rss_mb": [
            rss.peak_between(min(s["window"][0] for s in steps if s["unit"] == u),
                             max(s["window"][1] for s in steps if s["unit"] == u)) / 2**20
            for u in sorted({s["unit"] for s in steps})
        ],
        "peak_rss_mb_by_process": {
            k: v / 2**20 for k, v in sorted(rss.peak_by_name.items(), key=lambda kv: -kv[1])
        },
        "step_tail": {k: tail[k] for k in ("percentile", "n", "nearest_rank")},
        "step_median_sample": measure.median(walls),
        "failed_frac": failed / len(steps),
        "setup_parts": {"session_s": session_s, **wl.setup_parts},
        "stop_s": stop_s, "check_s": check_s,
        # registry_mix: the verification collect pass after the timed passes
        "collect_pass_s": getattr(wl, "collect_s", None),
        "step_walls_by_name": {
            n: [s["wall"] for s in steps if s["name"] == n]
            for n in dict.fromkeys(s["name"] for s in steps)
        },
        "step_p50_by_name": by_name,
        "errors": sorted({f'{s["name"]}: {s["error"]}' for s in steps if s["error"]}),
    }
    if args.trace:
        values = mod.layer_metrics(wl, spans)
        values["session.build_s"] = session_s
        folds = fold_event_log(read_event_log(work / "eventlog"),
                               [s["window"] for s in steps])
        values.update(spark_layer_metrics(folds, walls))
        values["trace.wall_s"] = e2e["wall_s"]
        units = PER_LAYER
    else:
        values, units = e2e, END_TO_END
    return detail, {
        "correct": failed == 0,
        "attempted": len(steps),
        "failed": failed,
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()
        },
    }


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found in {ROOT}; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / WORK_DIR / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail["run_s"] = time.perf_counter() - t0
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0
