#!/usr/bin/env python3
"""Steadiness check: run workloads back to back and report each metric's spread.

    python3 perfbench/steady.py [--runs 10] [--seconds S] [--workload nightly_etl ...]
                                [--seed 1] [--traced 2] [--out results.json]

Each workload runs ``--runs`` times with seeds ``--seed``, ``--seed``+1, ...
(``--seconds`` defaults to ``run_seconds`` in ``BENCHMARK.json``).
For every end-to-end metric it prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the quartile spread
(q3 - q1) / median, the full range (max - min) / median, and the metric's
bound from ``BENCHMARK.json``.  A spread above a third of the bound is
flagged.  ``--traced N`` adds N traced runs per workload and prints the
tracing overhead: median traced ``wall_s`` / median untraced ``wall_s``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = Path(__file__).resolve().parent / "run.py"


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n"
                           + out.stderr[-2000:])
    lines = out.stdout.strip().splitlines()
    return {"detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med, "q1": q1, "q3": q3,
        "iqr_frac": (q3 - q1) / med if med else float("nan"),
        "range_frac": (max(values) - min(values)) / med if med else float("nan"),
    }


def report(workload: str, runs: list[dict], bounds: dict[str, float]) -> list[str]:
    lines = [f"== {workload}: {len(runs)} runs"]
    metrics = runs[0]["result"]["metrics"]
    for name, m in metrics.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        s = spread(vals)
        bound = bounds.get(name)
        flag = ""
        if bound is not None and name != "setup_s" and s["iqr_frac"] > bound / 3:
            flag = "  <-- spread above bound/3"
        lines.append(
            f"{name:30s} {m['unit']:6s} median={s['median']:.4g} q1={s['q1']:.4g} "
            f"q3={s['q3']:.4g} iqr/med={s['iqr_frac']:.3f} range/med={s['range_frac']:.3f}"
            + (f" bound={bound}" if bound is not None else "") + flag
        )
    failed = sum(r["result"]["failed"] for r in runs)
    lines.append(f"correct in every run: {all(r['result']['correct'] for r in runs)}"
                 f" (failed steps: {failed})")
    return lines


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", type=Path)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    all_runs = {}
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        runs = [run_once(wl, args.seed + i, args.seconds, 0) for i in range(args.runs)]
        for line in report(wl, runs, bounds):
            print(line, flush=True)
        traced = [run_once(wl, args.seed + i, args.seconds, 1) for i in range(args.traced)]
        if traced:
            walls = [r["result"]["metrics"]["wall_s"]["value"] for r in runs]
            twalls = [r["result"]["metrics"]["trace.wall_s"]["value"] for r in traced]
            print(f"trace overhead: {statistics.median(twalls) / statistics.median(walls):.3f}"
                  f" (traced wall_s {statistics.median(twalls):.3f} s over"
                  f" untraced {statistics.median(walls):.3f} s)", flush=True)
        all_runs[wl] = {"untraced": runs, "traced": traced}
        if args.out:
            args.out.write_text(json.dumps(all_runs, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
