"""``nightly_etl``: the 12 reference jobs over consecutive nights.

Each night lands one seeded ODS partition per table, then runs every job
of ``pipelines.JOBS`` through ``run_job`` in archetype order A, B, C, D.
Steadiness comes from the design, not from repetition alone:

- inputs are generated with numpy/pyarrow before the timed phase;
- ``WARMUP_NIGHTS`` untimed nights absorb JIT and first-touch costs and
  fill the retention window;
- a rolling window keeps the last ``HISTORY`` nights of every ODS and DWD
  table (older partitions are dropped between nights, untimed), so every
  timed night does the same work and archetype D -- which joins whole
  DWD tables -- stays bounded;
- the timed night count is fixed by ``--seconds`` (not by how fast the
  nights ran), so every run times the same set of steps;
- ``clearCache`` and a JVM GC run before each step, as in ``bench.py``.

Outputs are verified after each timed night, untimed, against
invariants the generator derives from its own parameters.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import datagen
from .measure import files_since

WARMUP_NIGHTS = 3
HISTORY = 2
# timed nights per --seconds: one night of the 12 jobs takes about this
# long on a shared 4-core VM at the default NightlySize (6.4-11.7 s measured)
NIGHT_SECONDS = 6.5


def job_order():
    from bigdata_scala_offline_data_clean_spark.pipelines import JOBS

    return sorted(JOBS.values(), key=lambda c: c.archetype)  # stable: A, B, C, D


def timed_nights(seconds: float) -> int:
    return max(1, round(seconds / NIGHT_SECONDS))


class NightlyRun:
    def __init__(self, ctx):
        self.ctx = ctx
        self.nights = WARMUP_NIGHTS + timed_nights(ctx.seconds)
        self.inputs = datagen.NightlyInputs(ctx.seed, self.nights)
        self.stage = ctx.work / "inputs"
        self.root = ctx.work / "warehouse"
        self.steps: list[dict] = []
        self.input_stats: dict = {}
        self.stored_bytes = 0

    # -- warehouse housekeeping (untimed) ---------------------------------

    def land(self, night: int) -> None:
        d = datagen.etl_date(night)
        for src in (self.stage / f"night={night}").iterdir():
            dst = self.root / "ods" / src.name / f"etl_date={d}"
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.move(str(src), str(dst))

    def retain(self, night: int) -> None:
        """Drop ODS/DWD partitions older than the window ending at ``night``."""
        if night - HISTORY + 1 <= 0:
            return
        oldest = datagen.etl_date(night - HISTORY + 1)
        for layer in ("ods", "dwd"):
            for part in (self.root / layer).glob("*/etl_date=*"):
                if part.name.split("=", 1)[1] < oldest:
                    shutil.rmtree(part)

    # -- the run ------------------------------------------------------------

    def setup(self, spark) -> None:
        from bigdata_scala_offline_data_clean_spark.sources.catalog import Warehouse

        t0 = time.perf_counter()
        self.input_stats = self.inputs.write(self.stage)
        self.setup_parts = {"inputs_s": time.perf_counter() - t0}
        self.wh = Warehouse(spark, str(self.root))
        for night in range(WARMUP_NIGHTS):
            t0 = time.perf_counter()
            self.night(spark, night, timed=False)
            self.setup_parts[f"warmup_night{night}_s"] = time.perf_counter() - t0

    def night(self, spark, night: int, timed: bool) -> None:
        from bigdata_scala_offline_data_clean_spark.pipelines import run_job

        self.retain(night)
        self.land(night)
        d = datagen.etl_date(night)
        delta_root = str(self.stage / "delta")
        for cfg in job_order():
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            t0_ns, start = time.time_ns(), time.time()
            p0 = time.perf_counter()
            err = None
            try:
                run_job(self.wh, cfg, delta_root=delta_root,
                        etl_date=d if cfg.archetype == "D" else None)
            except Exception as e:  # a failed step is counted, the night goes on
                err = f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - p0
            if not timed:
                if err:
                    raise RuntimeError(f"warm-up night {night} {cfg.name}: {err}")
                continue
            layer, table = ("dws", cfg.dws_table) if cfg.archetype == "D" else (
                "dwd", cfg.dwd_table)
            path = self.root / layer / table
            if path.exists():
                self.stored_bytes += files_since(path, t0_ns)[1]
            self.steps.append({
                "unit": night, "name": cfg.name, "archetype": cfg.archetype,
                "wall": wall, "window": (start, time.time()), "error": err,
            })

    def timed(self, spark) -> None:
        for night in range(WARMUP_NIGHTS, self.nights):
            self.night(spark, night, timed=True)
            for name, problem in self.verify(night).items():
                step = self._step(night, name)
                step["error"] = step["error"] or problem

    def check(self) -> None:
        """Outputs were verified night by night in ``timed``."""

    def _step(self, night: int, name: str) -> dict:
        return next(s for s in self.steps if s["unit"] == night and s["name"] == name)

    # -- verification (untimed, generator-derived invariants) ---------------

    def verify(self, night: int) -> dict[str, str]:
        """Problems found in ``night``'s outputs, by job name."""
        ins, d = self.inputs, datagen.etl_date(night)
        problems: dict[str, str] = {}
        for cfg in job_order():
            try:
                if cfg.archetype == "D":
                    window = list(range(night - HISTORY + 1, night + 1))
                    got = pq.read_table(self.root / "dws" / cfg.dws_table).num_rows
                    want = ins.expected_star_rows(window)
                    if got != want:
                        problems[cfg.name] = f"star rows {got} != {want}"
                    continue
                part = self.root / "dwd" / cfg.dwd_table / f"etl_date={d}"
                key = datagen.B_KEYS.get(cfg.ods_table) or datagen.C_KEYS.get(cfg.ods_table)
                tab = pq.read_table(part, columns=[key] if key else None)
                want = ins.expected_rows(cfg.ods_table, night)
                if tab.num_rows != want:
                    problems[cfg.name] = f"rows {tab.num_rows} != {want}"
                elif cfg.archetype == "B":
                    problems.update(self._verify_b(cfg, part, night))
                elif cfg.archetype == "C":
                    keys = tab.column(key).to_numpy()
                    dk = ins.delta_keys[cfg.ods_table]
                    if not np.isin(dk["only"], keys).all():
                        problems[cfg.name] = "delta-only keys missing"
                    elif np.isin(dk["stale"], keys).any():
                        problems[cfg.name] = "stale-rowkey keys present"
            except (OSError, ValueError, KeyError) as e:
                problems[cfg.name] = f"unreadable output: {type(e).__name__}: {e}"
        return problems

    def _verify_b(self, cfg, part: Path, night: int) -> dict[str, str]:
        """One row per key, and it is the newest ODS version of the key."""
        tab = pq.read_table(part, columns=[cfg.merge_col, cfg.order_by_col])
        keys = tab.column(cfg.merge_col)
        if len(pc.unique(keys)) != tab.num_rows:
            return {cfg.name: "duplicate keys in latest partition"}
        if cfg.merge_col == "product_core":
            keys = pc.cast(pc.utf8_slice_codeunits(keys, 2), "int64")
        us = pc.cast(pc.cast(tab.column(cfg.order_by_col), "timestamp[us]"), "int64")
        day = (us.to_numpy() - int(datagen.BASE_DAY.timestamp() * 1e6)) // 86_400_000_000
        newest = np.full(tab.num_rows + 1, -1)
        for n in range(night + 1):
            newest[self.inputs.b_updates[cfg.ods_table][n]] = n
        if not (newest[keys.to_numpy()] == day).all():
            return {cfg.name: "a key does not hold its newest version"}
        return {}

    # -- results ------------------------------------------------------------

    def inputs_timed(self) -> dict:
        timed = [self.input_stats[f"night={n}"] for n in range(WARMUP_NIGHTS, self.nights)]
        return {"rows": sum(s["rows"] for s in timed),
                "bytes": sum(s["bytes"] for s in timed),
                "delta_rows": self.input_stats["delta"]["rows"],
                "delta_bytes": self.input_stats["delta"]["bytes"]}

    def stored_per_input(self) -> float:
        return self.stored_bytes / self.inputs_timed()["bytes"]


def layer_metrics(run: NightlyRun, spans) -> dict[str, float]:
    """Per-layer numbers from the spans of a traced run."""
    from .measure import median

    steps = run.steps
    by_arch = {a: [s["wall"] for s in steps if s["archetype"] == a] for a in "ABCD"}
    lists, writes, plans = [], [], []
    for s in steps:
        ls = spans.within("catalog.list", *s["window"])
        ws = spans.within("catalog.write", *s["window"])
        lists.append(ls)
        writes.append(ws)
        plans.append(s["wall"] - sum(x.end - x.start for x in ls + ws))
    n = len(steps)
    out = {f"pipelines.{a}_p50_s": median(v) for a, v in by_arch.items() if v}
    out.update({
        "pipelines.plan_s": median(plans),
        "catalog.list_s": sum(x.end - x.start for ls in lists for x in ls) / n,
        "catalog.list_calls": sum(len(ls) for ls in lists) / n,
        "catalog.write_s": sum(x.end - x.start for ws in writes for x in ws) / n,
        "catalog.files_written": sum(x.files for ws in writes for x in ws) / n,
        "catalog.bytes_written": sum(x.bytes for ws in writes for x in ws) / n,
    })
    return out
