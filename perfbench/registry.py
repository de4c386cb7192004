"""``registry_mix``: a fixed list of registry queries at sf0.1.

The tables are generated from the seed (``datagen.registry_tables``) in
the schemas and row counts of the repository's testdata (TESTDATA.md).
Two untimed warm-up passes run each query with a ``noop`` sink (with one
warm-up pass, the first timed pass still ran up to 20% slower than the
later ones in half the runs: JIT and first-touch costs).  Then a fixed
number of timed passes do the same; the seed permutes the query order
within each pass.  After them, one untimed pass collects every query's
result; once the session has stopped, each result is checked against the
query's DuckDB oracle: row count plus an order-insensitive digest.

One query per family, each with an oracle cheap enough to run every
time and exact on generated data:

- ``a01_pricing_summary``: pure-SQL control (scan + aggregate);
- ``a200_pq_adc``: similarity family, the Arrow ``mapInPandas`` PQ pass
  shared with ``a76_embedding_pq_ann``;
- ``c72_phash_index_serve``: persisted-index family -- decodes and hashes
  synthesized P6 images, writes a bucketed band index through the catalog
  (the workload's disk writes) and serves a delta against it.
"""

from __future__ import annotations

import hashlib
import time

import numpy as np

from . import datagen

QUERIES = (
    "a01_pricing_summary",
    "a200_pq_adc",
    "c72_phash_index_serve",
)
# timed passes per --seconds: one pass over QUERIES takes about this long
# on a shared 4-core VM (4.5-7.5 s measured); MIN_STEPS sets the floor
PASS_SECONDS = 5.0
MIN_STEPS = 11  # the tail percentile needs ten steps beyond it


def timed_passes(seconds: float) -> int:
    need = -(-MIN_STEPS // len(QUERIES))
    return max(need, round(seconds / PASS_SECONDS))


def _norm_cell(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def digest(cols: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows
    sorted by their normalised repr (floats compared exactly)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class RegistryRun:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = ctx.work / "sf0.1"
        self.passes = timed_passes(ctx.seconds)
        self.steps: list[dict] = []
        self.problems: dict[str, str] = {}
        self.results: dict[str, tuple[int, str]] = {}
        self.input_stats: dict = {}
        self.stored_bytes = 0

    def setup(self, spark) -> None:
        from bigdata_scala_offline_data_clean_spark.queries import all_queries

        t0 = time.perf_counter()
        self.input_stats = datagen.write_registry_tables(self.ctx.seed, self.sf_dir)
        self.specs = all_queries()
        self.setup_parts = {"inputs_s": time.perf_counter() - t0}
        for p in (-2, -1):
            t0 = time.perf_counter()
            self.run_pass(spark, p, timed=False)
            self.setup_parts[f"warmup_pass{p + 2}_s"] = time.perf_counter() - t0

    def collect(self, spark) -> None:
        """The untimed verification pass, after the timed ones: collect
        every result for ``check``.  Catalog writes made meanwhile give the
        workload's stored bytes."""
        from .trace import Spans

        meter = Spans()
        meter.install_catalog()
        try:
            for name in QUERIES:
                try:
                    df = self.specs[name].spark(spark, str(self.sf_dir))
                    rows = df.collect()
                    self.results[name] = (len(rows), digest(df.columns, rows))
                except Exception as e:
                    self.problems[name] = f"spark: {type(e).__name__}: {e}"
        finally:
            meter.uninstall()
        self.stored_bytes = sum(s.bytes for s in meter.spans if s.layer == "catalog.write")

    def check(self) -> None:
        """Compare the collected results with the DuckDB oracles; a query
        that differs fails every one of its timed steps."""
        import duckdb

        con = duckdb.connect()
        try:
            for p in sorted(self.sf_dir.glob("*.parquet")):
                con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
            for name, (n, dig) in self.results.items():
                cur = con.execute(self.specs[name].oracle)
                cols = [d[0] for d in cur.description]
                want = cur.fetchall()
                if n != len(want):
                    self.problems[name] = f"rows {n} != oracle {len(want)}"
                elif dig != digest(cols, want):
                    self.problems[name] = "digest differs from oracle"
        finally:
            con.close()
        for step in self.steps:
            step["error"] = step["error"] or self.problems.get(step["name"])

    def timed(self, spark) -> None:
        for p in range(self.passes):
            self.run_pass(spark, p, timed=True)
        t0 = time.perf_counter()
        self.collect(spark)
        self.collect_s = time.perf_counter() - t0

    def run_pass(self, spark, p: int, timed: bool) -> None:
        """One pass over QUERIES in the seed's order for pass ``p`` (the
        warm-up passes are -2 and -1); a timed pass records its steps."""
        order = np.random.default_rng([self.ctx.seed, p + 2]).permutation(len(QUERIES))
        for i in order:
            name = QUERIES[i]
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            start = time.time()
            t0 = time.perf_counter()
            err = None
            build = 0.0
            try:
                df = self.specs[name].spark(spark, str(self.sf_dir))
                build = time.perf_counter() - t0
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed step is counted, the pass goes on
                err = f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
            if not timed:  # a failing query fails its timed steps too
                continue
            self.steps.append({
                "unit": p, "name": name, "wall": wall, "build": build,
                "exec": wall - build, "window": (start, time.time()),
                "error": err,
            })

    def inputs_timed(self) -> dict:
        return dict(self.input_stats)

    def stored_per_input(self) -> float:
        return self.stored_bytes / self.input_stats["bytes"]


def layer_metrics(run: RegistryRun, spans) -> dict[str, float]:
    from .measure import median

    steps = run.steps
    n = len(steps)
    out = {
        "queries.build_s": sum(s["build"] for s in steps) / n,
        "queries.exec_s": sum(s["exec"] for s in steps) / n,
    }
    for name in QUERIES:
        walls = [s["wall"] for s in steps if s["name"] == name]
        out[f"query.{name}.p50_s"] = median(walls)
    lists = [spans.within("catalog.list", *s["window"]) for s in steps]
    writes = [spans.within("catalog.write", *s["window"]) for s in steps]
    out.update({
        "catalog.list_s": sum(x.end - x.start for ls in lists for x in ls) / n,
        "catalog.list_calls": sum(len(ls) for ls in lists) / n,
        "catalog.write_s": sum(x.end - x.start for ws in writes for x in ws) / n,
        "catalog.files_written": sum(x.files for ws in writes for x in ws) / n,
        "catalog.bytes_written": sum(x.bytes for ws in writes for x in ws) / n,
    })
    return out
