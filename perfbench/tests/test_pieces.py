"""Tests for the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import datagen, measure, trace  # noqa: E402
from perfbench.harness import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.registry import digest  # noqa: E402

SMALL = datagen.NightlySize(
    rows=300, addrs=120, customers=200, customer_updates=40, products=100,
    product_updates=20, coupons=50, coupon_updates=10, delta_only=15,
    delta_overlap=15, delta_stale=8,
)


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


# -- inputs ----------------------------------------------------------------


def test_nightly_inputs_same_seed_byte_identical(tmp_path):
    datagen.NightlyInputs(7, 3, SMALL).write(tmp_path / "a")
    datagen.NightlyInputs(7, 3, SMALL).write(tmp_path / "b")
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert a and a == b


def test_nightly_inputs_other_seed_differs(tmp_path):
    datagen.NightlyInputs(7, 3, SMALL).write(tmp_path / "a")
    datagen.NightlyInputs(8, 3, SMALL).write(tmp_path / "b")
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if "customer_level_inf" not in k)


def test_registry_tables_seeded(tmp_path):
    datagen.write_registry_tables(3, tmp_path / "a")
    datagen.write_registry_tables(3, tmp_path / "b")
    datagen.write_registry_tables(4, tmp_path / "c")
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_nights_are_repeats():
    ins = datagen.NightlyInputs(5, 4, SMALL)
    sizes = [{t: tab.num_rows for t, tab in ins.night_tables(n).items()} for n in (1, 2, 3)]
    assert sizes[0] == sizes[1] == sizes[2]


def test_star_rows_match_brute_force_join():
    pd = pytest.importorskip("pandas")
    ins = datagen.NightlyInputs(11, 3, SMALL)
    window = [1, 2]
    tables = [ins.night_tables(n) for n in window]
    # dim_customer_inf holds every key in each window night (night 0 loaded all)
    anchor = pd.concat([pd.DataFrame({
        "customer_id": range(SMALL.customers),
        "customer_level": [1 + (k % SMALL.levels) for k in range(SMALL.customers)],
    })] * len(window))
    addr = pd.concat([t["customer_addr"].to_pandas()[["customer_id"]] for t in tables])
    levels = pd.concat([t["customer_level_inf"].to_pandas()[["customer_level"]] for t in tables])
    star = anchor.merge(addr, on="customer_id", how="left").merge(
        levels, on="customer_level", how="left")
    assert len(star) == ins.expected_star_rows(window)


def test_delta_invariants():
    ins = datagen.NightlyInputs(2, 3, SMALL)
    delta = ins.delta_tables()["order_master_offline"].to_pandas()
    matched = delta[delta.row_key.str.contains(datagen.DELTA_ROWKEY_DAY)]
    base = set(ins.night_tables(1)["order_master"].column("order_id").to_pylist())
    extra = len(set(matched.order_id) - base)
    assert ins.expected_rows("order_master", 1) == SMALL.rows + extra
    stale = delta[~delta.row_key.str.contains(datagen.DELTA_ROWKEY_DAY)]
    assert len(stale) == SMALL.delta_stale


# -- statistics ----------------------------------------------------------------


def test_tail_rank_is_highest_percentile_with_ten_beyond():
    for n in list(range(11, 2000)) + [12345]:
        p, idx = measure.tail_rank(n)
        assert n - 1 - idx >= 10, n
        # the next percentile up leaves fewer than ten samples beyond it
        nxt = -(-(p + 1) * n // 100) - 1
        assert n - 1 - nxt < 10, n


def test_tail_rank_examples():
    assert measure.tail_rank(11) == (9, 0)
    assert measure.tail_rank(12) == (16, 1)
    assert measure.tail_rank(24) == (58, 13)
    assert measure.tail_rank(100) == (90, 89)
    t = measure.tail([float(i) for i in range(100)])
    assert (t["percentile"], t["n"], t["nearest_rank"]) == (90, 100, 89.0)
    assert 88.0 < t["value"] < 91.0


def test_betainc_known_values():
    assert measure.betainc(2, 3, 0.4) == pytest.approx(0.5248)
    assert measure.betainc(0.5, 0.5, 0.5) == pytest.approx(0.5)
    assert measure.betainc(5, 1, 0.7) == pytest.approx(0.7 ** 5)
    assert measure.betainc(3, 4, 0.0) == 0.0 and measure.betainc(3, 4, 1.0) == 1.0


def test_hd_quantile():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0, 6.0]
    # weights sum to one: a constant sample gives the constant
    assert measure.hd_quantile([2.5] * 24, 0.58) == pytest.approx(2.5)
    # a symmetric sample gives its centre at p = 0.5
    assert measure.hd_quantile([float(i) for i in range(1, 11)], 0.5) == pytest.approx(5.5)
    qs = [measure.hd_quantile(xs, p) for p in (0.1, 0.3, 0.5, 0.7, 0.9)]
    assert min(xs) < qs[0] and qs == sorted(qs) and qs[-1] < max(xs)
    # order-insensitive
    assert measure.hd_quantile(xs[::-1], 0.3) == pytest.approx(qs[1])


def test_hd_median_is_steadier_than_the_sample_median_across_a_gap():
    # 24 steps: 12 fast ones near 0.40 s, 12 slow ones near 0.70 s; the
    # sample median averages the slowest fast step and the fastest slow
    # one, so it jumps with their noise
    import random

    rng = random.Random(3)
    hd, mid = [], []
    for _ in range(300):
        xs = [rng.gauss(0.40, 0.03) for _ in range(12)] + [
            rng.gauss(0.70, 0.05) for _ in range(12)]
        hd.append(measure.hd_quantile(xs, 0.5))
        mid.append(measure.median(xs))
    import statistics

    assert statistics.pstdev(hd) < statistics.pstdev(mid)


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        measure.tail_rank(10)


def test_digest_is_order_insensitive():
    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    assert digest(["k", "s", "x"], rows) == digest(["x", "k", "s"], [
        (1.5, 2, "b"), (0.5, 1, "a")])
    assert digest(["k", "s", "x"], rows) != digest(["k", "s", "x"], [(1, "a", 0.5)])


# -- event-log folding ---------------------------------------------------------


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, launch_ms, run_ms, cpu_ns, failed=False, shuffle_w=0, spill=0):
    return _ev(
        "SparkListenerTaskEnd", **{"Stage ID": stage, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": launch_ms, "Failed": failed},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                  "Local Bytes Read": 10},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                         "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}})


def _stage(sid, submit_ms):
    return _ev("SparkListenerStageSubmitted", **{
        "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": submit_ms}})


def synthetic_log():
    """Step 0 = [1000, 2000] s, step 1 = [3000, 4000] s (epoch).  Step 0
    runs job 0 from the caller and, overlapping it, job 1 submitted from a
    second thread (no job-group property).  Step 1's job 2 lists stage 1
    again (its shuffle output is reused, so it is skipped)."""
    return [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1_100_000,
                                         "Stage IDs": [0, 1], "Properties": {}}),
        _stage(0, 1_100_010), _task(0, 1_100_020, 400, 300_000_000),
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1_200_000,
                                         "Stage IDs": [2],
                                         "Properties": {"thread": "pool-1-thread-1"}}),
        _stage(2, 1_200_005), _task(2, 1_200_010, 300, 100_000_000, failed=True),
        _stage(1, 1_300_000), _task(1, 1_300_010, 200, 200_000_000, shuffle_w=50),
        _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1_400_000}),
        _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1_500_000}),
        _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 3_500_000,
                                         "Stage IDs": [1, 3]}),
        _stage(3, 3_500_100), _task(3, 3_500_200, 100, 50_000_000, spill=7),
        _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 3_600_000}),
        # outside every window: ignored
        _ev("SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 5_000_000,
                                         "Stage IDs": [4]}),
    ]


def test_fold_attributes_jobs_by_submission_time_including_threads():
    folds = trace.fold_event_log(synthetic_log(), [(1000.0, 2000.0), (3000.0, 4000.0)])
    s0, s1 = folds
    assert (s0.jobs, s0.stages, s0.tasks, s0.tasks_failed) == (2, 3, 3, 1)
    assert (s1.jobs, s1.stages, s1.tasks) == (1, 1, 1)
    # job spans [1100,1500] and [1200,1400] overlap: union 400 s
    assert s0.job_busy_s == pytest.approx(400.0)
    assert s1.job_busy_s == pytest.approx(100.0)
    assert (s0.stages_listed, s0.stages_skipped) == (3, 0)
    assert (s1.stages_listed, s1.stages_skipped) == (2, 1)
    assert s0.run_s == pytest.approx(0.9) and s0.cpu_s == pytest.approx(0.6)
    assert (s0.shuffle_write, s1.spill, s0.shuffle_read) == (50, 7, 30)


def test_spark_layer_metrics_per_step():
    folds = trace.fold_event_log(synthetic_log(), [(1000.0, 2000.0), (3000.0, 4000.0)])
    m = trace.spark_layer_metrics(folds, [1000.0, 1000.0])
    assert m["spark.jobs_per_step"] == 1.5
    assert m["spark.driver_gap_s"] == pytest.approx((600.0 + 900.0) / 2)
    assert m["spark.python_wait_s"] == pytest.approx((1.0 - 0.65) / 2)
    assert m["spark.tasks_failed"] == 1.0
    assert m["spark.stages_skipped_ratio"] == pytest.approx(1 / 5)


# -- the benchmark definition ------------------------------------------------------


def test_benchmark_json_matches_the_harness():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
