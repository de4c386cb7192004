"""One materialization primitive (``pin_frame``) and one concurrency
primitive (``run_concurrently``), both in ``operators/ordering.py``.

- The package source calls ``localCheckpoint``/``checkpoint`` and
  builds thread pools only inside those two helpers (Spark-free scan).
- With a checkpoint dir set, a pin is replicated and holds ONE
  evaluation of a nondeterministic frame for every consumer.
- The concurrent composites return the oracle's rows whatever order
  their legs run in.
"""

from __future__ import annotations

import ast
import glob
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import bigdata_scala_offline_data_clean_spark as pkg

PKG_DIR = Path(pkg.__file__).parent
HELPERS = {("operators/ordering.py", "pin_frame"),
           ("operators/ordering.py", "run_concurrently")}


def _violations(root: Path = PKG_DIR) -> list[str]:
    """Every materialization call, thread pool or pin-policy option in
    the source under ``root`` outside the two helpers, as
    ``file:line what``."""
    out = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        owner: dict[int, str] = {}  # node id -> enclosing top-level def
        for top in tree.body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for n in ast.walk(top):
                    owner[id(n)] = top.name
        for n in ast.walk(tree):
            inside = (rel, owner.get(id(n))) in HELPERS
            what = None
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("localCheckpoint", "checkpoint")
            ):
                what = f".{n.func.attr}("
            elif isinstance(n, (ast.Name, ast.Attribute, ast.alias)):
                name = {ast.Name: "id", ast.Attribute: "attr",
                        ast.alias: "name"}[type(n)]
                if getattr(n, name) in (
                    "ThreadPoolExecutor", "auto_reliable_pins"
                ):
                    what = getattr(n, name)
            elif isinstance(n, ast.arg) and n.arg in (
                "reliable", "reliable_pins"
            ):
                what = f"parameter {n.arg}"
            if what and not inside:
                out.append(f"{rel}:{getattr(n, 'lineno', '?')} {what}")
    return out


def test_only_the_helpers_materialize_or_overlap():
    assert _violations() == []


def test_source_scan_sees_a_raw_call(tmp_path):
    """The scan is not vacuous: a raw pin outside the helpers is caught."""
    mod = tmp_path / "operators"
    mod.mkdir()
    (mod / "ordering.py").write_text(
        "def pin_frame(df):\n    return df.localCheckpoint()\n"
    )
    (tmp_path / "q.py").write_text(
        "from concurrent.futures import ThreadPoolExecutor\n"
        "def f(df, reliable=False):\n    return df.checkpoint(eager=True)\n"
    )
    assert sorted(_violations(tmp_path)) == [
        "q.py:1 ThreadPoolExecutor",
        "q.py:2 parameter reliable",
        "q.py:3 .checkpoint(",
    ]


def _with_checkpoint_dir(sc, path):
    """Set ``path`` as the checkpoint dir (None unsets it); returns the
    prior dir so the caller can restore the shared session."""
    prior = sc.getCheckpointDir()
    if path is None:
        sc._jsc.setCheckpointDir(None)
    else:
        sc.setCheckpointDir(str(path))
    return prior


def test_pin_frame_with_checkpoint_dir_holds_one_evaluation(spark, tmp_path):
    """A nondeterministic column pinned under a checkpoint dir: the pin
    is replicated (checkpoint files appear), a self-join of the pin in
    one action sees equal values on every row, and the first consumer's
    sum equals every later consumer's."""
    import random

    from pyspark.sql.types import DoubleType

    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        pin_frame,
    )

    noise = F.udf(lambda: random.random(), DoubleType()).asNondeterministic()
    ckpt = tmp_path / "ckpt"
    sc = spark.sparkContext
    prior = _with_checkpoint_dir(sc, ckpt)
    try:
        p = pin_frame(
            spark.range(0, 2000, numPartitions=4).withColumn("v", noise())
        )
        first = p.agg(F.sum("v")).collect()[0][0]
        later = [p.agg(F.sum("v")).collect()[0][0] for _ in range(2)]
        mismatched = (
            p.alias("l")
            .join(p.alias("r"), "id")
            .where(F.col("l.v") != F.col("r.v"))
            .count()
        )
    finally:
        _with_checkpoint_dir(sc, prior)
    assert glob.glob(str(ckpt / "**" / "rdd-*"), recursive=True)
    assert mismatched == 0
    assert later == [first, first]


def test_run_concurrently_keeps_leg_order_and_raises_first_error():
    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        run_concurrently,
    )

    assert run_concurrently(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]
    assert run_concurrently() == []
    ran = []

    def boom(msg):
        def leg():
            ran.append(msg)
            raise ValueError(msg)

        return leg

    with pytest.raises(ValueError, match="first"):
        run_concurrently(boom("first"), lambda: ran.append("ok"),
                         boom("second"))
    assert sorted(ran) == ["first", "ok", "second"]  # every leg ran


# ---------------------------------------------------------------------------
# The concurrent composites, legs run serially in both orders
# ---------------------------------------------------------------------------

SF0001 = "/root/testdata/sf0.001"
COMPOSITES = [
    "c71_minhash_index_erase",
    "s17_stream_index_absorb",
    "c74_index_erasure_audit",
    "c76_compaction_lifecycle",
    "c77_nightly_index_lifecycle",
]


def _serial(reverse: bool):
    """A ``run_concurrently`` stand-in: the legs one at a time, first to
    last or last to first, results still in leg order."""

    def run(*legs):
        out = [None] * len(legs)
        order = range(len(legs))
        for i in reversed(order) if reverse else order:
            out[i] = legs[i]()
        return out

    return run


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(repr(r[i]) if isinstance(r[i], float) else r[i]
               for i in order) for r in rows),
        key=repr,
    )


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF0001}/{t}.parquet'"
        )
    return con


@pytest.mark.skipif(
    not os.path.exists(f"{SF0001}/documents.parquet"),
    reason="testdata not present",
)
@pytest.mark.parametrize("reverse", [False, True], ids=["forward", "reversed"])
@pytest.mark.parametrize("name", COMPOSITES)
def test_composite_rows_do_not_depend_on_leg_order(
    spark, duck, monkeypatch, name, reverse
):
    from bigdata_scala_offline_data_clean_spark.queries import (
        all_queries,
        round15,
        round16,
        round17,
    )

    for mod in (round15, round16, round17):
        monkeypatch.setattr(mod, "run_concurrently", _serial(reverse))
    spec = all_queries()[name]
    sdf = spec.spark(spark, SF0001)
    got = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    cur = duck.execute(spec.oracle)
    want = _canon([d[0] for d in cur.description], cur.fetchall())
    assert got == want
