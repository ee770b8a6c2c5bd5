"""``operators.scale.iterate``: the one driver-side round loop of the
iterative operators (graph ranking, connected components, Lloyd
training, the perceptron, BPE)."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.components import connected_components
from nextbus2pg_spark.operators.scale import iterate


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().logical().toString().splitlines())


def test_eager_cut_evaluates_a_fanned_out_frame_once_per_round(spark):
    """The guard against a lazy cut first read under fan-out: each
    round joins the previous frame with its own aggregate (two
    consumers before any action), and the new key column is a counting
    Python UDF. With ``fans_out=True`` every row is evaluated once per
    round while the loop runs, and the final action adds nothing."""
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(k):
        evaluated.add(1)
        return k

    def step(df):
        sizes = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        return df.join(sizes, "k").select(counted("k").alias("k"))

    start = spark.range(20).select(F.col("id").cast("string").alias("k"))
    out, _ = iterate(start, step, 3, name="fan_out", fans_out=True)
    assert evaluated.value == 3 * 20
    assert sorted(int(r.k) for r in out.collect()) == list(range(20))
    assert evaluated.value == 3 * 20


@pytest.mark.parametrize("fans_out", [False, True])
def test_plan_depth_does_not_grow_with_rounds(spark, fans_out):
    start = spark.range(8).select(F.col("id").alias("k"), F.lit(1).alias("v"))

    def step(df):
        return df.groupBy("k").agg((F.sum("v") + 1).alias("v"))

    one, _ = iterate(start, step, 1, name="depth", fans_out=fans_out)
    twenty, _ = iterate(start, step, 20, name="depth", fans_out=fans_out)
    assert _plan_lines(twenty) <= _plan_lines(one)
    assert {r.v for r in twenty.collect()} == {21}


def test_stop_ends_the_loop_at_the_first_round_it_fires(spark):
    steps = []

    def step(df):
        steps.append(1)
        return df.select((F.col("v") + 1).alias("v"))

    start = spark.range(1).select(F.lit(0).alias("v"))
    out, stopped_at = iterate(
        start, step, 10, name="stop", stop=lambda df: df.first().v >= 3
    )
    assert (stopped_at, len(steps), out.first().v) == (3, 3, 3)

    out, stopped_at = iterate(
        start, step, 2, name="stop", stop=lambda df: df.first().v >= 99
    )
    assert (stopped_at, out.first().v) == (None, 2)


def test_zero_rounds_returns_the_input_state(spark):
    start = spark.range(3)
    state = (start, 7)
    out, stopped_at = iterate(
        state, lambda s: pytest.fail("no round may run"), 0, name="zero"
    )
    assert out is state and stopped_at is None


def test_tuple_state_cuts_only_new_frames(spark):
    """A frame the step carries over unchanged is not cut again, so a
    half-round operator (HITS) pays one cut per half."""
    a, b = spark.range(2), spark.range(3)
    (a2, b2, n), _ = iterate(
        (a, b, 0), lambda s: (s[0], s[1].where("id > 0"), s[2] + 1), 1,
        name="tuple",
    )
    assert a2 is a and b2 is not b and n == 1
    assert b2._jdf.queryExecution().logical().getClass().getSimpleName() == (
        "LogicalRDD"
    )


def test_rounds_carry_the_operator_named_job_description(spark):
    sc = spark.sparkContext
    seen = []

    def step(df):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return df.select((F.col("id") + 1).alias("id"))

    sc.setJobDescription("caller")
    try:
        iterate(spark.range(2), step, 2, name="probe")
        assert seen == ["probe round 1", "probe round 2"]
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    iterate(spark.range(2), step, 1, name="probe")
    assert sc.getLocalProperty("spark.job.description") is None


def test_connected_components_converging_on_its_last_round_returns(spark):
    """``stopped_at`` tells a stop that fires on the last allowed round
    apart from running out of rounds: the smallest ``max_iter`` that
    converges returns, one fewer raises."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )
    needed = None
    for max_iter in range(1, 8):
        try:
            comp = connected_components(chain, max_iter=max_iter)
        except RuntimeError as exc:
            assert "did not converge" in str(exc)
            continue
        needed = max_iter
        break
    assert needed is not None and needed > 1
    assert {r.component for r in comp.collect()} == {0}


def _loop_checkpoints(source: str, filename: str) -> "list[str]":
    """``localCheckpoint`` (or ``scale.cut``) calls inside a
    ``for``/``while`` body, as ``function:line``."""
    hits = []
    for fn in ast.walk(ast.parse(source, filename)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for loop in ast.walk(fn):
            if not isinstance(loop, (ast.For, ast.While, ast.AsyncFor)):
                continue
            for stmt in loop.body + loop.orelse:
                for node in ast.walk(stmt):
                    f = getattr(node, "func", None)
                    if (
                        isinstance(f, ast.Attribute)
                        and f.attr == "localCheckpoint"
                        or isinstance(f, ast.Name) and f.id == "cut"
                    ):
                        hits.append(f"{fn.name}:{node.lineno}")
    return hits


def test_only_iterate_cuts_lineage_inside_a_loop():
    """One round loop: no function under ``operators/`` but
    ``iterate`` checkpoints inside a ``for``/``while`` body. Reads the
    source only."""
    planted = (
        "def f(df):\n"
        "    for _ in range(3):\n"
        "        df = df.localCheckpoint(eager=False)\n"
        "    while df:\n"
        "        df = cut(df)\n"
    )
    assert _loop_checkpoints(planted, "planted") == ["f:3", "f:5"]

    pkg = pathlib.Path(__file__).resolve().parents[1] / "nextbus2pg_spark"
    ops = pkg / "operators"
    offenders = [
        f"{path.name}:{hit}"
        for path in sorted(ops.rglob("*.py"))
        for hit in _loop_checkpoints(path.read_text(), str(path))
        if not hit.startswith("iterate:")
    ]
    assert not offenders, offenders
