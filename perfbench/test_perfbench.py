"""Tests of the benchmark's own code: result checking, full-output timing,
span self times and the compare verdicts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import contextlib
import io
import math

import pandas as pd
import pytest

from perfbench import check, compare, run, tracing


def _frame() -> pd.DataFrame:
    return pd.DataFrame({
        "id": [1, 2, 3, 4],
        "score": [0.1, 0.25, 1.0, float("nan")],
        "tags": [["a"], ["b", "c"], [], None],
        "name": ["w", "x", "y", "z"],
    })


def test_digest_ignores_row_and_column_order():
    df = _frame()
    shuffled = df.iloc[[2, 0, 3, 1]][["name", "tags", "score", "id"]].reset_index(drop=True)
    assert check.digest(shuffled) == check.digest(df)


def test_digest_equates_integral_float_and_int():
    df = _frame()
    widened = df.assign(id=df["id"].astype("float64"))
    assert check.digest(widened) == check.digest(df)


def test_checker_fails_a_result_with_one_row_dropped():
    expected = check.digest(_frame())
    got = check.digest(_frame().drop(index=1))
    assert got.problems(expected)


def test_checker_fails_a_duplicated_row_in_place_of_another():
    expected = check.digest(_frame())
    got = check.digest(_frame().drop(index=1).pipe(lambda d: pd.concat([d, d.iloc[[0]]])))
    assert got.rows == expected.rows
    assert got.problems(expected) == ["row values differ"]


def test_checker_fails_a_last_digit_float_change():
    df = _frame()
    nudged = df.assign(score=[0.1, math.nextafter(0.25, 1.0), 1.0, float("nan")])
    assert check.digest(nudged).problems(check.digest(df)) == ["row values differ"]


def test_span_self_times_add_up_to_the_parent():
    tr = tracing.Tracer(True)
    with tr.span("pass") as p:
        for name in ("a", "b"):
            with tr.span(name, p, name) as q:
                with tr.span("build", q, name):
                    sum(range(10_000))
    children = tr.children(p)
    total = tr.self_seconds(p) + sum(c.seconds for c in children)
    assert total == pytest.approx(tr.spans[p].seconds, abs=1e-9)
    assert all(tr.self_seconds(c.id) >= 0 for c in children)


def test_compare_verdicts():
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    faster = [v * 0.8 for v in base]
    slower = [v * 1.3 for v in base]
    assert compare.verdict(base, faster, 10, 10, "lower", 0.1) == "better"
    assert compare.verdict(base, slower, 0, 10, "lower", 0.1) == "worse"
    assert compare.verdict(base, list(base), 0, 10, "lower", 0.1) == "unchanged"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert compare.verdict(base, noisy, 5, 10, "lower", 0.1) == "unresolved"


@pytest.fixture(scope="module")
def spark_and_data(tmp_path_factory):
    from create_proposals_using_vector_db_public_spark.session import get_spark

    data = str(tmp_path_factory.mktemp("perfbench") / "sf0.01")
    with contextlib.redirect_stdout(io.StringIO()):
        run.gen_sf.generate(0.01, data, seed=7)
    spark = get_spark("perfbench-test", shuffle_partitions=4, master="local[2]")
    yield spark, data
    run.stop_spark(spark)


def test_timed_plan_keeps_every_join_of_the_ann_recall_query(spark_and_data):
    """The benchmark times the query's own plan, with its ANN arm; a count()
    over the same query lets Catalyst prune it to one join."""
    spark, data = spark_and_data
    name = "q_ann_recall"
    expected = check.oracle_digests(data, [name], run.ORACLES, f"{data}/../duckdb", "1GB")
    workload = run.Workload("test", 0.01, (name,))
    runner = run.Runner(spark, workload, expected, tracing.Tracer(True))
    timed = runner.query(name, data, "pass0", None)
    assert timed["ok"], timed.get("error") or timed["problems"]

    own = run.QUERIES[name](spark, data)
    own.collect()
    counted = run.QUERIES[name](spark, data).groupBy().count()
    counted.collect()
    own_joins = tracing.plan_stats(own._jdf.queryExecution())["catalyst.joins"]
    count_joins = tracing.plan_stats(counted._jdf.queryExecution())["catalyst.joins"]
    assert timed["catalyst"]["catalyst.joins"] == own_joins
    assert count_joins < own_joins


def test_benchmark_json_names_every_metric_the_runs_print():
    import json
    import os

    from perfbench import layers
    from perfbench.workloads import QUALITY_METRICS, WORKLOADS

    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == ["pass_s", "setup_s", "live_mb", "ok_frac"]
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    assert set(QUALITY_METRICS) <= set(layers.UNITS)
