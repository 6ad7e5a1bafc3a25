"""Self-tests of the benchmark: the view model, the tracer, the command
line contract, and that a corrupted expected value is caught.

    python3 -m pytest perfbench -q

Workload runs use the tiny size and share one Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import corpus as C  # noqa: E402
from perfbench import run, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


# -- model ---------------------------------------------------------------


def _put(url_n, tags, n, version=1):
    return {"origin": "dat://a", "pathname": f"/posts/{url_n}.json", "version": version,
            "type": "put", "content": "{}", "_tags": tags, "_n": n}


def test_model_retracts_retags_and_deletes():
    m = C.ViewModel()
    m.apply([_put(1, ["x", "x", "y"], 5), _put(2, ["y"], 7)])
    assert m.get("by_tag", "x") == {"key": "x", "value": [5, 5]}
    assert m.count("y") == 2 and m.total("y") == 12
    # re-tag file 1 away from x; delete file 2
    touched = m.apply([_put(1, ["z"], 1, 2),
                       {"origin": "dat://a", "pathname": "/posts/2.json", "version": 2,
                        "type": "del", "content": None}])
    assert touched == {"x", "y", "z"}
    assert m.get("tag_count", "x") is None and m.get("tag_sum", "y") is None
    assert m.list("tag_count") == [{"key": "z", "value": 1}]


def test_model_list_orders_by_key_then_url_with_limit():
    m = C.ViewModel()
    m.apply([_put(2, ["b"], 20), _put(1, ["b", "a"], 10), _put(3, ["c"], 30)])
    assert m.list("by_tag", gte="b") == [
        {"key": "b", "value": 10}, {"key": "b", "value": 20}, {"key": "c", "value": 30}]
    assert m.list("by_tag", gte="b", limit=2) == m.list("by_tag", gte="b")[:2]
    assert m.get_many("tag_sum", ["a", "q", "c"]) == {"a": 10, "c": 30}


def test_corpus_is_seeded_and_model_stays_consistent():
    def replay(seed):
        c = C.Corpus(seed, C.SIZES["standard"])
        m = C.ViewModel()
        rows = c.base_rows()
        m.apply(rows)
        # enough steps that origins run short of live files and get new ones
        for _ in range(300):
            step = c.drip_rows()
            assert len(step) == 8 and sum(r["type"] == "del" for r in step) == 1
            assert len({r["origin"] for r in step}) == 2
            m.apply(step)
        return rows, m

    rows_a, m_a = replay(5)
    rows_b, m_b = replay(5)
    assert rows_a == rows_b and m_a.list("by_tag") == m_b.list("by_tag")
    assert replay(6)[0] != rows_a
    for k in m_a.keys():
        assert m_a.count(k) == len(m_a.mapped(k)) and m_a.total(k) == sum(m_a.mapped(k))


def test_same_compares_numbers_by_value():
    assert C.same({"a": [1, 2.0]}, {"a": [1.0, 2]})
    assert not C.same({"a": 1}, {"a": 2})
    assert not C.same([1, 2], [1, 2, 3])
    assert not C.same({"corrupted": 3}, 3)


# -- tracer --------------------------------------------------------------


def test_tracer_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    st = tr.self_times()
    assert st["inner"]["count"] == 1
    outer = st["outer"]
    assert outer["total_s"] >= 0.05
    assert 0.015 <= outer["self_s"] < outer["total_s"] - 0.025
    parent = {s["name"]: s["parent"] for s in tr.spans}
    assert parent["inner"] == next(s["id"] for s in tr.spans if s["name"] == "outer")
    off = Tracer("t", enabled=False)
    with off.span("x"):
        pass
    with tr.span("skipped", on=False):
        pass
    assert off.spans == [] and "skipped" not in tr.self_times()


# -- command line ----------------------------------------------------------


def test_refuses_to_run_without_the_package(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ fails fast
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "drip", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_benchmark_json_matches_the_metrics_reported():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_cli_prints_one_result_line():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "3",
         "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(workloads.E2E)
    assert all(m["value"] > 0 for m in result["metrics"].values())


# -- workloads in one shared session ---------------------------------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("perfbench"))
    os.environ.update(run.fit_to_host(tmp))
    from dat_archive_map_reduce_spark import get_spark

    spark = get_spark("perfbench-tests")
    yield spark, tmp
    run.stop_processes(spark)


def _ctx(session, name, *, trace=False, corrupt=False, seed=1):
    spark, tmp = session
    d = os.path.join(tmp, f"{name}-{trace}-{corrupt}")
    os.makedirs(d)
    return workloads.Ctx(
        spark=spark, root=ROOT, tmp=d, seed=seed, size=C.SIZES["tiny"], seconds=0.5,
        trace=trace, corrupt=corrupt, t_start=time.perf_counter(),
    )


def _run(ctx, name):
    workloads.WORKLOADS[name](ctx)
    return ctx.report


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_workload_checks_pass_then_catch_a_corrupted_expectation(session, name):
    rep = _run(_ctx(session, name), name)
    assert rep.failed == 0, rep.failures
    assert rep.attempted >= 5
    assert set(rep.e2e) == set(workloads.E2E) and all(v > 0 for v in rep.e2e.values())
    bad = _run(_ctx(session, name, corrupt=True), name)
    assert bad.failed >= 1 and bad.attempted >= 1
    assert "corrupted" in bad.failures[0]


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_traced_run_fills_per_layer_metrics(session, name):
    ctx = _ctx(session, name, trace=True, seed=2)
    rep = _run(ctx, name)
    assert rep.failed == 0, rep.failures
    assert set(rep.layer) <= set(workloads.PER_LAYER)
    assert "trace.overhead_pct" in rep.layer
    names = {s["name"] for s in ctx.tracer.spans}
    if name == "drip":
        assert {"backfill", "watch.drain", "drip_step", "map_reduce.run_map"} <= names
        assert rep.layer["spark.jobs_per_op.drip_step"] >= 1
        assert rep.layer["catalog.bytes_written_per_step"] > 0
    else:
        assert {f"analytics.{q}" for q in workloads.QUERY_NAMES} <= names
        assert all(rep.layer[f"spark.jobs_per_op.{q}"] >= 1 for q in workloads.QUERY_NAMES)
