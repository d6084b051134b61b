"""Tests of the benchmark itself; none of them starts Spark.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

from perfbench import datagen
from perfbench.bench import OPERATOR_SPANS, Run, end_to_end_metrics, layer_metrics
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, Context, KvLookup, UpsertMixed, same_rows

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("name", sorted(datagen.OP_LISTS))
def test_same_seed_gives_same_op_list(name):
    gen = datagen.OP_LISTS[name]
    assert gen(3, 64) == gen(3, 64)
    assert gen(3, 64) != gen(4, 64)
    # the kind cycle is fixed; only the arguments come from the seed
    assert [op["kind"] for op in gen(3, 64)] == [op["kind"] for op in gen(4, 64)]


@pytest.mark.parametrize("name", sorted(datagen.SOURCES))
def test_same_seed_gives_same_inputs(name):
    make = datagen.SOURCES[name]
    assert make(3).equals(make(3))
    assert not make(3).equals(make(4))


def test_every_benchmarked_workload_exists():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


def _run():
    return Run(SimpleNamespace(trace=0, seed=5), "", "")


def test_verifier_counts_corrupted_expected_value(tmp_path):
    datagen.write_sources(5, str(tmp_path / "src"), ["lineitem"])
    ctx = Context(None, str(tmp_path))
    wl = KvLookup(ctx)
    op = {"kind": "query", "key": 4}  # order 1 exists for every seed
    answer = ctx.oracle("SELECT * FROM lineitem WHERE l_orderkey = 4")
    assert answer
    run = _run()
    run._checked(wl, op, answer, None)
    assert (run.attempted, run.failed) == (1, 0)

    row = answer[0]
    corrupted = [row[:3] + (row[3] + 1.0,) + row[4:]] + answer[1:]
    ctx.oracle = lambda sql, params=None: corrupted
    run._checked(wl, op, answer, None)
    assert (run.attempted, run.failed) == (2, 1)
    ctx.close()


def test_verifier_counts_corrupted_model_answer():
    wl = UpsertMixed(Context(None, ""))
    item = (7, 70, None, "view", 1.5, '{"k": 1}')
    run = _run()
    run._checked(wl, {"kind": "put"}, ([item], [item]), None)
    run._checked(wl, {"kind": "put"}, ([item], [item[:4] + (1.25, item[5])]), None)
    run._checked(wl, {"kind": "count"}, (10, 11), None)
    run._checked(wl, {"kind": "put"}, (None, []), "RuntimeError: boom")
    assert (run.attempted, run.failed) == (4, 3)


def test_same_rows_tolerance_is_opt_in():
    assert same_rows([(1, 0.1 + 0.2)], [(1, 0.3)]) is not None
    assert same_rows([(1, 0.1 + 0.2)], [(1, 0.3)], rel_tol=1e-9) is None
    assert same_rows([(1, 2.0)], [(1, 2.0), (1, 2.0)]) is not None


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("op"):
        with tr.span("a"):
            time.sleep(0.02)
        time.sleep(0.01)
    (op,) = tr.spans[:1]
    self_op = tr.self_times("op")[0]
    assert 0.005 < self_op < op.duration - 0.015


def _names_units(metrics: dict) -> set:
    return {(k, u) for k, (_v, u) in metrics.items()}


def test_end_to_end_metric_names_match_benchmark_json():
    m = end_to_end_metrics([3.0, 2.0, 2.5], [0.9, 1.1, 1.0], 40, 3.2, 0.4, 1100.0)
    assert _names_units(m) == {(e["name"], e["unit"]) for e in BENCH["end_to_end"]}
    assert all(v > 0 for v, _u in m.values())


def test_layer_metric_names_match_benchmark_json():
    tr = Tracer()

    def span(name, **attrs):
        with tr.span(name, **attrs):
            time.sleep(0.001)

    span("session.get_spark")
    span("keyed_store.create_table")
    with tr.span("op", jobs=1, tasks=8):
        span("sources.read_dynamo")
        span("spark.action")
    with tr.span("dynamo.direct"):
        span("dynamo.schema")
        span("dynamo.pushFilters", offered=2, pushed=2)
        span("dynamo.partitions", segments=8, files=16)
        span("dynamo.read", rows=3)
    span("pruning.with_pruned_scans", columns_read_frac=0.5)
    span("sources.write_dynamo", files=16, bytes=10_000, user_bytes=100)
    span("dynamo.writer_write")
    span("dynamo.commit")
    for name in OPERATOR_SPANS:
        span(name)
    m = layer_metrics(tr, {False: [1.0], True: [1.1]}, 123_456)
    assert _names_units(m) == {(e["name"], e["unit"]) for e in BENCH["per_layer"]}


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = BENCH["command"] + ["--workload", "kv_lookup", "--seed", "1",
                              "--seconds", "1", "--trace", "0"]
    cmd[0] = sys.executable
    res = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert res.returncode != 0
    assert res.stdout == ""
