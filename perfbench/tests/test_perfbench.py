"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The traced-run test starts the real server (about a minute).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import struct
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402
from pgclient import Result  # noqa: E402


def _datarow(values) -> bytes:
    out = struct.pack("!H", len(values))
    for v in values:
        if v is None:
            out += struct.pack("!i", -1)
        else:
            b = v.encode()
            out += struct.pack("!i", len(b)) + b
    return out


ORDERS_TEXT_COLS = [("o_orderkey", 20), ("o_custkey", 20),
                    ("o_orderstatus", 25), ("o_totalprice", 701),
                    ("o_orderdate", 1114), ("o_orderpriority", 25)]


@pytest.fixture(scope="module")
def ref(tmp_path_factory):
    data = datagen.ensure(str(tmp_path_factory.mktemp("data")))
    return workloads.Reference(data)


def _orders_text(row, price_delta=0.0) -> bytes:
    """One canonical orders row as the server's text DataRow."""
    ts = workloads._EPOCH + dt.timedelta(microseconds=row[4])
    return _datarow([str(row[0]), str(row[1]), row[2],
                     repr(row[3] + price_delta),
                     ts.strftime("%Y-%m-%d %H:%M:%S"), row[5]])


def _lookup_result(ref, key, corrupt=False):
    row = ref.orders_by_key[key]
    return Result(columns=ORDERS_TEXT_COLS,
                  raw_rows=[_orders_text(row, 0.01 if corrupt else 0.0)],
                  tag="SELECT 1")


def test_checker_accepts_the_right_answer(ref):
    key = ref.order_keys[17]
    p = workloads.Pass([workloads.Op(
        "short.lookup_simple", "short", 1.0,
        check=lambda: workloads.check_lookup(ref, key)(
            _lookup_result(ref, key)))])
    workloads.verify(p)
    assert p.ops[0].ok, p.ops[0].error


def test_checker_rejects_a_corrupted_answer(ref):
    key = ref.order_keys[17]
    corrupted = _lookup_result(ref, key, corrupt=True)
    assert not workloads.check_lookup(ref, key)(corrupted)
    # a dropped row of a scan changes the checksum
    rows = [_orders_text(r) for r in ref.orders_by_key.values()]
    full = Result(columns=ORDERS_TEXT_COLS, raw_rows=rows)
    assert workloads.check_scan(ref)(full)
    assert not workloads.check_scan(ref)(
        Result(columns=ORDERS_TEXT_COLS, raw_rows=rows[1:]))
    # verify() records the wrong answer as a failure
    p = workloads.Pass([workloads.Op(
        "short.lookup_simple", "short", 1.0,
        check=lambda: workloads.check_lookup(ref, key)(corrupted))])
    workloads.verify(p)
    assert not p.ops[0].ok and p.ops[0].error == "wrong answer"


def test_catalog_check_compares_with_the_pyarrow_schema(ref):
    want = ref.columns_of("orders")
    good = Result(columns=[("attname", 25), ("format_type", 25)],
                  raw_rows=[_datarow([n, t]) for n, t in want])
    assert workloads.check_describe(ref, "orders")(good)
    bad = Result(columns=good.columns,
                 raw_rows=[_datarow([n, "text"]) for n, _ in want])
    assert not workloads.check_describe(ref, "orders")(bad)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metric_names_match_benchmark_json():
    ops = [workloads.Op("connect", "connect", 10.0),
           workloads.Op("short.select1", "short", 2.0, rows=1)]
    passes = [workloads.Pass(ops[1:])]
    names = set(run.end_to_end(1.0, ops, passes, 1024))
    spec = _benchmark_json()
    assert names == {m["name"] for m in spec["end_to_end"]}
    assert set(run.METRIC_UNITS) == names
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.METRIC_UNITS


def test_per_layer_metric_names_match_benchmark_json():
    empty = {"spans": [], "counts": {}, "first_rows_ms": [], "jobs": {}}
    names = set(tracer.layer_metrics(empty)) | {
        f"traced.{n}" for n in run.METRIC_UNITS} | {
        "server.tree_rss_peak_mb", "server.connect_ms"}
    spec = _benchmark_json()
    assert names == {m["name"] for m in spec["per_layer"]}
    for m in spec["per_layer"]:
        name = m["name"]
        unit = (run.METRIC_UNITS[name[7:]] if name.startswith("traced.")
                else run.layer_unit(name))
        assert m["unit"] == unit, name


def test_self_time_subtracts_children_and_hot_calls():
    # span 1 (pgwire.query, 10 ms) holds span 2 (engine.sql, 4 ms) and
    # 3 ms of encoder calls; py4j calls are counted, never subtracted
    spans = [
        (2, 1, "engine.sql", "5:1", "stmt", 0.001, 0.005,
         {"py4j.send_command": [7, 0.002, 7]}),
        (1, 0, "pgwire.query", "5:1", "stmt", 0.0, 0.010,
         {"encoder.encode_row": [2, 0.003, 12]}),
    ]
    m = tracer.layer_metrics({"spans": spans, "counts": {},
                              "first_rows_ms": [], "jobs": {}})
    assert m["self_ms.engine"] == pytest.approx(4.0)
    assert m["self_ms.encoder"] == pytest.approx(3.0)
    assert m["self_ms.pgwire"] == pytest.approx(3.0)
    assert m["encoder.values"] == 12


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, run.PACKAGE)),
                    reason="needs the server package")
def test_traced_run_wrappers_fire():
    res = run.run("serving_mix", seed=1, seconds=0, trace=True, root=ROOT)
    ops = res["first"].ops + [op for p in res["passes"] for op in p.ops]
    assert all(op.ok for op in ops), [op.error for op in ops if not op.ok]
    m = tracer.layer_metrics(res["trace"])
    assert m["encoder.values"] > 0
    assert m["pgwire.send_calls_per_row"] > 0
    assert m["py4j.calls_per_stmt"] > 0
    assert m["catalog.bootstrap_ms"] > 0
    assert m["copy.copy_into_ms"] > 0
    assert m["operators.tvf_ms"] > 0
    assert m["fetch.collect_rows"] > 0
    stmt_ids = {s[3] for s in res["trace"]["spans"]}
    assert any(":" in sid and not sid.endswith(":connect")
               for sid in stmt_ids)
