"""Unit tests of the benchmark's statistics, op generators and fixture
data.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from stats import (failure_ratio, percentile, quartile_spread,  # noqa: E402
                   self_times)


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert percentile(xs, 90) == 90.0  # nearest rank 90, 10 beyond
    assert percentile(xs, 50) == 50.0
    with pytest.raises(ValueError, match="10 samples beyond"):
        percentile(xs[:99], 90)  # rank 90 of 99 leaves 9 beyond
    with pytest.raises(ValueError):
        percentile(xs, 99)  # 1 beyond
    with pytest.raises(ValueError):
        percentile([], 50)


def test_percentile_ignores_input_order():
    xs = list(range(25))
    random.Random(3).shuffle(xs)
    assert percentile(xs, 60) == 14  # rank 15 of 25 leaves 10 beyond


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / q2)
    assert quartile_spread([5.0] * 10) == 0.0
    with pytest.raises(ValueError):
        quartile_spread([0.0] * 10)


def test_failure_ratio():
    assert failure_ratio(0, 120) == 0.0
    assert failure_ratio(3, 120) == 0.025
    with pytest.raises(ValueError):
        failure_ratio(0, 0)
    with pytest.raises(ValueError):
        failure_ratio(5, 4)


def test_self_time_on_fixed_span_tree():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},   # op
        {"id": 1, "parent": 0, "start": 1.0, "end": 6.0},       # construct
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},       # py4j
        {"id": 3, "parent": 1, "start": 2.5, "end": 4.0},       # overlaps 2
        {"id": 4, "parent": 0, "start": 6.0, "end": 9.5},       # action
        {"id": 5, "parent": 4, "start": 9.0, "end": 11.0},      # sticks out
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0 - 2.0)   # children cover [2, 4]
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.5)
    assert st[4] == pytest.approx(3.5 - 0.5)   # only [9, 9.5] counts
    assert st[0] == pytest.approx(10.0 - 5.0 - 3.5)
    assert st[5] == pytest.approx(2.0)


def _expected():
    with open(os.path.join(os.path.dirname(HERE), "expected.json")) as fh:
        return json.load(fh)


def test_seeds_change_order_not_the_op_set():
    ids = sorted({**W.load_statements(), **W.METADATA_STATEMENTS})
    a = W.GovernedRounds(ids, seed=1).round()
    b = W.GovernedRounds(ids, seed=2).round()
    assert [(o.kind, o.target) for o in a] != [(o.kind, o.target) for o in b]
    reads = sorted(o.target for o in a if o.kind == "sql")
    assert reads == sorted(o.target for o in b if o.kind == "sql") == ids
    # every non-metadata read has a frozen reference in every state
    gov = _expected()["governed_sql"]
    for op in a + b:
        if op.kind in ("sql", "view_read") and op.target not in W.METADATA_STATEMENTS:
            for state in W.POLICY_STATES:
                assert f"{op.target}|{state}" in gov


def test_rounds_keep_view_and_write_invariants():
    ids = sorted({**W.load_statements(), **W.METADATA_STATEMENTS})
    for seed in range(20):
        ops = W.GovernedRounds(ids, seed).round()
        live: set[str] = set()
        for op in ops:
            if op.kind == "create_view":
                live.add(op.target)
            elif op.kind == "drop_view":
                live.discard(op.target)
            elif op.kind == "view_read":
                assert op.target in live, (seed, op)
        writes = sum(not o.is_read for o in ops)
        assert writes == 3 and 15 <= len(ops) / writes <= 25


def test_batch_pass_order_depends_on_seed_only():
    expected = _expected()
    for wl, keys in W.BATCH_KEYS.items():
        p1 = W.batch_pass(keys, random.Random(1))
        p2 = W.batch_pass(keys, random.Random(2))
        assert [o.target for o in p1] != [o.target for o in p2]
        assert [o.target for o in p1] == [
            o.target for o in W.batch_pass(keys, random.Random(1))]
        assert sorted(o.target for o in p1) == sorted(keys)
        assert set(keys) <= set(expected[wl])


def test_benchmark_json_names_what_run_reports():
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(W.SCALE)


def test_generated_tables_match_frozen_digests():
    frozen = _expected()["data"]
    for sf in sorted(set(W.SCALE.values())):
        tables = datagen.build_tables(sf)
        assert {k: datagen.table_digest(t) for k, t in tables.items()} \
            == frozen[f"sf{sf:g}"]


def test_stale_data_is_rebuilt_and_drift_stops_the_run(tmp_path):
    out = str(tmp_path / "sf0.001")
    digests = datagen.write_dir(out, 0.001)
    with open(os.path.join(out, "_SUCCESS"), "w") as fh:
        json.dump({"region": "stale"}, fh)
    assert datagen.ensure_dir(out, 0.001, digests) == out
    with open(os.path.join(out, "_SUCCESS")) as fh:
        assert json.load(fh) == digests
    with pytest.raises(datagen.DataDrift, match="lineitem"):
        datagen.ensure_dir(out, 0.001, {**digests, "lineitem": "0" * 64})
