"""BENCHMARK.json, the workloads and the emitted metric names agree; the
tail rule; the x N replicas."""

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_spec_names_match_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == tracing.PER_LAYER


def test_tail_is_the_highest_percentile_with_enough_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    p, v = run.tail(xs)
    assert (p, v) == (92, 37.0)
    assert sum(1 for x in xs if x > v) == run.TAIL_MIN_BEYOND == 3


def test_tail_falls_back_to_the_maximum_on_few_samples():
    assert run.tail([3.0, 1.0, 2.0]) == (100, 3.0)


def test_fixed_pass_counts_give_a_tail_above_the_median():
    for w in WORKLOADS.values():
        n = run.MEASURED_PASSES * len(w.queries)
        p, _ = run.tail([float(i) for i in range(n)])
        assert 70 <= p < 100, (w, p)


def test_replicas_shift_keys_and_keep_dimensions():
    base = {n: pq.read_table(os.path.join(inputs.FIXTURES, f"{n}.parquet"))
            for n in inputs.table_names()}
    rep = inputs.replicate(base, 10, 1)
    assert rep["lineitem"].num_rows == 10 * base["lineitem"].num_rows
    assert rep["customer"] is base["customer"]
    keys = rep["orders"]["o_orderkey"].to_pylist()
    assert len(set(keys)) == len(keys)
    # every line item still points at an order of its own copy
    assert set(rep["lineitem"]["l_orderkey"].to_pylist()) <= set(keys)


def test_the_seed_sets_the_replica_layout_only():
    base = {n: pq.read_table(os.path.join(inputs.FIXTURES, f"{n}.parquet"))
            for n in ("orders", "lineitem", "events")}
    a, b, c = (inputs.replicate(base, 10, s) for s in (1, 1, 2))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])
    assert sorted(a["orders"]["o_orderkey"].to_pylist()) == \
        sorted(c["orders"]["o_orderkey"].to_pylist())
