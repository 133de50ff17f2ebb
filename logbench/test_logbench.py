"""Tests of the benchmark itself.

Run from the root of a checkout:

    python3 -m pytest logbench -q

The generator and metric tests need no Spark; the smoke tests run each
workload at toy sizes in a subprocess, traced and untraced.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
#: scratch space inside the checkout (git-ignored), like the runs use
SCRATCH = os.path.join(HERE, ".work", "test")

import gen  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture
def scratch():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    yield SCRATCH
    shutil.rmtree(SCRATCH, ignore_errors=True)


def test_messages_are_seeded_ordered_and_sized():
    a = gen.messages(7, "t", gen.BASE_TS_MS, 500)
    assert a == gen.messages(7, "t", gen.BASE_TS_MS, 500)
    assert a != gen.messages(8, "t", gen.BASE_TS_MS, 500)
    assert all(x.ulid < y.ulid for x, y in zip(a, a[1:]))
    assert len({m.position for m in a}) == len(a)
    sizes = [len(m.data["body"]) for m in a]
    assert min(sizes) >= gen.PAYLOAD_MIN and max(sizes) <= gen.PAYLOAD_MAX
    assert gen.digest(a) != gen.digest(a[:-1])


def test_catalog_tables_are_seeded(scratch):
    counts = gen.catalog_tables(3, os.path.join(scratch, "a"), 0.1)
    gen.catalog_tables(3, os.path.join(scratch, "b"), 0.1)
    assert set(counts) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name in counts:
        with open(os.path.join(scratch, "a", f"{name}.parquet"), "rb") as fa:
            a = fa.read()
        with open(os.path.join(scratch, "b", f"{name}.parquet"), "rb") as fb:
            b = fb.read()
        assert a == b, name


def test_compare_finds_a_changed_timestamp_unit(scratch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ref, got = os.path.join(scratch, "ref"), os.path.join(scratch, "got")
    gen.catalog_tables(3, ref)
    gen.catalog_tables(4, got)
    assert gen.compare(ref, got) == []
    path = os.path.join(ref, "events.parquet")
    events = pq.read_table(path)
    ts = events.schema.get_field_index("ts")
    pq.write_table(events.set_column(ts, "ts", events["ts"].cast(pa.timestamp("ns"))), path)
    assert gen.compare(ref, got) == [
        "events.ts.type: test data 'timestamp[ns]', generated 'timestamp[us]'"
    ]


def test_quantile_and_p90_rule():
    assert workloads.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert workloads.quantile(range(101), 0.9) == 90
    assert "latency_p90_ms" not in workloads.latency_metrics(list(range(99)))
    assert "latency_p90_ms" in workloads.latency_metrics(list(range(100)))


def test_benchmark_json_matches_what_the_runner_prints():
    import run

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    for w in bench["workloads"]:
        assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units(
            w["name"]
        )


def test_refuses_to_run_without_the_package(scratch):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch)
    shutil.copytree(
        HERE, os.path.join(scratch, "logbench"), ignore=shutil.ignore_patterns(".work")
    )
    out = subprocess.run(
        [sys.executable, "logbench/run.py", "--workload", "seek-read",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=scratch, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    import run

    out = subprocess.run(
        [sys.executable, "logbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = run.per_layer_units(workload) if trace else run.E2E_UNITS
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert m["unit"] == want[name]
        if not trace:
            assert m["value"] > 0, name
