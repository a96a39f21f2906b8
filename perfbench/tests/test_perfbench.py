"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402

run._environment()

import layers  # noqa: E402
import ledger  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from datawarehouse_code_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus="4")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    run._stop()
    shutil.rmtree(run.WORK, ignore_errors=True)


@pytest.fixture(scope="module")
def warm_passes(spark, tmp_path_factory):
    """Per-operation inclusive counters of two traced passes of
    ``cube_table`` and ``dedup_minhash_lsh``, after a warm-up pass."""
    wl = workloads.QueryWorkload("counters", ["cube_table", "dedup_minhash_lsh"], seed=5,
                                 goldens={})
    b = workloads.Bench(str(tmp_path_factory.mktemp("counters")), seed=5, trace=True)
    wl.make_inputs(b)
    wl.prepare(spark, b)
    passes = []
    for i in range(2):
        b.ledger.roots.clear()
        lat, failed = wl.iteration(spark, b, i)
        assert failed == 0 and len(lat) == 2
        passes.append({r.name: {k: r.inclusive(k) for k in ledger.COUNTERS}
                       for r in b.ledger.roots})
    return passes


@pytest.mark.parametrize("op, counters", [
    ("op:cube_table", ("jobs", "stages", "shuffle_read_bytes", "shuffle_write_bytes",
                       "shuffle_write_records")),
    ("op:dedup_minhash_lsh", ("shuffle_write_bytes", "shuffle_write_records")),
])
def test_warm_traced_counters_repeat(warm_passes, op, counters):
    """Two warm traced passes launch the same work: the ledger's counters
    are a basis for claims only if they repeat exactly."""
    first, second = warm_passes
    assert first[op]["jobs"] > 0
    assert {k: first[op][k] for k in counters} == {k: second[op][k] for k in counters}


@pytest.mark.xfail(strict=False, reason=(
    "dedup_minhash_lsh's job count is not deterministic: adaptive execution "
    "decides at run time whether the final write re-reads a finished 77 KB "
    "shuffle in a job of its own, so warm passes run 6 or 7 exec jobs"))
def test_dedup_minhash_lsh_jobs_repeat(warm_passes):
    first, second = warm_passes
    keys = ("jobs", "stages", "shuffle_read_bytes")
    op = "op:dedup_minhash_lsh"
    assert {k: first[op][k] for k in keys} == {k: second[op][k] for k in keys}


def test_wrong_golden_counts_as_failed(spark):
    """A query whose result disagrees with its golden fails every timed run
    of it, and the run is reported incorrect."""
    seed = 7
    goldens = {"wrong": {str(seed): {"dim_date": [1, "0000000000000000"]}}}
    wl = workloads.QueryWorkload("wrong", ["dim_date"], seed, goldens=goldens)
    out = run.run("wrong", seed, seconds=0.0, trace=False, wl=wl)
    assert out["correct"] is False
    assert out["attempted"] >= 1
    assert out["failed"] == out["attempted"]


def test_short_full_rebuild_counts_as_failed(spark):
    """A full rebuild that leaves rows out fails its leg, although the
    incremental leg is right."""

    class LosesFactFile(workloads.WarehouseEtl):
        def iteration(self, spark, b, i):
            out = super().iteration(spark, b, i)
            fact = os.path.join(self.last[0], "fact")
            for root, _dirs, files in os.walk(fact):
                data = [f for f in files if f.endswith(".parquet")]
                if data:
                    os.remove(os.path.join(root, data[0]))
                    break
            return out

    out = run.run("warehouse_etl", 3, seconds=0.0, trace=False, wl=LosesFactFile())
    assert out["correct"] is False
    assert out["failed"] == 1 and out["attempted"] == 2


def test_busy_s_merges_overlapping_windows():
    windows = [(1000, 3000), (2000, 4000), (6000, 7000)]
    assert ledger.busy_s(windows, 0.0, 10.0) == pytest.approx(4.0)
    assert ledger.busy_s(windows, 2.5, 6.5) == pytest.approx(2.0)


def test_benchmark_json_names_what_the_harness_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    for w in spec["workloads"]:
        workloads.make(w["name"], seed=1)
