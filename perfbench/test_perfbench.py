"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


class _Corrupted:
    """A workload whose pass returns the reference with one sink count off by one."""

    def __init__(self, reference):
        self.reference = reference

    def run_pass(self, tracer=None):
        rows = [list(r) for r in self.reference]
        rows[0][2] += 1
        return [tuple(r) for r in rows]

    def check(self, output):
        return checks.flagship(output, self.reference)


def test_corrupted_output_is_a_failed_pass():
    reference = inputs.pipeline_reference(inputs.transcripts(seed=7, n_convs=60))
    tally = run.Tally()
    assert tally.one_pass(_Corrupted(reference)) is None
    assert (tally.attempted, tally.failed) == (1, 1)
    assert checks.flagship(list(reference), reference) is None


def test_corrupted_registry_and_sink_outputs_are_reported():
    ref = (["a", "n"], {"a": "str", "n": "int"}, [("x", "1"), ("y", "2")])
    dtypes = [("a", "string"), ("n", "bigint")]
    good = [{"a": "x", "n": 1}, {"a": "y", "n": 2}]
    bad = [{"a": "x", "n": 1}, {"a": "y", "n": 3}]
    assert checks.registry("q", dtypes, good, ref) is None
    assert checks.registry("q", dtypes, bad, ref) is not None
    assert checks.sink_partitions({"s": 3}, {"s": 3}) is None
    assert checks.sink_partitions({"s": 3}, {"s": 4}) is not None


def test_seed_moves_ids_but_keeps_sizes_and_mix():
    import duckdb

    a, b = (inputs.transcripts(seed=s, n_convs=60) for s in (1, 2))
    assert inputs.pipeline_reference(a) == inputs.pipeline_reference(b)
    ids = [set(duckdb.sql(f"SELECT DISTINCT conv_id FROM '{p}/*.parquet'").fetchall())
           for p in (a, b)]
    assert len(ids[0]) == len(ids[1]) == 60 and not ids[0] & ids[1]


def test_cache_key_follows_the_generator_sql(monkeypatch):
    before = inputs.transcripts_dir(1, 60, "SELECT 1")
    assert inputs.transcripts_dir(1, 60, "SELECT 2") != before
    monkeypatch.setattr(inputs, "_EVENTS_SQL", inputs._EVENTS_SQL + " ")
    assert inputs.transcripts_dir(1, 60, "SELECT 1") != before


def test_generator_matches_engine_generator():
    """At seed offset 0 the DuckDB generator yields gen.gen_transcripts' rows."""
    import duckdb

    from ilogtail_spark.gen import gen_transcripts
    from ilogtail_spark.session import get_spark

    path = inputs.transcripts(seed=0, n_convs=120)
    ours = duckdb.sql(f"SELECT conv_id, turn_idx, role, text, tool FROM '{path}/*.parquet'").fetchall()
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    try:
        theirs = [tuple(r) for r in gen_transcripts(spark, 120)
                  .select("conv_id", "turn_idx", "role", "text", "tool").collect()]
    finally:
        spark.stop()
    assert sorted(ours) == sorted(theirs)


def test_benchmark_json_names_every_metric_the_runner_prints():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--convs", "60"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600, check=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    printed = {line.split()[1]: line.split()[-1] for line in lines[:-1] if line.startswith(workload)}
    for name, unit in expected.items():
        assert printed[name] == unit
    assert "error_rate" in printed
