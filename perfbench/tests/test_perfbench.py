"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

- a tiny-scale smoke run of every workload, untraced and traced, from
  a working directory outside the repository, checking the emitted
  metric names and units against BENCHMARK.json;
- the status-store reader on a job the test runs itself;
- the pure helpers (metric-string parsing, interval union).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_spec_workloads_match_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_emits_the_declared_metrics(workload, trace, tmp_path):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.01"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= len(WORKLOADS[workload].ops)
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    # every per-operation metric of the workload is printed with its unit
    for metric, unit in WORKLOADS[workload].ops.values():
        assert any(line.split()[1:4:2] == [metric, unit]
                   for line in proc.stdout.splitlines() if line.startswith("# ")), metric
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))


def test_run_fails_without_the_program(tmp_path):
    """Outside a checkout (only the benchmark files), no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "engine_validate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from sparkval.session import get_spark

    s = get_spark("perfbench-tests", parallelism=2, shuffle_partitions=2)
    yield s
    s.stop()


def test_status_reader_attributes_a_job_group(spark):
    from pyspark.sql import functions as F

    def echo(batches):
        yield from batches

    tr = spans.Tracer(spark, prefix="t")
    with tr.span("op.outer", "outer"):
        with tr.span("layer.python", "outer") as sp:
            df = (spark.range(0, 20_000, 1, 2)
                  .withColumn("s", F.repeat(F.lit("ab"), 20))
                  .mapInPandas(echo, "id long, s string")
                  .groupBy((F.col("id") % 5).alias("k")).count())
            sp.called()
            rows = df.collect()
        with tr.span("layer.idle", "outer"):
            pass
    assert len(rows) == 5
    by_name = {s.name: s.metrics for s in tr.finish()}
    m = by_name["layer.python"]
    assert m["jobs"] >= 1
    assert m["executor_run_s"] > 0 and m["executor_cpu_s"] > 0
    assert m["shuffle_write_bytes"] > 0 and m["shuffle_read_bytes"] > 0
    assert m["python_bytes_sent"] > 20_000 * 40  # the strings went to Python
    assert m["python_bytes_returned"] > 0
    assert 0 <= m["plan_s"] <= m["wall_s"] and m["self_s"] == m["wall_s"]
    assert 0 <= m["driver_gap_s"] < m["wall_s"]
    idle = by_name["layer.idle"]
    assert idle["jobs"] == 0 and idle["executor_run_s"] == 0
    outer = by_name["op.outer"]
    assert outer["jobs"] == 0  # jobs belong to the innermost span only
    assert outer["self_s"] == pytest.approx(
        outer["wall_s"] - m["wall_s"] - idle["wall_s"], abs=1e-9)


@pytest.mark.parametrize("text,value", [
    ("31 ms", 0.031),
    ("total (min, med, max (stageId: taskId))\n6.6 s (1.6 s, 1.7 s, 1.7 s (stage 0.0: task 1))",
     6.6),
    ("total (min, med, max (stageId: taskId))\n21.4 MiB (5.4 MiB, 5.4 MiB, 5.4 MiB)",
     21.4 * 2 ** 20),
    ("1141.0 B", 1141.0),
    ("200,000", 200_000.0),
    ("2.0 m", 120.0),
])
def test_parse_metric(text, value):
    assert spans.parse_metric(text) == pytest.approx(value)


def test_covered_s_unions_and_clips():
    iv = [(0, 1000), (500, 1500), (3000, 4000), (9000, 9500)]
    assert spans.covered_s(iv, 0, 5000) == pytest.approx(2.5)
    assert spans.covered_s(iv, 1200, 3500) == pytest.approx(0.8)
    assert spans.covered_s([], 0, 10) == 0.0
