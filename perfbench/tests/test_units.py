"""Spark-free tests of the benchmark's helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import eventlog  # noqa: E402
from run import tail  # noqa: E402

# Captured from three sf0.001 operations run under perfbench job groups;
# trimmed to the events and accumulables eventlog.py reads.
EVENT_LOG = os.path.join(HERE, "data", "eventlog_sf0.001.jsonl")


def test_tail_needs_ten_samples_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    values = [float(i) for i in range(1, 21)]  # 20 samples
    value, pct, beyond = tail(values)
    assert (value, pct, beyond) == (10.0, 50.0, 10)
    assert sum(v > value for v in values) == 10


def test_datagen_is_deterministic_and_scaled(tmp_path):
    a = datagen.build(0.001, str(tmp_path / "a"))
    b = datagen.build(0.001, str(tmp_path / "b"))
    for name in ("lineitem", "documents", "embeddings", "events"):
        ta = pq.read_table(os.path.join(a, f"{name}.parquet"))
        tb = pq.read_table(os.path.join(b, f"{name}.parquet"))
        assert ta.equals(tb), name
        assert pq.ParquetFile(os.path.join(a, f"{name}.parquet")).num_row_groups == 1
    assert pq.read_metadata(os.path.join(a, "lineitem.parquet")).num_rows == 6_000
    docs = pq.read_table(os.path.join(a, "documents.parquet")).to_pydict()
    texts = set(docs["text"])
    dups = [t for t in docs["text"] if t.endswith(" dup")]
    assert dups and all(t[: -len(" dup")] in texts for t in dups)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_event_log_group_totals():
    groups = eventlog.read_group_totals(EVENT_LOG)
    udf = groups["perfbench|llm_corpus|udf_pandas_scalar|1"]
    agg = groups["perfbench|olap_read|agg_pricing_summary|1"]
    # the pandas UDF ran Python workers; the relational key did not
    assert udf["python.run_ms"] > 0 and udf["python.bytes_sent"] > 0
    assert udf["python.bytes_received"] > 0
    assert agg["python.run_ms"] == 0 and agg["python.bytes_sent"] == 0
    assert agg["exec.shuffle_write_bytes"] > 0
    # every task end is charged to exactly one group
    with open(EVENT_LOG, encoding="utf-8") as fh:
        ends = [json.loads(line) for line in fh if '"SparkListenerTaskEnd"' in line]
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in ends)
    assert sum(g["exec.executor_run_ms"] for g in groups.values()) == run_ms
    assert set(groups) >= {
        "perfbench|llm_corpus|udf_pandas_scalar|1",
        "perfbench|olap_read|agg_pricing_summary|1",
        "perfbench|olap_read|join_inner_hash|1",
    }


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files, the benchmark exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_benchmark_json_names_every_workload():
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
