"""The layer wrappers see every call and change no result.

Each side runs in its own process (the wrappers patch the engine's modules
for the life of a process): one pass over the 16 read keys of olap_etl on
sf0.001 tables, with and without ``layers.install``, printing the
``io.load`` call count and a digest of every operation's rows.

    python3 -m pytest perfbench/tests -q
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

# io.load calls made while constructing the 16 read operations once
OLAP_READ_LOAD_CALLS = 37

_PASS = r"""
import json, os, sys
root, bench, sf_dir, run_dir, wrapped = sys.argv[1:6]
sys.path[:0] = [root, bench]
import run
run.configure_env(run_dir, None)
os.chdir(run_dir)
tracer = None
if wrapped == "1":
    import layers
    tracer = layers.Tracer()
    layers.install(tracer)
    tracer.timing = True
from swallow_spark.session import get_spark
from swallow_spark.registry import declared_queries
from tools.oracle_diff import canon_pdf, digest
import workloads
spark = get_spark("perfbench-test", cpus=2)
qs = declared_queries()
hashes = {}
for key in workloads.OLAP_READ:
    hashes[key] = digest(canon_pdf(qs[key].fn(spark, sf_dir).toPandas()))
spark.stop()
print(json.dumps({"io_load_calls": tracer.calls["io.load"] if tracer else None, "hashes": hashes}))
"""


def _one_pass(sf_dir: str, run_dir: str, wrapped: bool) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _PASS, ROOT, BENCH, sf_dir, run_dir, "1" if wrapped else "0"],
        capture_output=True, text=True, timeout=600, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def passes(tmp_path_factory):
    sys.path.insert(0, BENCH)
    import datagen

    base = tmp_path_factory.mktemp("layers")
    sf_dir = datagen.build(0.001, str(base / "sf0.001"))
    return (_one_pass(sf_dir, str(base / "wrapped"), True),
            _one_pass(sf_dir, str(base / "plain"), False))


def test_wrappers_count_every_load(passes):
    wrapped, _ = passes
    assert wrapped["io_load_calls"] == OLAP_READ_LOAD_CALLS


def test_wrappers_leave_outputs_unchanged(passes):
    wrapped, plain = passes
    assert len(wrapped["hashes"]) == 16
    assert wrapped["hashes"] == plain["hashes"]


def test_install_refuses_after_queries_import():
    code = (
        "import sys; sys.path[:0] = [sys.argv[1], sys.argv[2]]\n"
        "import swallow_spark.io, layers\n"
        "try:\n    layers.install(layers.Tracer())\nexcept RuntimeError:\n    print('refused')\n"
    )
    proc = subprocess.run([sys.executable, "-c", code, ROOT, BENCH],
                          capture_output=True, text=True, timeout=120, check=False)
    assert proc.stdout.strip() == "refused", proc.stderr[-2000:]
