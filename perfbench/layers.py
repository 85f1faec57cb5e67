"""Per-layer counters recorded around the engine's public functions.

``install`` replaces the public functions of the engine's layers with thin
wrappers that belong to one ``Tracer``. It must run before the query modules
are imported: they bind ``load``, ``materialize`` and ``fan_out`` with
``from ..io import load`` at import time, so a wrapper installed later would
see no calls.

Layers and the end-to-end metric each one should move:

| layer | counters | should move |
|---|---|---|
| session, registry | session.get_spark_s, registry.import_s | setup_s |
| session | session.conform_calls, session.conform_s | pass_s on olap_etl |
| io read | io.load_calls, io.load_s, io.load_jobs | pass_s on olap_etl |
| io write, pipeline | io.write_s, io.write_bytes, pipeline.to_df_s, pipeline.sink_write_s | pass_s on olap_etl |
| queries | queries.build_s, queries.build_jobs, queries.build_self_s | pass_s on graph_iterative, olap_etl |
| ops.materialize | ops.materialize_calls, ops.materialize_s | pass_s (and proc.peak_rss_mb) on graph_iterative |
| ops corpus kernels | ops.fan_out_calls, ops.fan_out_s, ops.dedup_s, ops.dist_rank_s | pass_s on llm_corpus |
| Spark action (status tracker) | exec.action_s, exec.jobs, exec.stages, exec.tasks, exec.failed_tasks | pass_s, all workloads |
| Spark executors (event log) | exec.executor_run_ms, exec.executor_cpu_ms, exec.gc_ms, exec.shuffle_*_bytes, exec.spill_bytes, exec.core_busy_ratio | cpu_s, all workloads |
| Python workers (event log) | python.boot_ms, python.init_ms, python.run_ms, python.bytes_sent, python.bytes_received | cpu_s, pass_s on llm_corpus |

The last three rows are counted by ``run.py`` and ``eventlog.py``.

With ``timing`` off a wrapper only forwards the call (and notes which tables
``io.load`` reads while ``record_tables`` is on).
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import Counter

# (module, attribute, layer, count jobs started inside the call)
_FUNCTIONS = [
    ("swallow_spark.session", "conform_session", "session.conform", False),
    ("swallow_spark.io", "load", "io.load", True),
    ("swallow_spark.io", "write_parquet", "io.write", False),
    ("swallow_spark.ops.parallel", "fan_out", "ops.fan_out", False),
    ("swallow_spark.ops.materialize", "materialize", "ops.materialize", False),
    ("swallow_spark.ops.dedup", "shingle_jaccard_pairs", "ops.dedup", False),
    ("swallow_spark.ops.dist_rank", "distributed_prefix", "ops.dist_rank", False),
    ("swallow_spark.ops.dist_rank", "ntile_from_rank", "ops.dist_rank", False),
]
# (class path, method, layer)
_METHODS = [
    ("swallow_spark.pipeline", "Pipeline", "to_df", "pipeline.to_df"),
    ("swallow_spark.pipeline", "ParquetSink", "write", "pipeline.sink_write"),
]


def dir_bytes(path: str) -> int:
    """Bytes of a file, or of every file below a directory (0 if absent)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Tracer:
    """Call counts, inclusive seconds and job counts per layer.

    ``outer_s`` accumulates the time of outermost wrapped calls only, so
    ``queries.build_self_s`` can subtract child-layer time without counting
    nested calls (``io.load`` inside ``pipeline.to_df``) twice."""

    def __init__(self) -> None:
        self.timing = False
        self.record_tables = False
        self.tables: set[str] = set()
        self.calls: Counter = Counter()
        self.secs: Counter = Counter()
        self.jobs: Counter = Counter()
        self.write_bytes = 0
        self.outer_s = 0.0
        self._depth = 0
        self.job_counter = None  # () -> jobs started so far in the current group

    def wrap(self, layer: str, fn, count_jobs: bool = False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.record_tables and layer == "io.load":
                self.tables.add(_io_path(args, kwargs))
            if not self.timing:
                return fn(*args, **kwargs)
            j0 = self.job_counter() if count_jobs and self.job_counter else 0
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._depth -= 1
                if self._depth == 0:
                    self.outer_s += dt
                self.calls[layer] += 1
                self.secs[layer] += dt
                if count_jobs and self.job_counter:
                    self.jobs[layer] += self.job_counter() - j0
                if layer == "io.write":
                    self.write_bytes += dir_bytes(_write_path(args, kwargs))

        return wrapper


def _io_path(args, kwargs) -> str:
    from swallow_spark.io import table_path

    sf_dir = kwargs.get("sf_dir", args[1] if len(args) > 1 else None)
    name = kwargs.get("name", args[2] if len(args) > 2 else None)
    return table_path(sf_dir, name)


def _write_path(args, kwargs) -> str:
    return kwargs.get("path", args[1] if len(args) > 1 else "")


def install(tracer: Tracer) -> None:
    """Wrap every layer function listed above with ``tracer``'s wrappers.

    Raises if a module that binds a wrapped function at import time has
    already been imported, because its binding would bypass the wrapper."""
    early = [m for m in ("swallow_spark.io", "swallow_spark.pipeline", "swallow_spark.queries")
             if m in sys.modules]
    if early:
        raise RuntimeError(f"layer wrappers must be installed before importing {early}")
    import importlib

    # Wrap in dependency order: each module is imported only after the
    # functions it binds at import time are already wrapped.
    for mod_name, attr, layer, count_jobs in _FUNCTIONS:
        mod = importlib.import_module(mod_name)
        setattr(mod, attr, tracer.wrap(layer, getattr(mod, attr), count_jobs))
    for mod_name, cls_name, meth, layer in _METHODS:
        cls = getattr(importlib.import_module(mod_name), cls_name)
        setattr(cls, meth, tracer.wrap(layer, getattr(cls, meth)))
