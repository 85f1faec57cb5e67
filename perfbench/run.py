"""swallow_spark benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload olap_etl --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seconds 8     # every workload, one process each

Run from the repository root. One process drives one workload with one
thread on ``local[<cores>]`` through the engine's public entry points
(``session.get_spark``, ``registry.declared_queries()[key].fn``,
``pipeline.Pipeline``, ``io.load``/``io.write_parquet``):

1. set-up: ``get_spark``, the registry import and one warm-up pass that
   runs each operation's own action, as a timed pass does (``setup_s``);
   after each action, untimed, the rows the check needs are collected;
2. correctness, untimed: every collected result is compared with its DuckDB
   oracle; write operations also compare rows read back with rows written;
3. timed passes until ``--seconds`` have elapsed, and at least two (three
   with ``--trace 1``, whose odd passes are traced). Each pass runs every
   operation once, in an order shuffled by ``--seed``; each operation is
   its query function plus one action (``noop`` sink for reads, its own
   parquet sink for writes, into a per-pass directory named by the seed).

``--trace 0`` prints the end-to-end metrics: pass wall (the sum of each
operation's median wall over the passes), input MB/s, CPU seconds per pass
of the whole process tree (driver, JVM, Python workers) and set-up time.
The run record also holds every pass and operation wall, and the tail of
operation walls (highest percentile with ten samples beyond it). ``--trace 1`` turns on the Spark event log (submit-time
``--conf`` only) and alternates untraced passes with passes in which the
layer wrappers of ``layers.py`` time each layer; it prints the per-layer
metrics, the peak RSS of the process tree and the tracing overhead. The
overhead is the mean traced pass wall minus the mean untraced pass wall of
that same run: both carry the event log, so its cost is not in the
overhead, and both are whole-pass means, not the end-to-end ``pass_s``.
Peak RSS is sampled only with ``--trace 1`` and is not an end-to-end
metric: the JVM heap grows to between 2.0 and 3.0 GB on the same pass
depending on GC timing.

Inputs are synthetic tables (``datagen.py``) built once under
``.bench_build/perfbench/``. Everything a run writes (Spark local dirs,
warehouse, event log, sink outputs, the shipped package zip) goes to a
per-run directory there, which is deleted at the end. The last stdout line
is the result JSON; the line before it is the full run record.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import proctree  # noqa: E402

# graph_iterative runs at sf0.01: at sf0.1 one pass takes 11-14 s on four
# cores, too long for several passes per run; its keys keep their
# per-iteration eager jobs at the smaller scale
SF = {"olap_etl": 0.1, "llm_corpus": 0.1, "graph_iterative": 0.01}
# run-to-run spread comes from the whole run being fast or slow, not from
# the pass count: two passes read as steady as three across ten seeds
MIN_PASSES = 2


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile
    with at least ten samples beyond it; with ten samples or fewer there is
    none, and the maximum is returned with nothing beyond it."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0, 0
    return v[n - 11], 100.0 * (n - 10) / n, 10


class Run:
    def __init__(self, args, sf_dir: str, run_dir: str) -> None:
        self.args = args
        self.workload = args.workload
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.rng = random.Random(args.seed)
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.record: dict = {"workload": args.workload, "seed": args.seed, "sf": SF[args.workload],
                             "cores": self.cores, "seconds": args.seconds, "trace": args.trace}

    def fail(self, where: str, err: str) -> None:
        self.failed += 1
        self.failures.setdefault(where, err[:300])

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.run_dir, f"out-seed{self.args.seed}", tag)

    # ------------------------------------------------------------ set-up

    def setup(self):
        self.tracer = layers.Tracer()
        layers.install(self.tracer)
        from bench import spin_sec

        self.spin_sec = spin_sec
        self.record["env_before"] = {"spin_sec": spin_sec(), "loadavg": list(os.getloadavg())}
        from swallow_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(f"perfbench-{self.workload}", cpus=self.cores)
        t1 = time.perf_counter()
        from swallow_spark.registry import declared_queries

        qs = declared_queries()
        t2 = time.perf_counter()
        self.get_spark_s, self.import_s = t1 - t0, t2 - t1
        # the registered round-trip keys write below this root
        from swallow_spark.queries import sources_sinks

        sources_sinks._IO_ROOT = os.path.join(self.run_dir, "io")
        import workloads

        self.ops = workloads.ops(self.workload, qs, self.sf_dir)
        self.tracker = self.spark.sparkContext.statusTracker()
        self.collected = self.warm_up()
        self.record["setup_parts_s"] = {"get_spark": self.get_spark_s, "registry_import": self.import_s,
                                        "warm_up": self.warm_s, "check_collect": self.collect_s}
        self.setup_s = self.get_spark_s + self.import_s + self.warm_s

    def warm_up(self) -> dict:
        """One pass of the operations' own actions. After each action the
        rows the check needs are collected; the collects are timed into
        ``collect_s``, not into ``warm_s``."""
        out = self.out_dir("warm-up")
        collected = {}
        self.collect_s = 0.0
        op_s = self.record["warm_up_op_s"] = {}
        self.tracer.record_tables = True
        t0 = time.perf_counter()
        for op in self.shuffled():
            self.spark.sparkContext.setJobGroup(f"perfbench|{self.workload}|{op.name}|warm-up", op.name)
            t_op = time.perf_counter()
            collect_s = 0.0
            try:
                df = op.build(self.spark, out)
                frame = op.run(self.spark, df, out)
                t_collect = time.perf_counter()
                try:
                    collected[op.name] = (df, frame, self.collect(frame))
                finally:
                    collect_s = time.perf_counter() - t_collect
            except Exception as e:  # noqa: BLE001 - an operation failure is a result
                self.fail(op.name, f"{type(e).__name__}: {e}")
            self.collect_s += collect_s
            op_s[op.name] = time.perf_counter() - t_op - collect_s
        self.warm_s = time.perf_counter() - t0 - self.collect_s
        self.tracer.record_tables = False
        self.input_bytes = sum(layers.dir_bytes(p) for p in self.tracer.tables)
        self.record["input_tables"] = sorted(os.path.basename(p) for p in self.tracer.tables)
        return collected

    def collect(self, frame):
        """``toPandas`` through Arrow: the check's rows cost a fraction of
        the row-at-a-time transfer (2.3 M rows for dedup_simhash_portable)."""
        conf = self.spark.conf
        conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        try:
            return frame.toPandas()
        finally:
            conf.unset("spark.sql.execution.arrow.pyspark.enabled")

    # ------------------------------------------------------- correctness

    def check(self) -> None:
        from check import OracleCache, compare
        from tools.oracle_diff import duck_con, spark_nonscalar_cols

        t0 = time.perf_counter()
        con = duck_con(self.sf_dir)
        cache = OracleCache(os.path.join(os.path.dirname(self.sf_dir), "oracle-cache.json"), self.sf_dir)
        out = self.out_dir("warm-up")
        for op in self.ops:
            self.attempted += 1
            if op.name not in self.collected:
                continue  # failed in the warm-up, already counted
            df, frame, rows = self.collected[op.name]
            try:
                errs = [f"nested output columns {bad}"] if (bad := spark_nonscalar_cols(frame)) else []
                errs = errs or compare(rows, op.oracle, con, cache)
                if op.source_rows is not None:
                    back, src = op.source_rows(self.spark, df, out)
                    if back != src:
                        errs.append(f"read back {back} rows, wrote {src}")
            except Exception as e:  # noqa: BLE001
                errs = [f"{type(e).__name__}: {e}"]
            if errs:
                self.fail(op.name, "; ".join(errs))
        con.close()
        cache.save()
        self.collected.clear()
        shutil.rmtree(out, ignore_errors=True)
        self.record["check_s"] = time.perf_counter() - t0

    # ------------------------------------------------------------ passes

    def shuffled(self) -> list:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def run_op(self, op, group: str, out: str, traced: bool, acc: dict) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup(group, op.name)
        self.attempted += 1
        try:
            if not traced:
                t0 = time.perf_counter()
                op.run(self.spark, op.build(self.spark, out), out)
                self.op_walls.setdefault(op.name, []).append(time.perf_counter() - t0)
                return
            self.tracer.job_counter = lambda: len(self.tracker.getJobIdsForGroup(group))
            outer0 = self.tracer.outer_s
            t0 = time.perf_counter()
            df = op.build(self.spark, out)
            t1 = time.perf_counter()
            acc["queries.build_s"] += t1 - t0
            acc["queries.build_self_s"] += (t1 - t0) - (self.tracer.outer_s - outer0)
            acc["queries.build_jobs"] += len(self.tracker.getJobIdsForGroup(group))
            op.run(self.spark, df, out)
            acc["exec.action_s"] += time.perf_counter() - t1
            self.count_jobs(group, acc)
        except Exception as e:  # noqa: BLE001
            self.fail(op.name, f"{type(e).__name__}: {e}")

    def count_jobs(self, group: str, acc: dict) -> None:
        for jid in self.tracker.getJobIdsForGroup(group):
            acc["exec.jobs"] += 1
            job = self.tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                acc["exec.stages"] += 1
                acc["exec.tasks"] += st.numCompletedTasks + st.numFailedTasks
                acc["exec.failed_tasks"] += st.numFailedTasks

    def passes(self) -> None:
        trace = bool(self.args.trace)
        self.walls: list[float] = []
        self.op_walls: dict[str, list[float]] = {}
        self.traced_walls: list[float] = []
        self.traced_groups: list[str] = []
        self.acc = dict.fromkeys(PASS_COUNTERS, 0.0)
        # the sampler runs in this process, so only traced runs pay for it
        peak = proctree.PeakRss() if trace else None
        cpu0 = proctree.cpu_seconds()
        if peak:
            peak.start()
        deadline = time.perf_counter() + self.args.seconds
        p = 0
        # traced runs alternate untraced/traced passes and end untraced, so
        # the overhead compares a traced pass with the passes on both sides
        min_passes = MIN_PASSES + 1 if trace else MIN_PASSES
        while p < min_passes or time.perf_counter() < deadline:
            traced = trace and p % 2 == 1
            out = self.out_dir(f"pass{p}")
            self.tracer.timing = traced
            t0 = time.perf_counter()
            for op in self.shuffled():
                group = f"perfbench|{self.workload}|{op.name}|{p}"
                if traced:
                    self.traced_groups.append(group)
                self.run_op(op, group, out, traced, self.acc)
            wall = time.perf_counter() - t0
            self.tracer.timing = False
            (self.traced_walls if traced else self.walls).append(wall)
            shutil.rmtree(out, ignore_errors=True)
            p += 1
        self.cpu_s = (proctree.cpu_seconds() - cpu0) / p
        self.peak_rss = peak.stop() if peak else None

    # ----------------------------------------------------------- results

    def end_to_end(self) -> dict:
        # a pass costs the sum of its operations' median walls: with a
        # handful of passes per run this is steadier than the median pass,
        # since a stall hits one operation of one pass, not all of them
        pass_s = sum(statistics.median(w) for w in self.op_walls.values())
        op_samples = [x for w in self.op_walls.values() for x in w]
        tail_s, pct, beyond = tail(op_samples)
        # the operation-wall tail rests on the few slowest operations, whose
        # single timings spread as wide as the bound: recorded, not a metric
        self.record["samples"] = {
            "passes": len(self.walls), "pass_walls_s": self.walls, "op_walls_s": self.op_walls,
            "op_tail_s": tail_s, "op_tail_percentile": pct, "op_tail_beyond": beyond,
            "op_samples": len(op_samples),
        }
        return {
            "setup_s": self.setup_s,
            "pass_s": pass_s,
            "input_mb_per_s": self.input_bytes / 1e6 / pass_s,
            "cpu_s": self.cpu_s,
        }

    def per_layer(self, event_log_dir: str) -> dict:
        import eventlog

        n = len(self.traced_walls)
        t = self.tracer
        m = {
            "session.get_spark_s": self.get_spark_s,
            "registry.import_s": self.import_s,
            "session.conform_calls": t.calls["session.conform"] / n,
            "session.conform_s": t.secs["session.conform"] / n,
            "io.load_calls": t.calls["io.load"] / n,
            "io.load_s": t.secs["io.load"] / n,
            "io.load_jobs": t.jobs["io.load"] / n,
            "io.write_s": t.secs["io.write"] / n,
            "io.write_bytes": t.write_bytes / n,
            "pipeline.to_df_s": t.secs["pipeline.to_df"] / n,
            "pipeline.sink_write_s": t.secs["pipeline.sink_write"] / n,
            "ops.materialize_calls": t.calls["ops.materialize"] / n,
            "ops.materialize_s": t.secs["ops.materialize"] / n,
            "ops.fan_out_calls": t.calls["ops.fan_out"] / n,
            "ops.fan_out_s": t.secs["ops.fan_out"] / n,
            "ops.dedup_s": t.secs["ops.dedup"] / n,
            "ops.dist_rank_s": t.secs["ops.dist_rank"] / n,
        }
        m.update({k: v / n for k, v in self.acc.items()})
        logs = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        groups = eventlog.read_group_totals(logs[0])
        traced = set(self.traced_groups)
        for key in eventlog.COUNTERS:
            m[key] = sum(row[key] for g, row in groups.items() if g in traced) / n
        traced_pass = statistics.fmean(self.traced_walls)
        untraced_pass = statistics.fmean(self.walls)
        m["exec.core_busy_ratio"] = m["exec.executor_run_ms"] / 1000 / (traced_pass * self.cores)
        m["proc.peak_rss_mb"] = self.peak_rss / 1e6
        m["trace.pass_s"] = traced_pass
        m["trace.untraced_pass_s"] = untraced_pass
        m["trace.overhead_s"] = traced_pass - untraced_pass
        self.record["samples"] = {"untraced_passes": len(self.walls), "traced_passes": n}
        self.record["trace_accounted_ratio"] = (m["queries.build_s"] + m["exec.action_s"]) / traced_pass
        return m


PASS_COUNTERS = (
    "queries.build_s",
    "queries.build_self_s",
    "queries.build_jobs",
    "exec.action_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
)


def configure_env(run_dir: str, event_log_dir: str | None) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir``; the event log is enabled only through submit-time confs."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files in /tmp from the launcher JVM or the driver JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    submit = ["--driver-java-options", jvm_opts]
    if event_log_dir is not None:
        os.makedirs(event_log_dir)
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*submit, "pyspark-shell"])


def run_one(args, root: str) -> int:
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    sf = SF[args.workload]
    sf_dir = datagen.build(sf, os.path.join(build_dir, f"sf{sf}"))
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=build_dir)
    event_log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    configure_env(run_dir, event_log_dir)
    # a terminated run still stops the JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, root)
    os.chdir(run_dir)
    run = Run(args, sf_dir, run_dir)
    try:
        run.setup()
        run.check()
        run.passes()
        run.spark.stop()
        metrics = run.per_layer(event_log_dir) if args.trace else run.end_to_end()
        run.record["env_after"] = {"spin_sec": run.spin_sec(), "loadavg": list(os.getloadavg())}
    finally:
        left = proctree.stop_descendants()
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
    if left:
        raise RuntimeError(f"processes {left} did not stop")
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    run.record["attempted"] = run.attempted
    run.record["failed"] = run.failed
    run.record["ops_failed_ratio"] = run.failed / run.attempted
    run.record["failures"] = run.failures
    print(json.dumps({"record": run.record}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own process; prints one table of results."""
    from workloads import WORKLOADS

    status = 0
    print(f"{'workload':<16} {'metric':<26} {'value':>14} unit  samples")
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{w:<16} FAILED (exit {proc.returncode})\n{proc.stderr[-2000:]}", file=sys.stderr)
            status = 1
            continue
        record = json.loads(lines[-2])["record"]
        result = json.loads(lines[-1])
        samples = record["samples"]
        n = samples.get("passes", samples.get("traced_passes"))
        for k, v in result["metrics"].items():
            print(f"{w:<16} {k:<26} {v['value']:>14.4f} {v['unit']:<5} {n}")
        print(f"{w:<16} {'ops_failed_ratio':<26} {record['ops_failed_ratio']:>14.4f} ratio "
              f"{result['failed']}/{result['attempted']}")
        status |= 0 if result["correct"] else 1
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="swallow_spark benchmark")
    ap.add_argument("--workload", required=True, help="olap_etl, llm_corpus, graph_iterative or all")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    missing = [p for p in ("swallow_spark/__init__.py", "tools/oracle_diff.py", "bench.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    return run_one(args, root)


if __name__ == "__main__":
    sys.exit(main())
