"""Engine benchmark: one workload, one seed, one fresh process.

    python3 psxbench/run.py --workload pipeline_daily --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The inputs are
generated from ``--seed`` under ``.psxbench_work/`` and removed at the
end. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, measured with
tracing off; with ``--trace 1`` they are the per-layer ones. The line
before it (``# record: {...}``) holds every op's time and the host's
steal time, so a degraded window is visible in the record.

``--curve N`` instead runs N passes in one session with no warm-up or
timed window and prints every op's time: the warm-up curve from which
each workload's ``warmup`` was chosen.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".psxbench_work")
USER_HZ = os.sysconf("SC_CLK_TCK")


def _fail(msg: str) -> None:
    print(f"psxbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (the JVM
    and its Python workers), including reaped children's time."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ppid = int(fields[1])
        children.setdefault(ppid, []).append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo.extend(children.get(p, []))
    return total / USER_HZ


def _steal_s() -> float:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / USER_HZ


def _environment(work: str) -> int:
    """Pin the engine's parallelism to this host and keep every file
    the JVM, Spark and the engine write inside ``work``."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf 'spark.driver.extraJavaOptions={jvm_opts}' pyspark-shell")
    sys.path.insert(0, ROOT)
    return nproc


def _stop(spark) -> None:
    """Stop the session, then the JVM PySpark launched for it (it exits
    when its stdin closes), and wait until it has ended."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


class Run:
    """One workload in one session: passes of ops in a closed loop, each
    op timed with its process-tree CPU. Every pass's input is written
    before the session starts, and every op's result is checked against
    the oracle after the measurement (``verify``), so nothing but the
    engine runs between two timed ops."""

    def __init__(self, workload, seed: int, work: str, nproc: int, passes: int):
        import gen

        self.w, self.work, self.nproc = workload, work, nproc
        base = gen.make_tables(seed, workload.sf)
        for p in range(passes):
            gen.write_tables(gen.tick_tables(base, seed, p) if workload.is_pipeline
                             else base, self._input(p))
        self.pass_no = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.log: list[dict] = []  # every op: pass, name, traced, wall, cpu
        self.pending: list[tuple] = []  # (pass, name, check, value) to verify

        t0 = time.perf_counter()
        from psx_data_pipeline_spark import orchestrate
        from psx_data_pipeline_spark.plans import ORACLE_SQL, QUERIES
        from psx_data_pipeline_spark.session import get_spark
        from workloads import mix_queries

        self.import_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.spark = get_spark("psxbench")
        self.session_s = time.perf_counter() - t0
        self.orchestrate, self.QUERIES, self.ORACLE_SQL = orchestrate, QUERIES, ORACLE_SQL
        self.names = mix_queries(QUERIES, ORACLE_SQL, workload.picks)

    def _input(self, p: int) -> str:
        return os.path.join(self.work, "in", f"p{p:03d}")

    def _op(self, name: str, fn, check, traced: bool) -> dict:
        self.attempted += 1
        cpu0, t0 = _tree_cpu_s(), time.perf_counter()
        try:
            value, err = fn(), None
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            value, err = None, f"{type(e).__name__}: {e}"
        rec = {"pass": self.pass_no, "op": name, "traced": traced,
               "wall_s": time.perf_counter() - t0, "cpu_s": _tree_cpu_s() - cpu0}
        self.log.append(rec)
        self.pending.append((self.pass_no, name, (lambda v: err) if err else check, value))
        return rec

    def verify(self, oracle) -> None:
        """Check every op's result against the oracle; a mismatch or an
        exception is a failed op."""
        for p, name, check, value in self.pending:
            err = check(value, oracle)
            if err is not None:
                self.failed += 1
                self.errors.append(f"pass {p} {name}: {err}"[:500])
        self.pending.clear()

    def run_pass(self, tracer=None, parity: int | None = None) -> list[dict]:
        """One pass on its own input path; returns its op records. With
        a ``tracer``, every op is traced, or with ``parity`` only the
        mix's ops at even (0) or odd (1) positions."""
        d = self._input(self.pass_no)
        recs = (self._tick(d, tracer) if self.w.is_pipeline
                else self._mix(d, tracer, parity))
        self.pass_no += 1
        return recs

    def _mix(self, d: str, tracer, parity: int | None) -> list[dict]:
        recs = []
        for i, q in enumerate(self.names):
            traced = tracer is not None and parity in (None, i % 2)

            def op(q=q, traced=traced):
                if not traced:
                    return self.QUERIES[q](self.spark, d).toArrow()
                with tracer.span("op"):
                    with tracer.span("plans.build"):
                        df = self.QUERIES[q](self.spark, d)
                    with tracer.span("plans.optimize"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec.fetch"):
                        return df.toArrow()

            def check(tbl, oracle, q=q):
                return oracle.check(self.ORACLE_SQL[q], d, tbl)

            recs.append(self._op(q, op, check, traced))
        return recs

    def _tick(self, d: str, tracer) -> list[dict]:
        from workloads import PIPELINE_STAGES

        date = (dt.date(2001, 8, 2) + dt.timedelta(days=self.pass_no)).isoformat()
        root = os.path.join(self.work, "out")
        out = os.path.join(root, f"run_date={date}")
        self.last_out = out

        def op():
            if tracer is None:
                return self.orchestrate.scheduled_run(self.spark, d, root, date)
            with tracer.span("op"), _instrumented(tracer, self.orchestrate, self.QUERIES):
                return self.orchestrate.scheduled_run(self.spark, d, root, date)

        def check(result, oracle) -> str | None:
            import pyarrow.parquet as pq

            for stage, q, sub in PIPELINE_STAGES:
                if result.status(stage) != "ok":
                    return f"stage {stage} {result.status(stage)}"
                err = oracle.check(self.ORACLE_SQL[q], d,
                                   pq.read_table(os.path.join(out, sub)))
                if err is not None:
                    return f"stage {stage}: {err}"
            return None

        return [self._op("tick", op, check, tracer is not None)]


class _instrumented:
    """Spans around the engine's public calls for the duration of one
    traced tick: registered query builders, each Stage.run, and the
    parquet write action. Everything is restored on exit."""

    def __init__(self, tracer, orchestrate, queries):
        from pyspark.sql.readwriter import DataFrameWriter

        self.t, self.o, self.q, self.writer = tracer, orchestrate, queries, DataFrameWriter

    def __enter__(self):
        self.saved = (dict(self.q), self.o.full_run_stages, self.writer.parquet)
        for name, fn in self.saved[0].items():
            self.q[name] = self.t.wrap("plans.build", fn)
        full_run_stages = self.saved[1]

        def traced_stages(*args, **kwargs):
            stages = full_run_stages(*args, **kwargs)
            for st in stages:
                st.run = self.t.wrap(f"orchestrate.{st.name}", st.run)
            return stages

        self.o.full_run_stages = traced_stages
        self.writer.parquet = self.t.wrap("exec.write", self.saved[2])
        return self

    def __exit__(self, *exc):
        self.q.update(self.saved[0])
        self.o.full_run_stages = self.saved[1]
        self.writer.parquet = self.saved[2]


def end_to_end(run: Run, timed: list[dict], heap_mb: float) -> dict:
    cold = sum(r["wall_s"] for r in run.log if r["pass"] == 0)
    warm = sum(r["wall_s"] for r in run.log if 0 < r["pass"] <= run.w.warmup)
    return {
        "setup_s": (run.import_s + run.session_s + cold + warm, "s"),
        "wall_s": (sum(r["wall_s"] for r in timed), "s"),
        "op_p50_s": (statistics.median(r["wall_s"] for r in timed), "s"),
        "cold_tick_s": (cold, "s"),
        "cpu_s": (sum(r["cpu_s"] for r in timed), "s"),
        "jvm_heap_live_mb": (heap_mb, "MiB"),
    }


END_TO_END = ("setup_s", "wall_s", "op_p50_s", "cold_tick_s", "cpu_s",
              "jvm_heap_live_mb")
PER_LAYER = (
    "session.start_s", "plans.build_s", "plans.eager_jobs", "plans.eager_job_s",
    "sources.schema_jobs",
    "plans.memo_cached_rdds", "plans.memo_cached_bytes", "plans.optimize_s",
    "plans.plan_nodes", "sources.input_bytes", "sources.input_rows",
    "sources.scan_s", "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.busy_ratio",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "operators.agg_s", "operators.sort_s", "operators.hash_build_s",
    "exec.python_bytes", "streaming.batches", "streaming.state_commit_s",
    "orchestrate.sync_s", "orchestrate.update_s", "orchestrate.append_s",
    "orchestrate.files_written", "orchestrate.bytes_written", "host.steal_s",
    "trace.overhead_s", "trace.unattributed_s",
)
# the SQL-store metrics the per-layer split reads, by their Spark names
SQL_METRICS = {
    "size of files read", "number of output rows", "scan time",
    "time in aggregation build", "sort time", "time to build hash map",
    "time to build", "data sent to Python workers",
    "data returned from Python workers",
}


def per_layer(run: Run, tracer, traced: list[dict], untraced: list[dict],
              stream, out_dirs: list[str], steal: float) -> dict:
    import layers as tr

    spark, spans = run.spark, tracer.spans
    roots = [s for s in spans if s.parent is None]
    since = min(s.start for s in roots)
    jobs = [j for j in tr.jobs_since(spark, since)
            if any(r.start <= j.submitted <= r.end for r in roots)]
    eager = [j for j in jobs if tr.innermost(spans, j.submitted).name == "plans.build"]
    stages = tr.stage_totals(spark, {s for j in jobs for s in j.stage_ids})
    exec_s = tr.union_length((j.submitted, j.completed) for j in jobs)
    nodes = tr.sql_plan_nodes(spark, [(r.start, r.end) for r in roots], SQL_METRICS)

    def metric(prefix: str, *names: str) -> float:
        return sum(v for n in nodes if n.name.startswith(prefix)
                   for k, v in n.metrics.items() if k in names)

    total, own = tr.totals(spans), tr.self_times(spans)
    rdds, held = tr.memo_footprint(spark)
    files = [os.path.join(dp, f) for d in out_dirs for dp, _, fs in os.walk(d)
             for f in fs if not f.startswith(("_", "."))]
    wall_t = sum(r["wall_s"] for r in traced)
    wall_u = sum(r["wall_s"] for r in untraced)
    m = {
        "session.start_s": (run.session_s, "s"),
        "plans.build_s": (total.get("plans.build", 0.0), "s"),
        "plans.eager_jobs": (len(eager), "count"),
        "plans.eager_job_s": (sum(j.completed - j.submitted for j in eager), "s"),
        # eager jobs that only read a parquet footer for the schema
        "sources.schema_jobs": (sum(j.name.startswith("parquet at") for j in eager), "count"),
        "plans.memo_cached_rdds": (rdds, "count"),
        "plans.memo_cached_bytes": (held, "B"),
        "plans.optimize_s": (total.get("plans.optimize", 0.0), "s"),
        "plans.plan_nodes": (len(nodes), "count"),
        "sources.input_bytes": (metric("Scan", "size of files read"), "B"),
        "sources.input_rows": (metric("Scan", "number of output rows"), "count"),
        "sources.scan_s": (metric("Scan", "scan time"), "s"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (stages["stages"], "count"),
        "exec.tasks": (stages["tasks"], "count"),
        "exec.task_run_s": (stages["task_run_ms"] / 1e3, "s"),
        "exec.task_cpu_s": (stages["task_cpu_ns"] / 1e9, "s"),
        "exec.gc_s": (stages["gc_ms"] / 1e3, "s"),
        "exec.busy_ratio": (stages["task_run_ms"] / 1e3 / (run.nproc * exec_s)
                            if exec_s else 0.0, "ratio"),
        "exec.shuffle_write_bytes": (stages["shuffle_write_bytes"], "B"),
        "exec.shuffle_read_bytes": (stages["shuffle_read_bytes"], "B"),
        "operators.agg_s": (metric("", "time in aggregation build"), "s"),
        "operators.sort_s": (metric("", "sort time"), "s"),
        "operators.hash_build_s": (metric("", "time to build hash map")
                                   + metric("BroadcastExchange", "time to build"), "s"),
        "exec.python_bytes": (metric("", "data sent to Python workers",
                                     "data returned from Python workers"), "B"),
        "streaming.batches": (stream.batches, "count"),
        "streaming.state_commit_s": (stream.state_commit_ms / 1e3, "s"),
        "orchestrate.sync_s": (total.get("orchestrate.sync", 0.0), "s"),
        "orchestrate.update_s": (total.get("orchestrate.update", 0.0), "s"),
        "orchestrate.append_s": (total.get("orchestrate.append", 0.0), "s"),
        "orchestrate.files_written": (len(files), "count"),
        "orchestrate.bytes_written": (sum(os.path.getsize(f) for f in files), "B"),
        "host.steal_s": (steal, "s"),
        "trace.overhead_s": (wall_t - wall_u, "s"),
        "trace.unattributed_s": (own.get("op", 0.0), "s"),
    }
    if tuple(m) != PER_LAYER:
        raise RuntimeError(f"per-layer metrics {tuple(m)} != {PER_LAYER}")
    return m


def measure(run: Run, seconds: float, trace_on: bool) -> tuple[dict, dict]:
    """Cold pass, warm-up, then the timed passes. Returns (metrics,
    record)."""
    run.run_pass()  # cold
    for _ in range(run.w.warmup):
        run.run_pass()
    n = run.w.passes(seconds)
    steal0 = _steal_s()
    if not trace_on:
        timed = [r for _ in range(n) for r in run.run_pass()]
        from layers import heap_live_mb

        metrics = end_to_end(run, timed, heap_live_mb(run.spark))
    else:
        from layers import StreamStats, Tracer

        tracer, stream = Tracer(), StreamStats()
        run.spark.streams.addListener(stream)
        try:
            out_dirs, first = [], len(run.log)
            # traced and untraced work alternate, so both see the same
            # warm-up curve: each timed pass runs twice, in alternating
            # order; a tick runs once traced and once untraced, and a mix
            # traces its even ops in one run and its odd ops in the other
            for i in range(n):
                for half in ((0, 1) if i % 2 == 0 else (1, 0)):
                    if not run.w.is_pipeline:
                        run.run_pass(tracer, parity=half)
                        continue
                    run.run_pass(tracer if half else None)
                    if half:
                        out_dirs.append(run.last_out)
        finally:
            run.spark.streams.removeListener(stream)
        timed = run.log[first:]
        metrics = per_layer(run, tracer, [r for r in timed if r["traced"]],
                            [r for r in timed if not r["traced"]], stream,
                            out_dirs, _steal_s() - steal0)
    steal = _steal_s() - steal0
    from oracle import Oracle

    oracle = Oracle(threads=run.nproc)
    t0 = time.perf_counter()
    run.verify(oracle)
    record = {"host.steal_s": steal, "nproc": run.nproc, "duckdb_runs": oracle.duckdb_runs,
              "verify_s": time.perf_counter() - t0, "ops": run.log,
              "errors": run.errors[:20]}
    return metrics, record


def curve(run: Run, passes: int) -> int:
    """Print the wall of every pass of one long session, then every op."""
    from oracle import Oracle

    for _ in range(passes):
        walls = [r["wall_s"] for r in run.run_pass()]
        print(json.dumps({"pass": run.pass_no - 1, "wall_s": sum(walls)}), flush=True)
    run.verify(Oracle(threads=run.nproc))
    print(json.dumps({"ops": run.log, "failed": run.failed, "errors": run.errors[:20]}))
    return 1 if run.failed else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--curve", type=int, default=0,
                    help="record N passes of the warm-up curve instead")
    args = ap.parse_args(argv)

    for need in ("psx_data_pipeline_spark/__init__.py", "tests/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found: run from the root of a repository checkout")
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    timed = w.passes(args.seconds) * (2 if args.trace else 1)
    passes = args.curve or 1 + w.warmup + timed
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        run = Run(w, args.seed, work, _environment(work), passes)
        try:
            if args.curve:
                return curve(run, args.curve)
            metrics, record = measure(run, args.seconds, bool(args.trace))
        finally:
            _stop(run.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("# record: " + json.dumps(record))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
