"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload catalog_short --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Workloads: ``catalog_short``,
``catalog_heavy`` (``catalog.py``) and ``pipeline_api`` (``pipeline_api.py``).
With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the engine's public layer functions are wrapped in spans,
Spark writes an uncompressed event log, and the last line carries the
per-layer metrics instead.  Every run generates its tables, keeps every
file it writes under ``.perfbench-run/<pid>/`` in the repository and deletes
that directory when it ends.  The exit code is 0 only when every operation
gave the expected output.  See ``README.md`` for the metrics.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_short", "catalog_heavy", "pipeline_api")
PACKAGE = "data_pipelines_worker_spark"
CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- host and process probes -------------------------------------------------


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / CLK_TCK)


def steal_s() -> float:
    """Cumulative CPU steal seconds of the host (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of one process."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM")


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal")


def configure(run_dir: str, trace: bool) -> dict:
    """Point every file the engine writes at ``run_dir`` and size the
    session to the host; returns the host conditions recorded with the run."""
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # get_spark defaults to 24g; keep the heap well inside host memory
    mem_gb = max(1, min(3, int(mem_total_gb() // 4)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "events", "data", "stages")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    confs = {"spark.sql.warehouse.dir": dirs["warehouse"], "spark.local.dir": dirs["local"]}
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return {
        "nproc": nproc,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "load_avg_1m": os.getloadavg()[0],
        "steal_s_before": steal_s(),
    }


# --- run context ---------------------------------------------------------------


class Context:
    """What a workload needs: the session, its inputs and the timed-window
    bookkeeping (set-up ends where the first timed operation starts)."""

    def __init__(self, spark, seed: int, seconds: float, run_dir: str, tracer, jvm_pid: int):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.run_dir, self.tracer, self.jvm_pid = run_dir, tracer, jvm_pid
        self.data_dir = os.path.join(run_dir, "data")
        self.setup_s = 0.0
        self.cpu_s = 0.0
        self.window = (0.0, 0.0)

    def _cpu(self) -> float:
        return cpu_s(self.jvm_pid) + cpu_s(os.getpid())

    def start_timed(self) -> None:
        now = time.perf_counter()
        self.setup_s = AGE_AT_T0 + now - T0
        self.window = (now, 0.0)
        self.cpu_s = -self._cpu()

    def end_timed(self) -> None:
        self.cpu_s += self._cpu()
        self.window = (self.window[0], time.perf_counter())


def install_tracing(tracer) -> None:
    """Wrap the public functions of each engine layer (from outside)."""
    from data_pipelines_worker_spark import session
    from data_pipelines_worker_spark.plans.compiler import PipelineRunner, PipelineSpec
    from data_pipelines_worker_spark.queries import load_all
    from data_pipelines_worker_spark.sources import run_log, stage_store

    from spans import wrap

    load_all()  # import every query module so their load_table names get patched
    pid_kw = lambda a, kw: kw.get("processing_id")  # noqa: E731
    wrap(tracer, session, "load_table", "session.load_table", package=PACKAGE)
    wrap(tracer, PipelineSpec, "from_json", "compiler.from_json")
    wrap(tracer, PipelineRunner, "run", "compiler.run", trace_of=pid_kw)
    wrap(tracer, stage_store, "write_stage", "stage_store.write_stage")
    wrap(tracer, stage_store, "read_stage", "stage_store.read_stage")
    wrap(tracer, run_log, "write_status", "run_log.write_status")
    wrap(tracer, run_log, "read_statuses", "run_log.read_statuses")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit, killing it if the
    stop fails or hangs."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# --- metrics -------------------------------------------------------------------


def by_kind(ops: list[tuple[str, float, bool]]) -> dict[str, list[float]]:
    """Latencies of the correct operations, per query name or per kind."""
    out: dict[str, list[float]] = {}
    for kind, lat, ok in ops:
        if ok:
            out.setdefault(kind, []).append(lat)
    return out


def median0(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def op_p50(ops: list[tuple[str, float, bool]]) -> float:
    """Median latency of the correct operations.  For ``pipeline_api`` an
    operation is one start; for the catalog workloads it is the median over
    the pinned queries of each query's median, so every query weighs the
    same whichever order the seed gave."""
    lat = by_kind(ops)
    if "start" in lat:
        return statistics.median(lat["start"])
    return median0([statistics.median(v) for v in lat.values()])


def end_to_end(res: dict, ctx: Context, jvm_hwm: float) -> tuple[dict, dict]:
    """End-to-end metrics, plus the detail line: failures, every latency,
    and the metrics only some workloads have or that are too noisy to bound."""
    from spans import percentile, reportable

    ops = res["ops"]
    good = [lat for _, lat, ok in ops if ok]
    n = len(ops)
    metrics = {
        "setup_s": (ctx.setup_s, "s"),
        "ops_per_s": (len(good) / res["wall_s"], "1/s"),
        "op_p50_s": (op_p50(ops), "s"),
        "cpu_s_per_op": (ctx.cpu_s / max(1, n), "s"),
    }
    detail = {
        "ops": n,
        "failed_frac": (n - len(good)) / max(1, n),
        "wall_s": res["wall_s"],
        "rss_peak_mb": jvm_hwm,
        "op_latencies_s": [[kind, round(lat, 4), ok] for kind, lat, ok in ops],
    }
    if reportable(len(good), 90):
        detail["op_p90_s"] = percentile(good, 90)
    resumes = by_kind(ops).get("resume")
    if resumes:
        detail["resume_p50_s"] = statistics.median(resumes)
        detail["status_p50_ms"] = median0(res["poll_ms"])
        detail["stage_bytes_per_input_byte"] = res["stage_bytes"] / max(1, res["payload_bytes"])
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def per_layer(res: dict, ctx: Context, groups: dict) -> dict:
    """Per-layer metrics from the spans of the timed window and the event
    log, per operation."""
    from spans import GROUP_PREFIX, GroupMetrics, self_times

    lo, hi = ctx.window
    spans = [s for s in ctx.tracer.spans if s.start >= lo and s.end <= hi]
    parsed = [s for s in ctx.tracer.spans if s.name == "compiler.from_json"]
    n_ops = max(1, len(res["ops"]))
    self_s = self_times(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def group(name: str) -> GroupMetrics:
        total = GroupMetrics()
        for s in by_name.get(name, []):
            total.add(groups.get(f"{GROUP_PREFIX}{s.id}", GroupMetrics()))
        return total

    def calls(name):
        return len(by_name.get(name, [])) / n_ops

    def self_sum(name):
        return sum(self_s[s.id] for s in by_name.get(name, [])) / n_ops

    def attr_sum(name, key):
        return sum(s.attrs.get(key, 0) for s in by_name.get(name, [])) / n_ops

    ex = group("exec")
    out = {
        "session.load_table.calls": (calls("session.load_table"), "1/op"),
        "session.load_table.s": (self_sum("session.load_table"), "s/op"),
        "session.load_table.jobs": (group("session.load_table").jobs / n_ops, "1/op"),
        "queries.build.s": (self_sum("queries.build"), "s/op"),
        "queries.build.jobs": (group("queries.build").jobs / n_ops, "1/op"),
        "queries.leaked_rdds": (res.get("leaked_rdds", 0) / n_ops, "1/op"),
        "catalyst.analysis_ms": (attr_sum("catalyst", "analysis_ms"), "ms/op"),
        "catalyst.optimizer_ms": (attr_sum("catalyst", "optimizer_ms"), "ms/op"),
        "catalyst.planning_ms": (attr_sum("catalyst", "planning_ms"), "ms/op"),
        "exec.s": (self_sum("exec"), "s/op"),
        "exec.jobs": (ex.jobs / n_ops, "1/op"),
        "exec.tasks": (ex.tasks / n_ops, "1/op"),
        "exec.executor_run_s": (ex.executor_run_s / n_ops, "s/op"),
        "exec.executor_cpu_s": (ex.executor_cpu_s / n_ops, "s/op"),
        "exec.gc_s": (ex.gc_s / n_ops, "s/op"),
        "exec.shuffle_read_mb": (ex.shuffle_read_mb / n_ops, "MB/op"),
        "exec.shuffle_write_mb": (ex.shuffle_write_mb / n_ops, "MB/op"),
        "exec.spill_mb": (ex.spill_mb / n_ops, "MB/op"),
        "exec.sched_wait_s": (ex.sched_wait_s / n_ops, "s/op"),
        "compiler.from_json.s": (
            statistics.mean([s.duration for s in parsed] or [0.0]),
            "s/call",
        ),
        "compiler.run.self_s": (self_sum("compiler.run"), "s/op"),
        "compiler.run.jobs": (group("compiler.run").jobs / n_ops, "1/op"),
        "stage_store.write_stage.calls": (calls("stage_store.write_stage"), "1/op"),
        "stage_store.write_stage.s": (self_sum("stage_store.write_stage"), "s/op"),
        "stage_store.write_stage.jobs": (group("stage_store.write_stage").jobs / n_ops, "1/op"),
        "stage_store.write_stage.bytes": (res.get("stage_bytes", 0) / n_ops, "B/op"),
        "stage_store.read_stage.calls": (calls("stage_store.read_stage"), "1/op"),
        "stage_store.read_stage.s": (self_sum("stage_store.read_stage"), "s/op"),
        "stage_store.read_stage.jobs": (group("stage_store.read_stage").jobs / n_ops, "1/op"),
        "run_log.write_status.s": (self_sum("run_log.write_status"), "s/op"),
        "run_log.read_statuses.calls": (calls("run_log.read_statuses"), "1/op"),
        "run_log.read_statuses.s": (self_sum("run_log.read_statuses"), "s/op"),
        "run_log.read_statuses.failed": (
            sum(1 for s in by_name.get("run_log.read_statuses", []) if s.attrs.get("failed")) / n_ops,
            "1/op",
        ),
    }
    # API timings: POST round trip, 202 -> runner entry, polls per operation
    run_start = {s.trace: [] for s in by_name.get("compiler.run", [])}
    for s in by_name.get("compiler.run", []):
        run_start[s.trace].append(s.start)
    waits = []
    for pid, accepted_at in res.get("accepted", []):
        later = [t for t in run_start.get(pid, []) if t >= accepted_at - 0.5]
        if later:
            waits.append(max(0.0, min(later) - accepted_at) * 1000.0)
    out.update(
        {
            "api.start_ms": (median0(res.get("post_ms", [])), "ms"),
            "api.queue_wait_ms": (median0(waits), "ms"),
            "api.polls_per_op": (res.get("polls", 0) / n_ops, "1/op"),
            "api.resume_p50_s": (median0(by_kind(res["ops"]).get("resume", [])), "s"),
            "api.status_p50_ms": (median0(res.get("poll_ms", [])), "ms"),
            "stage_store.bytes_per_input_byte": (
                res.get("stage_bytes", 0) / max(1, res.get("payload_bytes", 0)),
                "B/B",
            ),
        }
    )
    # tracing overhead and how much of each operation the spans explain
    op_spans = [s for s in spans if s.name == "op" or s.name.startswith("op.")]
    out["trace.op_p50_s"] = (op_p50(res["ops"]), "s")
    out["trace.accounted_frac"] = (accounted_frac(spans, op_spans), "1")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def accounted_frac(spans: list, op_spans: list) -> float:
    """Share of operation wall time covered by the spans that explain it:
    an operation's own child spans, and the engine spans (any thread) that
    carry its trace id."""
    from spans import covered

    by_trace: dict = {}
    for s in spans:
        by_trace.setdefault(s.trace, []).append(s)
    children: dict = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    total = explained = 0.0
    for op in op_spans:
        engine = [s for s in by_trace.get(op.trace, []) if not s.name.startswith("op") and s.parent is None]
        parts = [(c.start, c.end) for c in children.get(op.id, [])] + [(s.start, s.end) for s in engine]
        total += op.duration
        explained += covered(parts, op.start, op.end)
    return explained / total if total else 0.0


# --- main ----------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench-run", str(os.getpid()))
    host = configure(run_dir, bool(args.trace))
    spark = None
    try:
        import catalog
        import datagen

        datagen.write_tables(os.path.join(run_dir, "data"), catalog.SCALE)
        from data_pipelines_worker_spark.session import get_spark

        spark = get_spark("perfbench")
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            install_tracing(tracer)
        ctx = Context(spark, args.seed, args.seconds, run_dir, tracer, jvm_pid)
        if args.workload == "pipeline_api":
            import pipeline_api

            res = pipeline_api.run(ctx)
        else:
            res = catalog.run(ctx, catalog.SHORT if args.workload == "catalog_short" else catalog.HEAVY)
        jvm_hwm = vm_hwm_mb(jvm_pid)
        stop_spark(spark)
        spark = None
        host["steal_s_after"] = steal_s()
        e2e, detail = end_to_end(res, ctx, jvm_hwm)
        if tracer is not None:
            from spans import find_event_log, parse_event_log

            groups = parse_event_log(find_event_log(os.path.join(run_dir, "events")))
            metrics = per_layer(res, ctx, groups)
        else:
            metrics = e2e
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass
    n_ops = len(res["ops"])
    failed = sum(1 for *_, ok in res["ops"] if not ok)
    correct = failed == 0 and not res["bad"]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host, "detail": detail}))
    if res["bad"]:
        print(json.dumps({"mismatches": res["bad"]}), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": n_ops, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


AGE_AT_T0 = process_age_s() - (time.perf_counter() - T0)

if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
