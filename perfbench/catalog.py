"""The two catalog workloads: one client runs pinned registered queries.

Each operation builds one query (``fn(spark, data_dir)``), lets Catalyst
plan it and executes it with a ``noop`` write, as ``bench.py`` does.  Set-up
runs every pinned query once cold, collects its rows and compares them with
the expected values in ``expected.json``, then runs one untimed warm pass;
the timed window then runs the number of whole passes over the pinned set
that ends nearest to ``--seconds``, each pass in an order shuffled by the
seed.  The cold
pass is also the session's warm-up: reader start, page cache, code
generation and Python workers.
"""

from __future__ import annotations

import gc
import json
import os
import random
import time

#: Table scale the catalog workloads read (TPC-H SF 0.01 row counts).
SCALE = 0.01

#: ``catalog_short``: 12 queries under 1 s warm, spread evenly over the
#: warm-time distribution of the 164 sub-second queries (4 cores, SF 0.01),
#: so fixed per-query cost dominates as it does for the whole sub-second
#: group.
SHORT = (
    "jsonpath_scalar",
    "stratified_sample",
    "sequence_packing",
    "q1_pricing_summary",
    "token_count",
    "gopher_quality_rules",
    "q12_ship_delay_priority",
    "q17_small_qty_revenue",
    "sequence_packing_greedy",
    "pack_manifest",
    "sketch_error_bounds",
    "merkle_diff",
)

#: ``catalog_heavy``: operator-heavy queries.  The first two are bound by
#: the eager jobs they start while being built (iterative graph loops); the
#: other three by execution.
HEAVY = (
    "dedup_graph_pagerank",
    "dedup_clusters",
    "containment_dedup",
    "embedding_near_dup",
    "dedup_minhash_lsh",
)

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load_expected() -> dict:
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def check_result(name: str, columns: list[str], rows: list[tuple], expected: dict) -> str | None:
    """None when the rows match the expected entry, else the mismatch.
    Entries without a hash (queries the oracle cannot express) are checked
    on row count only."""
    from tools.check_oracle import value_hash

    exp = expected.get(name)
    if exp is None:
        return "no expected value"
    if sorted(columns) != sorted(exp["columns"]):
        return f"columns {sorted(columns)} != {sorted(exp['columns'])}"
    if len(rows) != exp["rows"]:
        return f"rows {len(rows)} != {exp['rows']}"
    if exp.get("hash") and value_hash(rows, columns) != exp["hash"]:
        return "value-hash mismatch"
    return None


def sweep(spark) -> int:
    """Release what a query left cached; returns how many RDDs were still
    persisted (the leak count)."""
    leaked = spark.sparkContext._jsc.getPersistentRDDs()
    n = leaked.size()
    spark.catalog.clearCache()
    for rdd in leaked.values():
        rdd.unpersist()
    gc.collect()
    return n


def _phase_ms(qe, phase: str) -> float:
    opt = qe.tracker().phases().get(phase)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


def run_op(spark, fn, data_dir: str, tracer, name: str) -> None:
    """One operation: build, plan, execute with a noop write.  Traced, each
    step is its own span and Catalyst's phase times are read from the
    frame's planning tracker (planning is forced once before the write,
    which is part of the tracing overhead)."""
    if tracer is None:
        fn(spark, data_dir).write.format("noop").mode("overwrite").save()
        return
    with tracer.span("op", trace=name):
        with tracer.span("queries.build"):
            df = fn(spark, data_dir)
        with tracer.span("catalyst") as s:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            s.attrs.update(
                analysis_ms=_phase_ms(qe, "analysis"),
                optimizer_ms=_phase_ms(qe, "optimization"),
                planning_ms=_phase_ms(qe, "planning"),
            )
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()


def run(ctx, names: tuple[str, ...]) -> dict:
    """Set up, verify cold and time whole passes over ``names``."""
    from data_pipelines_worker_spark.queries import load_all

    spark, data_dir, tracer = ctx.spark, ctx.data_dir, ctx.tracer
    registry = load_all()
    expected = load_expected()
    if expected.get("scale") != SCALE:
        raise RuntimeError(f"expected.json is for scale {expected.get('scale')}, not {SCALE}")

    bad: dict[str, str] = {}
    for name in names:
        try:
            df = registry[name][0](spark, data_dir)
            problem = check_result(name, df.columns, [tuple(r) for r in df.collect()], expected["queries"])
        except Exception as ex:  # noqa: BLE001 - a failing query is a result
            problem = f"{type(ex).__name__}: {ex}"
        if problem:
            bad[name] = problem
        sweep(spark)

    rng = random.Random(ctx.seed)
    ops: list[tuple[str, float, bool]] = []
    leaked = 0

    def one_pass() -> None:
        nonlocal leaked
        order = list(names)
        rng.shuffle(order)
        for name in order:
            t0 = time.perf_counter()
            ok = name not in bad
            try:
                run_op(spark, registry[name][0], data_dir, tracer, name)
            except Exception as ex:  # noqa: BLE001 - counted as failed
                bad.setdefault(name, f"{type(ex).__name__}: {ex}")
                ok = False
            ops.append((name, time.perf_counter() - t0, ok))
            leaked += sweep(spark)

    # one untimed warm pass: the JIT still speeds the second execution of
    # each query up by 10-15 %, which would otherwise land in the window
    one_pass()
    ops.clear()
    leaked = 0
    ctx.start_timed()
    t_start = time.perf_counter()
    # whole passes, as many as end nearest to --seconds
    before = 0.0
    while True:
        one_pass()
        elapsed = time.perf_counter() - t_start
        if elapsed + (elapsed - before) / 2 >= ctx.seconds:
            break
        before = elapsed
    wall = time.perf_counter() - t_start
    ctx.end_timed()
    return {"ops": ops, "wall_s": wall, "bad": bad, "leaked_rdds": leaked}
