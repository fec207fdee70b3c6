"""The ``pipeline_api`` workload: a 6-block text pipeline behind the REST shim.

Blocks: upload -> wrap each ``$.segments[*].text`` (fan-out) -> replace
spaces -> gather join -> stop gate on ``$.flag`` -> final wrap.  Every
block's output is a stage in the stage store, so each run writes six
stages, and a resume reads the stored ones back.

Two clients run a closed loop against ``serve()`` over HTTP.  Each POSTs a
start and polls ``GET /pipelines/<slug>/processings`` at a fixed interval
until the run is done, then POSTs a target-index resume of the same
processing and polls again.  The seed draws the segments of each request
and the resumed index.  A fixed quarter of the requests trip the stop gate:
client ``i`` sends a halting request as its request ``n`` when
``(n + 2 i) % 4 == 1``.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import threading
import time
import urllib.request

import pyarrow.parquet as pq

SLUG = "segments"
CLIENTS = 2
POLL_INTERVAL_S = 0.2
OP_TIMEOUT_S = 60.0
STOP_EVERY = 4
WORDS = ("alpha", "beta", "gamma", "delta", "kappa", "omega", "sigma", "tau")

PIPELINE_DOC = {
    "slug": SLUG,
    "title": "Segment rewrite",
    "description": "Wrap, rewrite and join the segments of one document.",
    "blocks": [
        {"id": "upload_file", "slug": "upload", "description": "Ingest the document.", "input": {}},
        {
            "id": "wrap_text",
            "slug": "wrap",
            "description": "Bracket every segment.",
            "input": {"prefix": "<", "suffix": ">"},
            "input_config": {
                "type": "array",
                "property": {"text": {"origin": "upload", "json_path": "$.segments[*].text"}},
            },
        },
        {
            "id": "text_replace",
            "slug": "replace",
            "description": "Replace spaces with underscores.",
            "input": {"old": " ", "new": "_"},
            "input_config": {"property": {"text": {"origin": "wrap"}}},
        },
        {
            "id": "join_strings",
            "slug": "join",
            "description": "Gather the segments in order.",
            "input": {"separator": "|"},
            "input_config": {"property": {"strings": {"origin": "replace", "array_input": True}}},
        },
        {
            "id": "stop_pipeline",
            "slug": "gate",
            "description": "Stop documents flagged halt.",
            "input": {"condition": "==", "value": "halt"},
            "input_config": {"property": {"data": {"origin": "upload", "json_path": "$.flag"}}},
        },
        {
            "id": "wrap_text",
            "slug": "final",
            "description": "Bracket the joined text.",
            "input": {"prefix": "[", "suffix": "]"},
            "input_config": {"property": {"text": {"origin": "join"}}},
        },
    ],
}


def expected_join(segments: list[str]) -> str:
    return "|".join(f"<{s}>".replace(" ", "_") for s in segments)


def expected_final(segments: list[str]) -> str:
    return f"[{expected_join(segments)}]"


def expected_statuses(halt: bool, resumed: bool) -> list[str]:
    first = "loaded" if resumed else "completed"
    if halt:
        return [first, "completed", "completed", "completed", "stopped", "skipped"]
    return [first] + ["completed"] * 5


def make_request(rng: random.Random) -> tuple[list[str], int]:
    """Segments of one request and the index a resume recomputes."""
    n = rng.randint(4, 32)
    segments = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 6))) for _ in range(n)]
    return segments, rng.randrange(n)


class Client:
    """One closed-loop client.  Records (kind, latency, ok) per operation,
    the POST round trips, the poll latencies and the client-side spans."""

    def __init__(self, ctx, base: str, idx: int, deadline: float, store_root: str, stream: int):
        self.ctx, self.base, self.deadline, self.root = ctx, base, deadline, store_root
        self.rng = random.Random(ctx.seed * 1000 + stream * 10 + idx)
        self.idx = idx
        self.n = 0
        self.ops: list[tuple[str, float, bool]] = []
        self.post_ms: list[float] = []
        self.poll_ms: list[float] = []
        self.polls = 0
        self.accepted: list[tuple[str, float]] = []  # (processing id, 202 time)
        self.payload_bytes = 0
        self.problems: list[str] = []

    def _request(self, method: str, path: str, body: dict | None = None):
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(
            self.base + path, data, {"Content-Type": "application/json"}, method=method
        )
        tracer = self.ctx.tracer
        with tracer.span(f"api.{method.lower()}") if tracer else contextlib.nullcontext():
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, json.loads(r.read()), len(data or b"")

    def _post(self, path: str, body: dict) -> tuple[str, int]:
        t0 = time.perf_counter()
        status, resp, n = self._request("POST", path, body)
        t1 = time.perf_counter()
        self.post_ms.append((t1 - t0) * 1000.0)
        if status != 202:
            raise RuntimeError(f"POST {path} -> {status}")
        self.accepted.append((resp["processing_id"], t1))
        return resp["processing_id"], n

    def _await(self, pid: str) -> dict:
        path = f"/pipelines/{SLUG}/processings?processing_id={pid}"
        give_up = time.perf_counter() + OP_TIMEOUT_S
        while time.perf_counter() < give_up:
            t0 = time.perf_counter()
            _, resp, _ = self._request("GET", path)
            self.poll_ms.append((time.perf_counter() - t0) * 1000.0)
            self.polls += 1
            procs = resp["processings"]
            if procs and not procs[0]["running"]:
                return procs[0]
            time.sleep(POLL_INTERVAL_S)
        raise TimeoutError(f"{pid} not done after {OP_TIMEOUT_S} s")

    def _stage(self, pid: str, block: str) -> list[str]:
        # read the stage's parquet files without Spark, so checks neither
        # count as stage reads nor compete with the other client's run
        table = pq.read_table(os.path.join(self.root, SLUG, pid, block)).sort_by(
            [("input_index", "ascending"), ("output_index", "ascending")]
        )
        return table.column("payload_str").to_pylist()

    def _check(self, proc: dict, segments: list[str], halt: bool, resumed: bool, pid: str) -> list[str]:
        problems = []
        statuses = [b["status"] for b in proc["blocks"]]
        if proc["error"] is not None:
            problems.append(f"error {proc['error']}")
        if statuses != expected_statuses(halt, resumed):
            problems.append(f"statuses {statuses}")
        if proc["stopped_at"] != ("gate" if halt else None):
            problems.append(f"stopped_at {proc['stopped_at']}")
        if self._stage(pid, "join") != [expected_join(segments)]:
            problems.append("join text")
        if not halt and self._stage(pid, "final") != [expected_final(segments)]:
            problems.append("final text")
        return problems

    def _op(self, kind: str, body: dict, segments, halt, resumed, pid=None):
        tracer = self.ctx.tracer
        span = tracer.open(f"op.{kind}", trace=pid) if tracer else None
        t0 = time.perf_counter()
        proc, problems = None, []
        try:
            pid, n = self._post(f"/pipelines/{SLUG}/{kind}", body)
            if span:
                span.trace = pid
            if kind == "start":
                self.payload_bytes += n
            proc = self._await(pid)
        except Exception as ex:  # noqa: BLE001 - counted as failed
            problems = [f"{type(ex).__name__}: {ex}"]
        latency = time.perf_counter() - t0
        if span:
            tracer.close(span)
        if proc is not None:
            try:
                problems = self._check(proc, segments, halt, resumed, pid)
            except Exception as ex:  # noqa: BLE001 - counted as failed
                problems = [f"check: {type(ex).__name__}: {ex}"]
        if problems:
            self.problems.append(f"{kind} {pid}: {problems}")
        self.ops.append((kind, latency, not problems))
        return None if problems else pid

    def cycle(self) -> None:
        """A start, then a resume of the same processing from ``wrap`` at a
        seeded index.  Both are checked against the same expected join, so
        a passing resume left the ``join`` stage unchanged."""
        halt = (self.n + 2 * self.idx) % STOP_EVERY == 1
        self.n += 1
        segments, target = make_request(self.rng)
        doc = {"segments": [{"text": s} for s in segments], "flag": "halt" if halt else "go"}
        pid = self._op("start", {"input": {"upload": {"file": json.dumps(doc)}}}, segments, halt, False)
        if pid is not None:
            body = {"pipeline": {"processing_id": pid}, "block": {"slug": "wrap", "target_index": target}}
            self._op("resume", body, segments, halt, True, pid)

    def loop(self) -> None:
        while time.perf_counter() < self.deadline:
            self.cycle()


def _concurrently(fns) -> None:
    threads = [threading.Thread(target=fn) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def run(ctx) -> dict:
    from data_pipelines_worker_spark.api.server import PipelineService, serve
    from data_pipelines_worker_spark.plans.compiler import PipelineRunner, PipelineSpec

    store_root = os.path.join(ctx.run_dir, "stages")
    spec = PipelineSpec.from_json(PIPELINE_DOC)
    service = PipelineService(PipelineRunner(ctx.spark, store_root), {SLUG: spec})
    srv = serve(service)
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        # set-up: both clients run two untimed cycles (one halting)
        warm = [Client(ctx, base, i, 0.0, store_root, stream=0) for i in range(CLIENTS)]
        _concurrently([lambda c=c: [c.cycle() for _ in range(2)] for c in warm])
        if any(c.problems for c in warm):
            raise RuntimeError(f"warm-up failed: {[c.problems for c in warm]}")
        bytes_before = dir_bytes(store_root)
        ctx.start_timed()
        t_start = time.perf_counter()
        clients = [Client(ctx, base, i, t_start + ctx.seconds, store_root, stream=1) for i in range(CLIENTS)]
        _concurrently([c.loop for c in clients])
        wall = time.perf_counter() - t_start
        ctx.end_timed()
        for pid, _ in (a for c in clients for a in c.accepted):
            service.wait(pid, timeout=120)
        stage_bytes = dir_bytes(store_root) - bytes_before
    finally:
        srv.shutdown()
        srv.server_close()
    ops = [op for c in clients for op in c.ops]
    return {
        "ops": ops,
        "wall_s": wall,
        "bad": {f"client{i}": c.problems for i, c in enumerate(clients) if c.problems},
        "post_ms": [x for c in clients for x in c.post_ms],
        "poll_ms": [x for c in clients for x in c.poll_ms],
        "polls": sum(c.polls for c in clients),
        "accepted": [a for c in clients for a in c.accepted],
        "stage_bytes": stage_bytes,
        "payload_bytes": sum(c.payload_bytes for c in clients),
    }
