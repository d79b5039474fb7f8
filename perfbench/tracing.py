"""Span tracing for the traced (`--trace 1`) run.

Spans are recorded around calls into the program's modules by patching
the public functions the benchmark reaches, from here; the program
itself is not changed. Each span has a name, start, end, parent span
and the id of the operation it belongs to, plus the number of Spark
jobs submitted while it was open (read from the DAG scheduler's job
counter, which is updated synchronously when a job is submitted).

The workloads run one operation at a time (one client, closed loop),
so a single span stack serves every thread: the service's request
thread runs only while the client thread waits for its reply, and its
spans nest under the client's span.
"""

from __future__ import annotations

import importlib
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    op: int
    parent: int | None
    jobs_start: int
    end: float = 0.0
    jobs_end: int = 0
    attrs: dict = field(default_factory=dict)


# (module, attribute path, span name). Patching the attribute that
# callers look up at call time reaches every caller, including calls
# made inside the service's request threads.
PATCHES = [
    ("zed_spark.lang.parser", "parse", "lang.parse"),
    ("zed_spark.lang", "compile_query", "lang.compile"),
    ("zed_spark.session", "ZedSession.query", "session.query"),
    ("zed_spark.sources.readers", "read_table", "readers.read_table"),
    ("zed_spark.sources.lake", "Pool.load", "lake.load"),
    ("zed_spark.sources.lake", "Lake.scan_ref", "lake.scan_ref"),
    ("zed_spark.service", "QueryService.handle_api", "service.handle"),
]


class Tracer:
    """Keeps spans in memory; `dump` writes them out at the end."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._lock = threading.Lock()
        self._stack: list[int] = []
        self.spans: list[Span] = []
        self.op = 0
        self._undo: list = []
        self.scans: list = []  # DataFrames returned by Lake.scan_ref

    def job_count(self) -> int:
        return self._dag.nextJobId()

    # --- spans ----------------------------------------------------------
    def _open(self, name: str) -> Span:
        jobs = self.job_count()
        with self._lock:
            sp = Span(name, time.perf_counter(), self.op,
                      self._stack[-1] if self._stack else None, jobs)
            self.spans.append(sp)
            self._stack.append(len(self.spans) - 1)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        sp.jobs_end = self.job_count()
        with self._lock:
            self._stack.pop()

    @contextmanager
    def span(self, name: str):
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)

    def new_op(self) -> int:
        self.op += 1
        return self.op

    # --- patching --------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            sp = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(sp)
            if name == "service.handle" and isinstance(out, tuple) and len(out) >= 3:
                sp.attrs["bytes"] = len(out[2] or b"")
            elif name == "lake.scan_ref":
                tracer.scans.append(out)
            return out

        traced.__wrapped__ = fn
        return traced

    def _wrap_gen(self, fn, name: str):
        """Times the consumption of a generator, not its creation."""
        tracer = self

        def traced(*args, **kwargs):
            sp = tracer._open(name)
            try:
                yield from fn(*args, **kwargs)
            finally:
                tracer._close(sp)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for mod_name, path, name in PATCHES:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name))
            self._undo.append((owner, attr, orig))
        client = importlib.import_module("zed_spark.client")
        orig = client.decode_zjson
        client.decode_zjson = self._wrap_gen(orig, "client.decode")
        self._undo.append((client, "decode_zjson", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end,
                    "jobs": s.jobs_end - s.jobs_start, **s.attrs,
                }) + "\n")


def self_times(spans: list[Span]) -> list[tuple[float, int]]:
    """(self seconds, self jobs) per span: its own interval and jobs
    minus those of its direct children. Children of one span never
    overlap, because operations run one at a time."""
    own = [[s.end - s.start, s.jobs_end - s.jobs_start] for s in spans]
    for s in spans:
        if s.parent is not None:
            own[s.parent][0] -= s.end - s.start
            own[s.parent][1] -= s.jobs_end - s.jobs_start
    return [(t, j) for t, j in own]


class StageStats:
    """Stage and task figures from the Spark status store for a range
    of job ids, serialised in one call with the JSON mapper that
    Spark's own REST API uses."""

    FIELDS = {
        "task_run_ms": "executorRunTime",
        "task_cpu_ms": "executorCpuTime",  # ns in the store
        "gc_ms": "jvmGcTime",
        "input_bytes": "inputBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "shuffle_read_bytes": "shuffleReadBytes",
        "spill_bytes": "diskBytesSpilled",
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))

    def collect(self, first_job: int, end_job: int) -> dict:
        """Totals over jobs first_job <= id < end_job."""
        self._ssc.listenerBus().waitUntilEmpty()
        store = self._ssc.statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        jobs = [j for j in jobs if first_job <= j["jobId"] < end_job]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        stages = json.loads(self._mapper.writeValueAsString(store.stageList(None, *defaults)))
        ran = [s for s in stages
               if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        out = {"jobs": len(jobs), "stages": len(ran),
               "tasks": sum(s["numTasks"] for s in ran)}
        for k, src in self.FIELDS.items():
            out[k] = sum(s.get(src) or 0 for s in ran)
        out["task_cpu_ms"] /= 1e6
        out["spill_bytes"] += sum(s.get("memoryBytesSpilled") or 0 for s in ran)
        return out


def dir_bytes(root: str) -> tuple[int, int]:
    """(all bytes, bytes of files that are not parquet data) under root."""
    total = meta = 0
    for d, _, files in os.walk(root):
        for f in files:
            n = os.path.getsize(os.path.join(d, f))
            total += n
            if not f.endswith(".parquet") and not f.endswith(".parquet.crc"):
                meta += n
    return total, meta


# span name -> (self-time metric, self-jobs metric)
SPAN_METRICS = {
    "lang.parse": ("lang.parse_ms", "lang.jobs"),
    "lang.compile": ("lang.compile_ms", "lang.jobs"),
    "session.query": ("session.query_ms", "session.jobs"),
    "readers.read_table": ("readers.read_ms", "readers.jobs"),
    "textops.build": ("textops.build_ms", "textops.build_jobs"),
    "catalyst.plan": ("catalyst.plan_ms", None),
    "exec.action": ("exec.ms", None),
    "lake.load": ("lake.load_ms", "lake.load_jobs"),
    "lake.scan_ref": ("lake.scan_build_ms", "lake.scan_jobs"),
    "service.handle": ("service.handle_ms", None),
    "client.query": ("service.overhead_ms", None),
    "client.load": ("service.overhead_ms", None),
    "client.admin": ("service.overhead_ms", None),
    "client.decode": ("client.decode_ms", None),
}

# every per-layer figure, with its unit; the order of BENCHMARK.json
UNITS = {
    "lang.parse_ms": "ms", "lang.compile_ms": "ms", "lang.jobs": "count",
    "session.query_ms": "ms", "session.jobs": "count",
    "readers.read_ms": "ms", "readers.jobs": "count",
    "textops.build_ms": "ms", "textops.build_jobs": "count",
    "catalyst.plan_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "lake.load_ms": "ms", "lake.load_jobs": "count",
    "lake.scan_build_ms": "ms", "lake.scan_jobs": "count",
    "lake.objects": "count", "lake.meta_bytes_per_commit": "bytes",
    "lake.bytes_written_per_input_byte": "ratio",
    "service.handle_ms": "ms", "service.overhead_ms": "ms",
    "service.jobs_per_request": "count", "service.response_bytes": "bytes",
    "client.decode_ms": "ms",
    "jvm.cpu_s": "s", "py.cpu_s": "s", "host.steal_s": "s",
}


def pass_layers(tracer: Tracer, first: int) -> dict:
    """Per-layer totals over the spans recorded since index `first`."""
    own = self_times(tracer.spans)
    out: dict = {}
    handles = handle_jobs = 0
    for i in range(first, len(tracer.spans)):
        sp = tracer.spans[i]
        ms_key, jobs_key = SPAN_METRICS[sp.name]
        t, j = own[i]
        out[ms_key] = out.get(ms_key, 0.0) + t * 1000
        if jobs_key:
            out[jobs_key] = out.get(jobs_key, 0) + j
        if sp.name == "service.handle":
            handles += 1
            handle_jobs += sp.jobs_end - sp.jobs_start
            out["service.response_bytes"] = (
                out.get("service.response_bytes", 0) + sp.attrs.get("bytes", 0))
    if handles:
        out["service.jobs_per_request"] = handle_jobs / handles
    return out


class LakeBytes:
    """Bytes a pass's loads add under the lake root (pass hooks)."""

    def __init__(self, root: str):
        self.root = root
        self.before_load = (0, 0)
        self.total = self.meta = self.commits = self.sent = 0

    def before(self, op) -> None:
        if op.kind == "load":
            self.before_load = dir_bytes(self.root)

    def after(self, op) -> None:
        if op.kind == "load":
            total, meta = dir_bytes(self.root)
            self.total += total - self.before_load[0]
            self.meta += meta - self.before_load[1]
            self.commits += 1
            self.sent += op.size

    def figures(self) -> dict:
        return {
            "lake.meta_bytes_per_commit": self.meta / max(self.commits, 1),
            "lake.bytes_written_per_input_byte": self.total / max(self.sent, 1),
        }
