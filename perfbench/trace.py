"""In-memory span tracer and Spark status-store readers for the traced run.

Wrappers are installed around public functions of the engine's modules.
A function that other modules imported by name (``from .catalog import
load_table``) is replaced in every namespace of the package that holds
it, not only in its defining module; otherwise calls through the
importing module would go unseen.

A span records name, layer, start, end, parent span and op id. Spans
nest per thread: the pipelines run their audits and COPY streams on
their own thread pools, so each thread keeps its own stack. While the
wrappers are installed, ``ThreadPoolExecutor.submit`` is wrapped too: a
task starts with the span that was innermost on the submitting thread
as its parent, so the pool's work nests under the pipeline ``run`` (or
the ``read_table_partitioned`` call) that started it, and is not also
counted as that span's own time.

Spark work is attributed to an op by the job and stage ids the DAG
scheduler hands out inside the op's window. With one client, every id
in ``[first, next)`` belongs to that op, whichever thread submitted it.
Job groups are not used: pool threads do not inherit them, and a
reused group id accumulates jobs across ops.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass

PACKAGE = "postgresql_transfer_tool_spark"


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op_id: int
    thread: int
    result_none: bool = False


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op_id = -1
        #: False while the benchmark checks an op's output: the calls it
        #: makes (``run_sql`` on the target) are not the op's
        self.recording = True
        #: ``stack``: this thread's open span ids, innermost last
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.recording:
            return fn(*args, **kwargs)
        stack = self._stack()
        span = Span(name, layer, time.perf_counter(), 0.0,
                    stack[-1] if stack else None, self.op_id, threading.get_ident())
        with self._lock:  # pool threads open spans concurrently
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
        try:
            out = fn(*args, **kwargs)
            span.result_none = out is None
            return out
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def inherit(self, fn):
        """``fn`` wrapped to run, on whichever thread, with the caller's
        innermost open span as the parent of its outermost spans."""
        stack = self._stack()
        base = stack[-1:]

        def task(*args, **kwargs):
            saved = getattr(self._local, "stack", None)
            self._local.stack = list(base)
            try:
                return fn(*args, **kwargs)
            finally:
                self._local.stack = saved

        return task

    # -- patching ------------------------------------------------------------

    def _replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_function(self, module, fname: str, layer: str) -> None:
        orig = getattr(module, fname)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(layer, fname, orig, *args, **kwargs)

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._replace(mod, attr, wrapper)

    def wrap_method(self, cls, mname: str, layer: str, name: str) -> None:
        orig = getattr(cls, mname)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(layer, name, orig, *args, **kwargs)

        self._replace(cls, mname, wrapper)

    def install(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from postgresql_transfer_tool_spark import catalog, pg_transfer, transfer
        from postgresql_transfer_tool_spark.functions import memo
        from postgresql_transfer_tool_spark.sources import pgcopy

        submit = ThreadPoolExecutor.submit

        def traced_submit(pool, fn, /, *args, **kwargs):
            return submit(pool, self.inherit(fn), *args, **kwargs)

        self._replace(ThreadPoolExecutor, "submit", traced_submit)
        self.wrap_function(catalog, "load_table", "catalog")
        self.wrap_method(memo.CheckpointMemo, "get", "memo", "memo.get")
        self.wrap_method(memo.CheckpointMemo, "put", "memo", "memo.put")
        for f in ("audit_primary_key", "audit_unique", "audit_check", "audit_fk_orphans"):
            self.wrap_function(transfer, f, "transfer")
        for f in ("run_sql", "copy_out", "copy_query_out", "copy_in",
                  "read_table", "read_table_partitioned", "write_table"):
            self.wrap_function(pgcopy, f, "pgcopy")
        self.wrap_function(pg_transfer, "reflect_pg_catalog", "pg_transfer")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, val = self._undo.pop()
            setattr(owner, attr, val)

    # -- aggregation ---------------------------------------------------------

    def by_name(self, name: str, outermost: bool = False) -> list[Span]:
        """Spans called ``name``; ``outermost`` drops those nested in a
        span of the same name (copy_out delegating to copy_query_out is
        one stream, not two)."""
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            if outermost:
                p = s.parent
                while p is not None and self.spans[p].name != name:
                    p = self.spans[p].parent
                if p is not None:
                    continue
            out.append(s)
        return out

    def total(self, *names: str) -> float:
        return sum(s.end - s.start for n in names for s in self.by_name(n, outermost=True))

    def count(self, *names: str) -> int:
        return sum(len(self.by_name(n)) for n in names)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (times relative to the first)."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "layer": s.layer, "op": s.op_id,
                    "parent": s.parent, "thread": s.thread,
                    "start_s": s.start - t0, "end_s": s.end - t0,
                }) + "\n")

    def self_times(self) -> dict[str, float]:
        """Per layer: time inside its spans minus the union of their
        child spans' intervals, so children running concurrently on pool
        threads are subtracted once. Concurrent spans of one layer each
        keep their own self time, so a layer's sum can exceed wall time."""
        children: list[list[tuple[float, float]]] = [[] for _ in self.spans]
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, reach = 0.0, s.start
            for a, b in sorted(children[i]):
                a, b = max(a, reach), min(b, s.end)
                if b > a:
                    covered += b - a
                    reach = b
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out


# -- Spark status store --------------------------------------------------------


def dag_ids(spark) -> tuple[int, int]:
    """(next job id, next stage id) of the DAG scheduler."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    # py4j hands the AtomicIntegers back as Python ints
    return int(dag.nextJobId()), int(dag.nextStageId())


STAGE_FIELDS = (
    "executorRunTime", "jvmGcTime", "inputBytes", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "numCompleteTasks",
)


def stage_metrics(spark, first_stage: int, next_stage: int) -> dict[str, float]:
    """Summed metrics of the stages with ids in ``[first, next)``, read
    from the status store (populated with the UI off) after the
    listener bus has drained. Skipped stages carry zeros."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    store = sc.statusStore()
    out = {f: 0.0 for f in STAGE_FIELDS}
    out["stages"] = 0
    out["write_stage_run_ms"] = 0.0
    for sid in range(first_stage, next_stage):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:
            continue
        if str(st.status().toString()) == "SKIPPED":
            continue
        out["stages"] += 1
        vals = {f: float(getattr(st, f)()) for f in STAGE_FIELDS}
        for f, v in vals.items():
            out[f] += v
        if vals["outputBytes"] > 0:
            out["write_stage_run_ms"] += vals["executorRunTime"]
    return out
