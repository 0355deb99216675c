"""The traced run: spans recorded from outside the program, plus Spark's
own job, stage and SQL status records read in-process.

Spans (name, start, end, parent, op id) are kept in memory. An *op* is
one timed user call made by a workload (an engine verb, or one query);
while it runs, every wrapped store or Bloom call belongs to it. With one
client that holds even for calls made from the engine's own commit
threads, so children are attributed by the op that is open, not by the
calling thread. Nothing inside the program changes: the wrappers are
installed on the program's classes and modules in this process only, and
removed by :meth:`Tracer.close`.

Spark jobs and SQL executions are attributed to the op whose interval
contains their submission time. They are read after the measured loop
from the driver's status stores through py4j (``statusStore()`` for jobs,
stages and tasks; the SQL status store for per-scan "size of files
read"), which keeps working with the UI disabled and needs no HTTP.
"""

from __future__ import annotations

import functools
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time

#: IndexStore methods that flip a manifest (counted per composite op)
FLIPS = ("commit", "append", "attach_part", "update_meta", "compact_parts")
#: IndexStore methods wrapped in the traced run
STORE_METHODS = FLIPS + ("stage_part", "read_point")
#: bloom module functions wrapped in the traced run
BLOOM_FUNCS = ("build_arrow", "hash_pairs", "might_contain_any")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the op span this call belongs to
    op: int | None = None  # op id
    extra: dict = field(default_factory=dict)


class Tracer:
    """Records spans around calls into the program's layers."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.overhead = 0.0  # seconds spent in tracing code inside ops
        self._lock = threading.Lock()
        self._op: int | None = None  # span index of the open op
        self._restore: list[tuple[object, str, object]] = []
        # set while a before/after hook runs, so the program calls a
        # hook makes on the tracer's behalf record no spans of their own
        self._muted = threading.local()

    # -- ops -------------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """One user-visible call; nested spans become its children."""
        span = Span(name, time.time())
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        span.op = idx
        self._op = idx
        try:
            yield span
        finally:
            span.end = time.time()
            self._op = None

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None and s.op is not None and s.end]

    def children(self, op: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == op.op and s.end]

    def self_s(self, op: Span) -> float:
        return self_time((op.start, op.end), [(c.start, c.end) for c in self.children(op)])

    # -- wrappers --------------------------------------------------------

    def _child(self, name: str) -> Span:
        span = Span(name, time.time(), parent=self._op, op=None)
        with self._lock:
            self.spans.append(span)
        return span

    def _add_overhead(self, dt: float) -> None:
        if self._op is not None:
            with self._lock:
                self.overhead += dt

    def _hook(self, fn, *args):
        self._muted.on = True
        try:
            return fn(*args)
        finally:
            self._muted.on = False

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``before(args, kwargs) -> dict`` and ``after(args, kwargs, extra)``
        run outside the child span and add to its ``extra``; their time
        is counted as tracing overhead."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if getattr(tracer._muted, "on", False):
                return orig(*args, **kwargs)
            t_in = time.perf_counter()
            extra = tracer._hook(before, args, kwargs) if before else {}
            span = tracer._child(name)
            span.extra = extra
            t_mid = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            except Exception as exc:
                span.extra["raised"] = type(exc).__name__
                raise
            finally:
                t_out = time.perf_counter()
                span.end = time.time()
                if after:
                    tracer._hook(after, args, kwargs, span.extra)
                tracer._add_overhead((t_mid - t_in) + (time.perf_counter() - t_out))

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def wrap_lock(self, owner) -> None:
        """``IndexStore.op_lock`` is a context manager; record the wait to
        acquire it as a ``store.op_lock_wait`` span."""
        orig = owner.op_lock
        tracer = self

        @functools.wraps(orig)
        def op_lock(store, name: str = "write"):
            @contextmanager
            def timed():
                span = tracer._child("store.op_lock_wait")
                with orig(store, name):
                    span.end = time.time()
                    yield

            return timed()

        owner.op_lock = op_lock
        self._restore.append((owner, "op_lock", orig))

    def install(self, store_cls, bloom_mod) -> None:
        """Wrap the store methods, the op lock and the Bloom functions."""

        def fold_check(args, kwargs):
            store, name = args[0], args[1]
            return {"fold": len(store.live_parts(name)) >= store.max_parts}

        def probe_parts(args, kwargs, extra):
            store, name, col, values = args[0], args[1], args[2], args[3]
            live = len(store.live_parts(name))
            kept = len(store.parts_for_keys(name, col, list(values))) if live else 0
            extra["parts"] = (kept, live)

        for meth in STORE_METHODS:
            self.wrap(
                store_cls,
                meth,
                f"store.{meth}",
                before=fold_check if meth == "append" else None,
                after=probe_parts if meth == "read_point" else None,
            )
        self.wrap_lock(store_cls)
        for fn in BLOOM_FUNCS:
            self.wrap(bloom_mod, fn, f"bloom.{fn}")

    def close(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# -- Spark status stores ----------------------------------------------------

_SIZE = re.compile(r"([0-9]+(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes in a SQL size metric as the status store formats it, either
    ``"12.3 KiB"`` or ``"total (min, med, max ...)\\n12.3 KiB (...)"``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE.search(body)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


@dataclass
class JobRecord:
    submitted: float  # epoch seconds
    stages: list[int]


@dataclass
class StageRecord:
    shuffle_write: int
    task_s: list[float]


class SparkStatus:
    """Reads jobs, stages, tasks and SQL scan sizes from the driver's
    status stores after the measured loop."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._stages: dict[int, StageRecord] = {}

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # noqa: BLE001 — fall back to a grace period
            time.sleep(1.0)

    def jobs(self) -> list[JobRecord]:
        out = []
        seq = self.store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            ids = j.stageIds()
            out.append(
                JobRecord(
                    sub.get().getTime() / 1000.0,
                    [int(ids.apply(k)) for k in range(ids.size())],
                )
            )
        return out

    def stage(self, stage_id: int) -> StageRecord:
        if stage_id in self._stages:
            return self._stages[stage_id]
        jvm = self.sc._jvm
        rec = StageRecord(0, [])
        try:
            datas = self.store.stageData(
                stage_id, False, jvm.java.util.ArrayList(), False,
                self.sc._gateway.new_array(jvm.double, 0),
            )
        except Exception:  # noqa: BLE001 — stage evicted from the store
            datas = None
        if datas is not None:
            for k in range(datas.size()):
                sd = datas.apply(k)
                if str(sd.status()) != "COMPLETE":
                    continue
                rec.shuffle_write += int(sd.shuffleWriteBytes())
                tasks = self.store.taskList(stage_id, sd.attemptId(), 1 << 20)
                for t in range(tasks.size()):
                    d = tasks.apply(t).duration()
                    if not d.isEmpty():
                        rec.task_s.append(d.get() / 1000.0)
        self._stages[stage_id] = rec
        return rec

    def scans(self) -> list[tuple[float, float]]:
        """``(submission epoch seconds, bytes of files read)`` per SQL
        execution."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = []
            metrics = e.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "size of files read":
                    ids.append(m.accumulatorId())
            if not ids:
                out.append((e.submissionTime() / 1000.0, 0.0))
                continue
            values = sql.executionMetrics(e.executionId())
            total = 0.0
            for acc in ids:
                v = values.get(acc)
                if not v.isEmpty():
                    total += parse_size(str(v.get()))
            out.append((e.submissionTime() / 1000.0, total))
        return out


def attribute(ops: list[Span], times: list[float], slack: float = 0.002) -> list[int | None]:
    """Index into ``ops`` of the op whose interval holds each time, or
    ``None``. Ops never overlap (one client), so the match is unique."""
    order = sorted(range(len(ops)), key=lambda i: ops[i].start)
    out: list[int | None] = []
    for t in times:
        hit = None
        for i in order:
            if ops[i].start - slack <= t <= ops[i].end + slack:
                hit = i
                break
        out.append(hit)
    return out
