"""Spark status-store reader and the span tracer of the traced run.

Jobs are attributed to spans by job-id and stage-id *windows*: a span
owns every stage whose id was allocated between its entry and its exit
and that no child span owns. Job groups are not used, because jobs that
the program submits from a driver thread pool (``eps_sweep`` runs its
ε levels through ``compat.concurrent_map_ordered``) do not inherit the
submitting thread's group.

Spans are opened only on the main thread. A traced function called from
a worker thread runs unwrapped, and its work counts toward the main
thread's innermost open span, which is the call that started the pool.
"""

from __future__ import annotations

import contextlib
import importlib
import threading
import time
from dataclasses import dataclass, field

STAGE_FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "shuffle_mb", "spill_mb")
_MB = 1024.0 * 1024.0


def zero_totals() -> dict[str, float]:
    return {f: 0.0 for f in STAGE_FIELDS}


class StatusStore:
    """Executor-side totals of stage-id windows, read from Spark's live
    status store through py4j (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id): the lower end of a window."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def stage_metrics(self, lo: int, hi: int) -> dict[int, dict[str, float]]:
        """Per-stage totals for stage ids in [lo, hi) that ran.

        Waits for the listener bus to drain first: stage-completion
        events reach the store asynchronously after an action returns.
        """
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty(30_000)  # raises on timeout
        out = {}
        for sid in range(lo, hi):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage id allocated, stage never submitted
                continue
            if s.status().toString() != "COMPLETE":
                continue
            out[sid] = {
                "tasks": float(s.numTasks()),
                "task_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_mb": (s.shuffleReadBytes() + s.shuffleWriteBytes()) / _MB,
                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB,
            }
        return out

    def totals(self, lo_mark, hi_mark) -> dict[str, float]:
        t = zero_totals()
        t["jobs"] = float(hi_mark[0] - lo_mark[0])
        for m in self.stage_metrics(lo_mark[1], hi_mark[1]).values():
            for k, v in m.items():
                t[k] += v
        return t


@dataclass
class Span:
    layer: str
    parent: "Span | None"
    t0: float
    mark0: tuple[int, int]
    t1: float = 0.0
    mark1: tuple[int, int] = (0, 0)
    children: list = field(default_factory=list)


class Tracer:
    """Records one tree of spans per traced pass.

    ``span(layer)`` is a no-op when the tracer is disabled, so the same
    pass code runs traced and untraced.
    """

    def __init__(self, store: StatusStore, enabled: bool):
        self.store = store
        self.enabled = enabled
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        # layer -> positional args of its wrapped calls, for counts that
        # need a job of their own (run after the pass, outside its windows)
        self.calls: dict[str, list[tuple]] = {}

    def reset(self) -> None:
        self.roots, self._stack, self.calls = [], [], {}

    def current_layer(self) -> str | None:
        return self._stack[-1].layer if self._stack else None

    @contextlib.contextmanager
    def span(self, layer: str):
        if (
            not self.enabled
            or threading.current_thread() is not threading.main_thread()
            or self.current_layer() == layer  # same-layer nesting: one span
        ):
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, parent, time.perf_counter(), self.store.mark())
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            self._stack.pop()
            s.mark1 = self.store.mark()
            s.t1 = time.perf_counter()

    def wrap(self, fn, layer: str):
        def traced(*args, **kwargs):
            if self.enabled and threading.current_thread() is threading.main_thread():
                self.calls.setdefault(layer, []).append(args)
            with self.span(layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, sites):
        """Replace ``module.name`` by a span-wrapped twin for each
        ``(module, name, layer)`` import site; restore on exit."""
        saved = []
        try:
            for mod_name, name, layer in sites:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, name)
                saved.append((mod, name, fn))
                setattr(mod, name, self.wrap(fn, layer))
            yield
        finally:
            for mod, name, fn in reversed(saved):
                setattr(mod, name, fn)

    def layer_totals(self, pass_t0, pass_t1, pass_mark0, pass_mark1):
        """Fold the recorded spans of one pass into per-layer metrics.

        Each stage goes to the innermost span whose stage window holds
        it; a stage outside every span, and the pass wall time that no
        top-level span covers, go to the ``driver`` layer. Wall time of
        a layer counts each outermost span of that layer once; self time
        subtracts the child spans.
        """
        stages = self.store.stage_metrics(pass_mark0[1], pass_mark1[1])
        out: dict[str, dict[str, float]] = {}

        def acc(layer):
            return out.setdefault(layer, {"wall_s": 0.0, "self_s": 0.0, **zero_totals()})

        owned: set[int] = set()

        def visit(s: Span, ancestors: frozenset):
            a = acc(s.layer)
            wall = s.t1 - s.t0
            if s.layer not in ancestors:
                a["wall_s"] += wall
            a["self_s"] += wall - sum(c.t1 - c.t0 for c in s.children)
            child_stages: set[int] = set()
            child_jobs = 0
            for c in s.children:
                child_stages |= visit(c, ancestors | {s.layer})
                child_jobs += c.mark1[0] - c.mark0[0]
            a["jobs"] += (s.mark1[0] - s.mark0[0]) - child_jobs
            mine = set(range(s.mark0[1], s.mark1[1])) - child_stages
            for sid in mine & stages.keys():
                for k, v in stages[sid].items():
                    a[k] += v
            owned.update(mine)
            return mine | child_stages

        for root in self.roots:
            visit(root, frozenset())
        d = acc("driver")
        covered = sum(r.t1 - r.t0 for r in self.roots)
        d["wall_s"] = d["self_s"] = (pass_t1 - pass_t0) - covered
        d["jobs"] = (pass_mark1[0] - pass_mark0[0]) - sum(
            r.mark1[0] - r.mark0[0] for r in self.roots
        )
        for sid in stages.keys() - owned:
            for k, v in stages[sid].items():
                d[k] += v
        return out
