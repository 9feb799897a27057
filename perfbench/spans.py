"""Spans around the calls the benchmark makes into each engine layer.

The tracer lives in the benchmark, not in the engine: it replaces public
functions at the binding their caller looks up (a module attribute or a class
attribute) with a wrapper that opens a span, and puts everything back on
``restore``. Each span runs its Spark jobs under its own job group, so after
the run :func:`harvest_stage_metrics` can bill executor CPU, shuffle, spill
and GC to the span from the Spark REST API.

Spans stay in memory and are written as JSON once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    trace_id: str | None
    thread: int
    end: float = 0.0
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the time covered by child spans. Children of one
        span run on the span's own thread, one after another, so their
        durations never overlap and simply add up."""
        return self.wall_s - self.child_s


class Tracer:
    """Collects spans. ``enabled`` may be flipped between epochs; a disabled
    tracer's wrappers call straight through."""

    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = True
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # optional epoch filter: a wrapped call whose kwargs carry an
        # ``epoch_id`` the filter rejects runs untraced, nested calls included
        self.epoch_filter = None

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            sid=next(self._ids), name=name, start=time.perf_counter(),
            parent=parent.sid if parent else None,
            trace_id=trace_id or (parent.trace_id if parent else None),
            thread=threading.get_ident(), attrs=dict(attrs),
        )
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                parent.child_s += s.wall_s
            self._set_group(parent)
            with self._lock:
                self.spans.append(s)

    # ------------------------------------------------------------ patches
    def wrap(self, owner, attr: str, name: str, pre=None, post=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``pre(args,
        kwargs)`` runs inside the span before the call and its value reaches
        ``post(span, pre_value, args, kwargs, result)``, which may add counts
        to the span's attrs."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            local = tracer._local
            if not tracer.enabled or getattr(local, "muted", 0):
                return orig(*args, **kwargs)
            epoch = kwargs.get("epoch_id")
            if epoch is not None and tracer.epoch_filter is not None and not tracer.epoch_filter(epoch):
                local.muted = 1
                try:
                    return orig(*args, **kwargs)
                finally:
                    local.muted = 0
            tid = f"{kwargs.get('fence_key')}:{epoch}" if epoch is not None else None
            with tracer.span(name, trace_id=tid) as sp:
                state = pre(args, kwargs) if pre is not None else None
                out = orig(*args, **kwargs)
                if post is not None:
                    post(sp, state, args, kwargs, out)
                return out

        wrapper.__wrapped__ = orig
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ reports
    def by_name(self, t0: float = float("-inf"), t1: float = float("inf")) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.start >= t0 and s.end <= t1:
                out.setdefault(s.name, []).append(s)
        return out

    def dump(self, path: str) -> None:
        rows = []
        for s in sorted(self.spans, key=lambda s: s.start):
            d = asdict(s)
            d["wall_s"] = s.wall_s
            d["self_s"] = s.self_s
            rows.append(d)
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1, default=str)


# ------------------------------------------------------------ REST harvest
def _get(url: str):
    with urllib.request.urlopen(url, timeout=20) as r:
        return json.load(r)


def harvest_stage_metrics(spark, tracer: Tracer, skew_for: tuple[str, ...] = ()) -> None:
    """Attach per-span stage metrics from the REST API (``spark.ui.enabled``
    on an ephemeral port). Each span's own job group is billed to it; the
    ``incl_*`` keys add its descendants. For spans named in ``skew_for`` the
    task skew (max ÷ median task run time) of the span's longest stage is
    read from the stage's task summary."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    groups = {f"pb-{s.sid}": s for s in tracer.spans}
    jobs = []
    for _ in range(20):  # the status store trails the scheduler a little
        jobs = _get(f"{base}/jobs")
        if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs):
            break
        time.sleep(0.25)
    stages = {(s["stageId"], s["attemptId"]): s for s in _get(f"{base}/stages")}
    by_stage: dict[int, list[dict]] = {}
    for st in stages.values():
        by_stage.setdefault(st["stageId"], []).append(st)
    keys = ("cpu_s", "run_s", "shuffle_write_bytes", "spill_bytes", "gc_s", "bytes_out", "tasks")
    for s in tracer.spans:
        s.attrs.update({k: 0.0 for k in keys})
        s.attrs["stages"] = []
    for j in jobs:
        s = groups.get(j.get("jobGroup"))
        if s is None:
            continue
        for sid in j.get("stageIds", []):
            for st in by_stage.get(sid, []):
                if st.get("status") == "SKIPPED":
                    continue
                a = s.attrs
                a["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                a["run_s"] += st.get("executorRunTime", 0) / 1e3
                a["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                a["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                a["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                a["bytes_out"] += st.get("outputBytes", 0)
                a["tasks"] += st.get("numTasks", 0)
                a["stages"].append((st["stageId"], st["attemptId"], st.get("executorRunTime", 0)))
    # inclusive sums, children before parents
    by_id = {s.sid: s for s in tracer.spans}
    for s in tracer.spans:
        for k in keys:
            s.attrs["incl_" + k] = s.attrs[k]
        s.attrs["incl_stages"] = list(s.attrs["stages"])
    for s in sorted(tracer.spans, key=lambda s: s.start, reverse=True):
        p = by_id.get(s.parent)
        if p is not None:
            for k in keys:
                p.attrs["incl_" + k] += s.attrs["incl_" + k]
            p.attrs["incl_stages"] += s.attrs["incl_stages"]
    for s in tracer.spans:
        if s.name in skew_for and s.attrs["incl_stages"]:
            sid, att, _ = max(s.attrs["incl_stages"], key=lambda x: x[2])
            q = _get(f"{base}/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            s.attrs["task_skew"] = mx / med if med else 1.0
        s.attrs.pop("stages")
        s.attrs.pop("incl_stages")
