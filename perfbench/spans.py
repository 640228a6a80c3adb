"""Spans recorded around calls into the engine's public functions.

The engine itself is not instrumented: :class:`Tracer` replaces a module or
class attribute with a wrapper that records a span (name, layer, start, end,
parent, query id) and restores the original afterwards. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    qid: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Single-threaded span recorder (the serving client is one thread)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.qid: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), parent=parent, qid=self.qid))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, i: int) -> Span:
        self.spans[i].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != i:
            raise RuntimeError(f"span {self.spans[i].name} closed out of order")
        return self.spans[i]

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        i = self.open(name, layer)
        try:
            yield self.spans[i]
        finally:
            self.close(i)

    def wrap(self, owner, attr: str, name: str, layer: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``before(args, kwargs)`` may return new ``(args, kwargs)``;
        ``after(span, args, kwargs, result)`` may annotate the span.
        """
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                args, kwargs = before(args, kwargs)
            i = self.open(name, layer)
            try:
                result = orig(*args, **kwargs)
            finally:
                sp = self.close(i)
            if after is not None:
                after(sp, args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0) + 1
        return out

    def dump(self, path: str, **extra) -> None:
        """Write the spans (and any ``extra`` lists) as one JSON object."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((s.end - s.start) - covered)
    return out


def in_trees(spans: list[Span], root_name: str) -> list[bool]:
    """Whether each span lies in a tree rooted at a ``root_name`` span."""
    out: list[bool] = []
    for s in spans:
        out.append(s.name == root_name if s.parent is None else out[s.parent])
    return out


def subtree_self_by_name(spans: list[Span], root_name: str) -> tuple[dict[str, float], float, int]:
    """Self time summed per span name over every tree rooted at a
    ``root_name`` span; also the roots' total wall time and count."""
    by_name: dict[str, float] = {}
    wall = 0.0
    n = 0
    for s, own, inside in zip(spans, self_times(spans), in_trees(spans, root_name)):
        if not inside:
            continue
        by_name[s.name] = by_name.get(s.name, 0.0) + own
        if s.parent is None:
            wall += s.end - s.start
            n += 1
    return by_name, wall, n


# --- process CPU of the local Spark executor (JVM + Python workers) -------- #


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it, from each ``/proc/<pid>/stat``'s
    parent field (``/proc/<pid>/task/*/children`` is missing on some kernels)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid``'s process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / tick


# --- Spark event log: stages attributed to the job group that ran them ---- #


def stage_table(event_log: str, stage_profile) -> list[dict]:
    """Per-stage rows from ``stage_profile.profile`` (the module
    ``scripts/stage_profile.py``) plus the fields it lacks: job group,
    shuffle write bytes, spilled bytes and the run time of every task."""
    group_of: dict[int, str | None] = {}
    extra: dict[int, dict] = {}
    for line in stage_profile._lines(event_log):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                group_of.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            e = extra.setdefault(
                ev["Stage ID"], {"shuffle_write": 0, "spill": 0, "task_run_ms": []}
            )
            e["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            e["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            e["task_run_ms"].append(m.get("Executor Run Time", 0))
    rows = []
    for r in stage_profile.profile(event_log):
        e = extra.get(r["stage"], {"shuffle_write": 0, "spill": 0, "task_run_ms": []})
        rows.append({**r, **e, "group": group_of.get(r["stage"])})
    return rows
