"""In-memory span recorder for the traced run.

Spans are recorded as ``[id, name, start_ns, end_ns, parent_id]`` under
one run id and written out as JSON lines when the run ends. The tracer
wraps public callables from the benchmark's side (module attributes and
class methods are patched for the traced run only and restored after),
so nothing inside the package changes.

Self time of a span is its duration minus the part of it covered by its
children's intervals (overlapping children are merged, and children are
clipped to the parent).
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    def wrap(self, fn, name: str, observe=None):
        """``fn`` recording one span per call; ``observe(result)`` (if
        given) sees each return value, outside the span."""
        spans, stack, clock = self.spans, self._stack, time.perf_counter_ns

        def traced(*args, **kwargs):
            rec = [len(spans), name, clock(), 0, stack[-1] if stack else -1]
            spans.append(rec)
            stack.append(rec[0])
            try:
                out = fn(*args, **kwargs)
            finally:
                rec[3] = clock()
                stack.pop()
            if observe is not None:
                observe(out)
            return out
        return traced

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span around a block; yields its record."""
        rec = [len(self.spans), name, time.perf_counter_ns(), 0,
               self._stack[-1] if self._stack else -1]
        self.spans.append(rec)
        self._stack.append(rec[0])
        try:
            yield rec
        finally:
            rec[3] = time.perf_counter_ns()
            self._stack.pop()

    def patch(self, owner, attr: str, name: str, observe=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper until ``restore``."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, observe))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, start, end, parent in self.spans:
                f.write(json.dumps({"run_id": self.run_id, "id": sid, "name": name,
                                    "start_ns": start, "end_ns": end,
                                    "parent": parent}) + "\n")


def self_times(spans) -> list[int]:
    """Self time (ns) of every span, indexed like ``spans``."""
    children = defaultdict(list)
    for _sid, _name, start, end, parent in spans:
        if parent >= 0:
            children[parent].append((start, end))
    out = []
    for sid, _name, start, end, _parent in spans:
        covered = 0
        cur_s = cur_e = None
        for cs, ce in sorted(children.get(sid, ())):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((end - start) - covered)
    return out


def summarize(spans) -> dict:
    """Per span name: calls, total and self time (ns), and the p99 of a
    call's duration (ns)."""
    selfs = self_times(spans)
    durs = defaultdict(list)
    agg = defaultdict(lambda: {"calls": 0, "total_ns": 0, "self_ns": 0})
    for (_sid, name, start, end, _p), self_ns in zip(spans, selfs):
        a = agg[name]
        a["calls"] += 1
        a["total_ns"] += end - start
        a["self_ns"] += self_ns
        durs[name].append(end - start)
    for name, a in agg.items():
        d = sorted(durs[name])
        a["p99_ns"] = d[min(len(d) - 1, int(0.99 * len(d)))]
    return dict(agg)
