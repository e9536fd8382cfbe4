"""Spans around calls into the program's layers, recorded from the
benchmark's own files.

A span has a name, a run id (the pipeline run it belongs to), its parent
span, wall start/end, and the Spark job-id interval it covered. Spans are
kept in memory; ``run.py`` writes them once at exit. Stage counters
(task CPU, shuffle and spill bytes, input records) are attached per
span after each run from the status store, outside the timed region.

With tracing off, ``span`` is a no-op and nothing is patched.
"""

from __future__ import annotations

import contextlib
import functools
import time

from .probes import STAGE_KEYS, SparkCounters

# counters a patched call may add to its span (see ``patch``)
EXTRA_KEYS = ("bytes",)


class Tracer:
    def __init__(self, counters: SparkCounters | None, enabled: bool):
        self.counters = counters
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id: str | None = None
        self._stack: list[dict] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "job0": self.counters.next_job_id(),
            "t0": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            rec["job1"] = self.counters.next_job_id()
            self._stack.pop()

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap ``owner.attr`` (a function or method defined on a class
        or module) in a span; ``unpatch_all`` restores it. ``after(args)``,
        if given, returns counters to add to the span once the call ends."""
        orig = owner.__dict__[attr]

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if after is not None:
                    self._stack[-1].update(after(args))
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unpatch_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def attach_stage_metrics(self, run_id: str) -> None:
        """Fill task CPU, shuffle, spill and input counters into every
        span of ``run_id`` from the jobs its interval covered."""
        spans = [s for s in self.spans if s["run"] == run_id]
        if not spans:
            return
        per_job = self.counters.stage_metrics(min(s["job0"] for s in spans), max(s["job1"] for s in spans))
        for s in spans:
            for k in STAGE_KEYS:
                s[k] = sum(per_job[j][k] for j in range(s["job0"], s["job1"]))


def run_totals(spans: list[dict], run_id: str) -> dict[str, dict]:
    """Per span name, totals over one run: duration ``s``, ``jobs``, the
    stage counters, and the ``self_*`` variants that subtract the
    direct children (a layer's self time)."""
    mine = [s for s in spans if s["run"] == run_id]

    def own(s: dict) -> dict:
        return {"s": s["t1"] - s["t0"], "jobs": s["job1"] - s["job0"], **{k: s.get(k, 0) for k in STAGE_KEYS}}

    children: dict[int, list[dict]] = {}
    for s in mine:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}
    for s in mine:
        tot = out.setdefault(s["name"], {"calls": 0})
        tot["calls"] += 1
        for k in EXTRA_KEYS:
            tot[k] = tot.get(k, 0) + s.get(k, 0)
        kids = [own(c) for c in children.get(s["id"], [])]
        for k, v in own(s).items():
            tot[k] = tot.get(k, 0) + v
            tot[f"self_{k}"] = tot.get(f"self_{k}", 0) + v - sum(c[k] for c in kids)
    return out
