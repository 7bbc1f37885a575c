"""In-memory span recorder for the benchmark's traced runs.

Spans are recorded only from the benchmark's own files: around the
calls it makes into the program, around module attributes it wraps
for the duration of a traced run (restored afterwards), and as
synthetic children built from the Spark status store (one span per
Spark job). Nothing inside ``engine/`` or ``jobs/`` is edited.

A span is ``{id, name, op, parent, start, end}`` with wall-clock
seconds (``time.time()``, the clock Spark stamps its jobs with).
Self time is a span's duration minus the part of it its children
cover.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stats: dict[str, float] = {}
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self.op = None

    # -- spans -----------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = {"id": len(self.spans), "name": name, "op": self.op,
              "parent": self._stack[-1] if self._stack else None,
              "start": time.time(), "end": None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.time()

    def add_span(self, name: str, start: float, end: float,
                 parent: int | None, **attrs) -> dict:
        """Record a finished span (e.g. a Spark job) under ``parent``,
        clamped into the parent's interval: Spark stamps jobs in whole
        milliseconds, so a job can read up to 1 ms outside the Python
        span that submitted it."""
        if parent is not None:
            p = self.spans[parent]
            start = min(max(start, p["start"]), p["end"])
            end = min(max(end, start), p["end"])
        sp = {"id": len(self.spans), "name": name, "op": self.op,
              "parent": parent, "start": start, "end": end, **attrs}
        self.spans.append(sp)
        return sp

    def add(self, key: str, value: float) -> None:
        """Accumulate a counter (bytes in/out, calls, ...)."""
        if self.enabled:
            self.stats[key] = self.stats.get(key, 0.0) + value

    # -- wrapping module attributes ----------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        :meth:`restore`. ``on_result(args, kwargs, result)`` may add
        counters."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, out)
            return out

        wrapped.__wrapped__ = fn
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, fn))

    def wrap_item(self, table: dict, key, index: int, name: str,
                  on_result=None) -> None:
        """Wrap callable ``table[key][index]`` of a registry tuple
        (``engine.compress.CODECS``) until :meth:`restore`."""
        if not self.enabled:
            return
        entry = table[key]
        fn = entry[index]
        tracer = self

        def wrapped(*args):
            with tracer.span(name):
                out = fn(*args)
            if on_result is not None:
                on_result(args, {}, out)
            return out

        table[key] = entry[:index] + (wrapped,) + entry[index + 1:]
        self._patches.append((table, key, entry))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ----------------------------------------------------
    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        return kids

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children."""
        kids = self.children()
        out = {}
        for sp in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in kids.get(sp["id"], [])])
            out[sp["id"]] = (sp["end"] - sp["start"]) - covered
        return out

    def totals(self, spans=None) -> tuple[dict, dict]:
        """(total seconds, self seconds) per span name."""
        spans = self.spans if spans is None else spans
        selfs = self.self_times()
        tot: dict[str, float] = {}
        slf: dict[str, float] = {}
        for sp in spans:
            tot[sp["name"]] = tot.get(sp["name"], 0.0) \
                + sp["end"] - sp["start"]
            slf[sp["name"]] = slf.get(sp["name"], 0.0) + selfs[sp["id"]]
        return tot, slf

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "stats": self.stats,
                       **(extra or {})}, f)


def _union_length(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def check_trace(spans: list[dict]) -> list[str]:
    """Structural problems of a dumped trace: children outside their
    parents, unfinished spans, negative self time."""
    by_id = {sp["id"]: sp for sp in spans}
    kids: dict[int, list[dict]] = {}
    bad = []
    for sp in spans:
        if sp["end"] is None or sp["end"] < sp["start"]:
            bad.append(f"span {sp['id']} {sp['name']} has no valid end")
            continue
        p = sp["parent"]
        if p is None:
            continue
        kids.setdefault(p, []).append(sp)
        ps = by_id[p]
        if sp["start"] < ps["start"] or sp["end"] > ps["end"]:
            bad.append(f"span {sp['id']} {sp['name']} outside parent "
                       f"{p} {ps['name']}")
    for pid, ks in kids.items():
        ps = by_id[pid]
        covered = _union_length([(k["start"], k["end"]) for k in ks])
        if ps["end"] - ps["start"] - covered < -1e-9:
            bad.append(f"span {pid} {ps['name']} has negative self time")
    return bad


class SparkStatus:
    """Job and stage metrics from the live Spark status store (it is
    kept with ``spark.ui.enabled=false`` too), read per job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict:
        jd = self.store.job(job_id)
        stage_ids = [int(jd.stageIds().apply(i))
                     for i in range(jd.stageIds().size())]
        stages = []
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            if sd.completionTime().isEmpty():
                continue
            stages.append({
                "stage": sid,
                "task_s": sd.executorRunTime() / 1e3,
                "shuffle_write": sd.shuffleWriteBytes(),
                "shuffle_read": sd.shuffleReadBytes(),
                "failed_tasks": sd.numFailedTasks(),
                "start": sd.submissionTime().get().getTime() / 1e3,
                "end": sd.completionTime().get().getTime() / 1e3,
            })
        sub = jd.submissionTime()
        done = jd.completionTime()
        return {
            "job": job_id,
            "name": jd.name(),
            "start": sub.get().getTime() / 1e3 if not sub.isEmpty() else 0.0,
            "end": done.get().getTime() / 1e3 if not done.isEmpty() else 0.0,
            "stages": stages,
            "task_s": sum(s["task_s"] for s in stages),
            "shuffle_write": sum(s["shuffle_write"] for s in stages),
            "failed_tasks": sum(s["failed_tasks"] for s in stages),
        }
