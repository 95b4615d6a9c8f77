"""Spans around the benchmark's calls into each layer, and a fold of
Spark's event log by job group.

A span has a name, start, end, parent span and request id; spans stay in
memory and are written when the run ends. Entering a span also sets the
Spark job group to ``<span name>|<request id or span id>``, so every job
the layer triggers -- hidden eager jobs included -- can be attributed to
it from the event log or the status tracker.

With tracing off, ``Tracer.span`` is a no-op context manager and no job
group is set.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from pathlib import Path


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": request,
            # unique per span, so the status tracker counts this span's jobs only
            "group": f"{name}|{request if request is not None else sid}",
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(rec["group"], rec["group"], interruptOnCancel=False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._sc.setJobGroup(parent["group"], parent["group"], interruptOnCancel=False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def jobs_in(self, rec: dict) -> int:
        return len(self._sc.statusTracker().getJobIdsForGroup(rec["group"]))

    def self_times(self) -> dict[int, float]:
        """Duration minus the union of the children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, hi = 0.0, float("-inf")
            for a, b in sorted(kids[s["id"]]):
                a = max(a, hi)
                if b > a:
                    covered += b - a
                hi = max(hi, b)
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: Path) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


# ---------------------------------------------------------------------------
# event log fold
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _new_fold() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "run_ms": 0.0,
        "gc_ms": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "python_bytes": 0,
        "stage_task_ms": defaultdict(list),
    }


def fold_event_log(log_dir: Path) -> dict[str, dict]:
    """Fold one application's event log into per-job-group totals.

    Returns {group: {jobs, tasks, run_ms, gc_ms, shuffle_write_bytes,
    shuffle_read_bytes, spill_bytes, python_bytes, task_max_over_median}}.
    Jobs without a group fold under ``""``.
    """
    files = sorted(p for p in Path(log_dir).iterdir() if p.is_file())
    if not files:
        return {}
    stage_group: dict[int, str] = {}
    folds: dict[str, dict] = defaultdict(_new_fold)
    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                folds[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"), "")
                fd = folds[g]
                tm = ev.get("Task Metrics") or {}
                fd["tasks"] += 1
                run = tm.get("Executor Run Time", 0)
                fd["run_ms"] += run
                fd["gc_ms"] += tm.get("JVM GC Time", 0)
                fd["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                rd = tm.get("Shuffle Read Metrics") or {}
                fd["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                fd["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") in (PY_SENT, PY_RECV):
                        fd["python_bytes"] += int(acc.get("Update") or 0)
                fd["stage_task_ms"][ev.get("Stage ID")].append(run)
    out = {}
    for g, fd in folds.items():
        skew = 1.0
        stages = [v for v in fd.pop("stage_task_ms").values() if len(v) >= 2]
        if stages:
            heaviest = max(stages, key=sum)
            med = statistics.median(heaviest)
            skew = max(heaviest) / med if med > 0 else 1.0
        fd["task_max_over_median"] = skew
        out[g] = dict(fd)
    return out


def by_layer(folds: dict[str, dict]) -> dict[str, dict]:
    """Merge per-span groups ``name|id`` into their layer name."""
    out: dict[str, dict] = {}
    for g, fd in folds.items():
        name = g.split("|", 1)[0]
        cur = out.setdefault(name, {k: 0 for k in fd} | {"task_max_over_median": 1.0})
        for k, v in fd.items():
            if k == "task_max_over_median":
                cur[k] = max(cur[k], v)
            else:
                cur[k] += v
    return out
