"""In-memory spans, layer wrappers and Spark event-log parsing for the
traced run.

Spans are recorded from the benchmark's own files: a layer is wrapped
by rebinding every module attribute that points at its public function
(``from x import f`` bindings included), so calls from inside the
package are traced without touching it. Spans are kept in memory and
written once when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder. A span is ``[name, start, end, parent, pass_id]``
    with times from ``time.perf_counter``; ``parent`` indexes
    ``spans``. Counters are per pass: ``counts[pass_id][name]``."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.pass_id: str | None = None
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        rec = [name, time.perf_counter(), None, parent, self.pass_id]
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self.stack.pop()

    def count(self, name: str, n: float = 1.0) -> None:
        self.counts[self.pass_id][name] += n

    # -- wrapping -----------------------------------------------------

    def wrap(self, name: str, fn, on_call=None, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(*args, **kwargs)
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        return traced

    def rebind(self, fn, wrapper) -> int:
        """Point every package (and ``bench``) module attribute that is
        ``fn`` at ``wrapper``; returns how many bindings moved."""
        moved = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == "bench" or mod_name.startswith("martian_moments_spark")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._undo.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)
                    moved += 1
        return moved

    def rebind_attr(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # -- analysis -----------------------------------------------------

    def pass_spans(self, pass_id: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s[4] == pass_id]

    def outermost_total(self, pass_id: str, name: str) -> float:
        """Summed duration of ``name`` spans in a pass, skipping spans
        nested inside another ``name`` span (no double counting)."""
        total = 0.0
        for i in self.pass_spans(pass_id):
            s = self.spans[i]
            if s[0] != name or s[2] is None:
                continue
            p = s[3]
            while p is not None and self.spans[p][0] != name:
                p = self.spans[p][3]
            if p is None:
                total += s[2] - s[1]
        return total

    def n_spans(self, pass_id: str, name: str) -> int:
        return sum(1 for i in self.pass_spans(pass_id) if self.spans[i][0] == name)

    def top_level_coverage(self, pass_span: int) -> float:
        """Share of a pass span's wall time covered by its direct
        children (the op or pipeline-step spans)."""
        s = self.spans[pass_span]
        dur = s[2] - s[1]
        kids = sum(c[2] - c[1] for c in self.spans if c[3] == pass_span and c[2] is not None)
        return kids / dur if dur > 0 else 0.0

    def dump(self, path: str, epoch_offset: float) -> None:
        """Write all spans once, as JSON lines with epoch-second times."""
        with open(path, "w") as f:
            for i, (name, start, end, parent, pass_id) in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": name, "parent": parent, "pass": pass_id,
                    "start": start + epoch_offset,
                    "end": None if end is None else end + epoch_offset,
                }) + "\n")


# -- Spark event log ------------------------------------------------------

_PYTHON_NODE_MARKERS = ("Python", "Arrow", "Pandas")


def _python_row_accumulators(plan: dict, out: set[int]) -> None:
    if any(m in plan.get("nodeName", "") for m in _PYTHON_NODE_MARKERS):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job, read from the uncompressed event log
    files under ``log_dir`` (rolling or single-file layout): its job group (``None`` when unset), its
    submission time in epoch seconds, and its task count and summed
    task metrics (times in s, sizes in MiB)."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    py_rows: set[int] = set()
    task_ends: list[tuple] = []
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names)
    for name in paths:
        with open(name) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a log still being written
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    key = (name, ev["Job ID"])
                    jobs[key] = defaultdict(float, {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "time": ev["Submission Time"] / 1000.0,
                    })
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault((name, sid), key)
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append((name, ev))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _python_row_accumulators(ev.get("sparkPlanInfo") or {}, py_rows)
    stages_seen: set = set()
    for name, ev in task_ends:
        skey = (name, ev.get("Stage ID"))
        job = jobs.get(stage_job.get(skey))
        if job is None:
            continue
        if skey not in stages_seen:
            stages_seen.add(skey)
            job["stages"] += 1
        job["tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        job["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
        job["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        job["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        job["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20
        job["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
        sr = tm.get("Shuffle Read Metrics") or {}
        job["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
        job["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            try:
                upd = float(acc.get("Update"))
            except (TypeError, ValueError):
                continue
            acc_name = acc.get("Name")
            if acc_name == "data sent to Python workers":
                job["arrow_sent_mb"] += upd / 2**20
            elif acc_name == "data returned from Python workers":
                job["arrow_returned_mb"] += upd / 2**20
            elif acc_name == "number of output rows" and int(acc.get("ID", -1)) in py_rows:
                job["arrow_rows_returned"] += upd
    return [dict(j) for j in jobs.values()]
