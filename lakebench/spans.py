"""In-memory spans for the traced benchmark run.

A span is one call into an engine layer: name, wall-clock start/end,
parent span and request id (the query call, trigger or round it serves).
Spans are kept in memory and summarised when the run ends.

The engine is not edited to get them.  :meth:`Tracer.wrap` replaces a
public function or method on its module or class, from the benchmark's
own process, with one that records a span around the original — that is
how layers reached only through another layer (``Pipeline.run`` →
``VersionedTable.write``, ``sqldml.execute`` → ``VersionedTable.merge``)
get their own spans.  Spark jobs, tasks and bytes come from Spark's event
log, switched on for the traced run only: a job belongs to every span
whose wall-clock window contains its submission time, and carries the
request id as its job group.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.sc = None  # set in a traced run only: job groups per request
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.request: str | None = None

    def set_request(self, request: str) -> None:
        """Tag later spans, and Spark jobs started from this thread, with
        ``request`` (job group = request id).  The group is set in
        untraced units of a traced run too, so no job carries a stale
        group from the previous request."""
        self.request = request
        if self.sc is not None:
            self.sc.setJobGroup(request, request)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = {
            "name": name,
            "request": self.request,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "start": time.time(),
        }
        self.spans.append(s)
        self._stack.append(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s["dur"] = time.perf_counter() - t0
            s["end"] = s["start"] + s["dur"]
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Record a ``name`` span around every call of ``owner.attr``.
        ``after(span, result, args, kwargs)`` runs once the span has
        closed, for counts that need extra engine calls."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
            if s is not None and after is not None:
                after(s, out, args, kwargs)
            return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ queries

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        spans = [s for s in self.spans if s["name"] == name and "dur" in s]
        if within is not None:
            spans = [s for s in spans if within["start"] <= s["start"] <= within["end"]]
        return spans

    def top_level(self, name: str, layer_prefix: str) -> list[dict]:
        """``name`` spans not nested in another span of the same layer."""
        by_id = {s["id"]: s for s in self.spans}

        def nested(s):
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"].startswith(layer_prefix):
                    return True
                p = by_id[p]["parent"]
            return False

        return [s for s in self.named(name) if not nested(s)]

    def self_time(self, s: dict, child_prefix: str) -> float:
        """Duration of ``s`` minus the time its ``child_prefix`` children
        cover (direct or deeper, outermost only)."""
        kids = [
            c for c in self.spans
            if c["name"].startswith(child_prefix) and "dur" in c
            and s["start"] <= c["start"] and c["end"] <= s["end"] + 1e-6
        ]
        covered, last_end = 0.0, s["start"]
        for c in sorted(kids, key=lambda c: c["start"]):
            if c["start"] >= last_end:
                covered += c["dur"]
                last_end = c["end"]
        return s["dur"] - covered


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from a Spark event log directory: id, submission time (s),
    job group, tasks run, input bytes read and shuffle bytes written."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "submit": ev["Submission Time"] / 1000,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "tasks": 0, "scan_bytes": 0, "shuffle_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    job["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j["id"])


def jobs_in(jobs: list[dict], spans: list[dict]) -> list[dict]:
    """Jobs submitted inside any of ``spans`` (the event log truncates
    submission times to the millisecond)."""
    return [
        j for j in jobs
        if any(s["start"] - 0.001 <= j["submit"] <= s["end"] for s in spans)
    ]
