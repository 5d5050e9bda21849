"""Span recorder for the traced run.

Spans are kept in memory and written out once, when the run ends. Each
span has a name, a layer, start and end (seconds on the wall clock), the
span that caused it and a trace id; spans of one query or fold share the
trace id. Spark jobs and stages become spans from the status store's own
submission and completion times, as children of the span that started
them.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, trace: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if trace is None and parent is not None:
            trace = self.spans[parent]["trace"]
        sid = len(self.spans)
        rec = {"id": sid, "parent": parent, "trace": trace, "name": name,
               "layer": layer, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def record(self, name: str, layer: str, trace: str, start: float, end: float) -> None:
        """A top-level span timed by the caller."""
        self._add(None, trace, name, layer, start, end)

    def add_spark(self, parent: dict, window) -> None:
        """Job and stage spans of a status-store window under ``parent``."""
        stage_parent: dict[int, int] = {}
        for job in window.jobs:
            sid = self._add(parent["id"], parent["trace"], f"job:{job['id']}",
                            "spark.job", job["start"], job["end"])
            for st in job["stages"]:
                stage_parent.setdefault(st, sid)
        for st in window.stages:
            self._add(stage_parent.get(st["id"], parent["id"]), parent["trace"],
                      f"stage:{st['id']}.{st['attempt']}", "spark.stage",
                      st["start"], st["end"], tasks=st["tasks"])

    def _add(self, parent: int | None, trace, name, layer, start, end, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "trace": trace, "name": name,
                           "layer": layer, "start": start, "end": end, **attrs})
        return sid


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        if s["start"] is None or s["end"] is None:
            continue
        covered, cur_lo, cur_hi = 0.0, None, None
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids[s["id"]]
                     if c["start"] is not None and c["end"] is not None)
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_rollup(spans: list[dict]) -> dict[str, float]:
    """Summed self time per layer, in seconds."""
    roll: dict[str, float] = defaultdict(float)
    for sid, t in self_times(spans).items():
        roll[spans[sid]["layer"]] += t
    return dict(roll)


def write_dump(path: Path, spans: list[dict], rollup: dict[str, float],
               summary: dict) -> None:
    """One JSON object per line: a header, then every span with its self
    time, then the per-layer rollup."""
    selfs = self_times(spans)
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        f.write(json.dumps({"kind": "header", **summary}) + "\n")
        for s in spans:
            f.write(json.dumps({"kind": "span", **s, "self_s": selfs.get(s["id"])}) + "\n")
        f.write(json.dumps({"kind": "rollup", "self_s_by_layer": rollup}) + "\n")
