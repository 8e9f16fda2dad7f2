"""In-memory span recorder and self-time table.

A span is (id, name, start, end, parent). Spans are kept in a list and
written out once, when the traced process ends. Times are wall-clock
epoch seconds so that spans from the job process, the launcher and the
Spark event log share one axis.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from typing import Dict, List


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._stack = threading.local()

    def _parents(self) -> list:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` inside a span called ``name``."""
        parents = self._parents()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": parents[-1] if parents else None}
        self.spans.append(rec)
        parents.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            parents.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def self_times(spans: List[dict], wall: float, root: str) -> dict:
    """Per-name self time (duration minus the part its children cover)
    of every span but ``root``, plus the residual: ``wall`` minus those
    self times. ``root`` brackets the traced program, so its self time,
    the time spent outside every layer call, is part of the residual,
    with any part of ``wall`` that no span covers. Children of one parent
    run one after the other on the driver, so their union is their sum."""
    child_sum: Dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_sum[s["parent"]] = (child_sum.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
    rows: Dict[str, dict] = {}
    for s in spans:
        if s["name"] == root:
            continue
        dur = s["end"] - s["start"]
        row = rows.setdefault(s["name"], {"calls": 0, "total_s": 0.0,
                                          "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - child_sum.get(s["id"], 0.0)
    covered = sum(r["self_s"] for r in rows.values())
    return {"rows": rows, "wall_s": wall, "residual_s": wall - covered}
