"""In-memory spans recorded around calls into the engine's layers.

The benchmark wraps the public functions of each layer from outside (it
patches module attributes for the length of a traced run and puts the
originals back afterwards), so the program itself carries no tracing.
A span is ``(id, name, layer, start, end, parent, run_id)``; spans are
kept in memory and written out once when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # spans opened on a thread with no open span of its own (streaming
        # foreachBatch callbacks arrive on py4j callback threads) hang off
        # the innermost span of the thread that runs the operation
        self._root: list = []
        self._patches: list = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield
            return
        st = self._stack()
        parent = st[-1] if st else (self._root[-1] if self._root else None)
        sid = next(self._ids)
        st.append(sid)
        main = threading.current_thread() is threading.main_thread()
        if main:
            self._root.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            if main:
                self._root.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name,
                    "layer": layer or name.split(".")[0],
                    "start": t0, "end": t1, "parent": parent,
                    "run_id": self.run_id})

    # -- wrapping layer entry points ----------------------------------------
    def wrap(self, owner, attr: str, name, layer: str | None = None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``unwrap``.
        ``name`` may be a callable of the call's arguments."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            with tracer.span(n, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- reduction ----------------------------------------------------------------
    def self_times(self, under: str | None = None) -> dict:
        """Self time per span name and per layer: each span's duration
        minus the part of its interval covered by its child spans.
        ``under`` keeps only spans named with that prefix and their
        descendants (e.g. ``"bench.op."`` for the timed operations)."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        keep = self.spans
        if under is not None:
            keep, todo = [], [s for s in self.spans
                              if s["name"].startswith(under)]
            while todo:
                s = todo.pop()
                keep.append(s)
                todo.extend(kids.get(s["id"], []))
        by_name: dict = {}
        by_layer: dict = {}
        for s in keep:
            ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                         for c in kids.get(s["id"], []))
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            own = (s["end"] - s["start"]) - covered
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + own
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + own
        return {"by_name": by_name, "by_layer": by_layer, "spans": len(keep)}

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def export(self) -> dict:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": round(s["start"] - t0, 6),
                  "end": round(s["end"] - t0, 6)} for s in self.spans]
        return {"run_id": self.run_id, "spans": spans,
                "self_time": self.self_times()}
