"""In-memory spans and counters for the traced run.

The untraced run keeps a disabled :class:`Tracer`: every ``span`` is a no-op
context manager, so the end-to-end numbers carry no tracing cost. The traced
run enables it and additionally wraps the program's public functions
(module attributes and every alias other modules imported) so calls the
benchmark makes indirectly, e.g. ``load_table`` inside a registry query,
are timed too. The program's files are never touched; wrappers are removed
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def op(self, op_id: str):
        """All spans opened inside share ``op_id``."""
        self._local.op_id = op_id
        try:
            yield
        finally:
            self._local.op_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": getattr(self._local, "op_id", None),
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def reset(self) -> None:
        """Forget spans and counts so far (called when timing starts)."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    # -- wrapping the program's public functions ---------------------------
    def wrap(self, module, attr: str, span_name: str, after=None) -> None:
        """Replace ``module.attr`` (and every module-level alias of the same
        object) with a span-recording wrapper. ``after(result, args,
        kwargs)`` may record counts from the call."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(result, args, kwargs)
            return result

        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d:
                continue
            for k, v in list(d.items()):
                if v is orig:
                    self._patched.append((mod, k, orig))
                    setattr(mod, k, wrapper)

    def unwrap_all(self) -> None:
        for mod, k, orig in reversed(self._patched):
            setattr(mod, k, orig)
        self._patched.clear()

    # -- reports ----------------------------------------------------------
    def layer_times(self) -> dict[str, dict[str, float]]:
        """Per span name: ``busy_s`` (outermost spans of that name only, so
        recursion is not double counted), ``self_s`` (duration minus the
        part covered by direct children) and ``calls``."""
        kids = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"busy_s": 0.0, "self_s": 0.0, "calls": 0}
        )
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            row = out[s["name"]]
            row["calls"] += 1
            row["self_s"] += dur - kids[i]
            p, nested = s["parent"], False
            while p is not None:
                if self.spans[p]["name"] == s["name"]:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if not nested:
                row["busy_s"] += dur
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
