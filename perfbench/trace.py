"""In-memory span tracing around the program's public entry points.

The benchmark wraps the public functions of each layer (module
attributes and class methods) with a span recorder; nothing inside the
program changes. Spans hold a name, start and end (epoch seconds), the
parent span and the operation id, and are written out when the run
ends. Only calls on the main thread are recorded; calls from the
program's worker threads run unwrapped.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict

from perfbench.stats import self_times


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._main = threading.main_thread()

    # -- recording --------------------------------------------------------
    def begin(self, name: str, **attrs) -> dict | None:
        if not self.enabled or threading.current_thread() is not self._main:
            return None
        span = {"id": len(self.spans), "name": name, "op": self.op_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def end(self, span: dict | None, **attrs) -> None:
        if span is None:
            return
        span["end"] = time.time()
        span["attrs"].update(attrs)
        popped = self._stack.pop()
        if popped != span["id"]:
            raise RuntimeError(f"span {span['name']} closed out of order")

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a recorder. ``before(args, kwargs)``
        returns extra attributes at entry; ``after(state, args, kwargs,
        result)`` returns attributes at exit, where ``state`` is what
        ``before`` returned."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def recorder(*args, **kwargs):
            recording = self.enabled and threading.current_thread() is self._main
            state = before(args, kwargs) if (before and recording) else None
            span = self.begin(name)
            try:
                result = original(*args, **kwargs)
            except BaseException:
                self.end(span, error=True)
                raise
            extra = after(state, args, kwargs, result) if (after and span) else {}
            self.end(span, **(extra or {}))
            return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, recorder)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reporting --------------------------------------------------------
    def self_time_table(self) -> dict[str, dict]:
        """Per span name: count, total duration and total self time."""
        done = [s for s in self.spans if s["end"] is not None]
        own = self_times(done)
        table: dict[str, dict] = defaultdict(lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0})
        for s in done:
            row = table[s["name"]]
            row["n"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += own[s["id"]]
        return dict(table)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_time": self.self_time_table()}, fh)
