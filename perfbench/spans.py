"""In-memory span tracer for the traced benchmark run.

Spans are recorded around calls into the program's public functions
from the benchmark's own files: ``wrap`` swaps a module or class
attribute for a timing wrapper (and ``restore`` swaps it back), so
the program itself carries no tracing code. Each span keeps its
name, start, end, parent span and the id of the run phase it belongs
to; spans stay in memory and are written out once, at exit.

A span's self time is its duration minus the part of it that its
child spans cover. Only the main thread keeps a span stack: calls
made on pool threads (the HTTP fan-out's per-id GETs) are counted,
not spanned.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import Counter

UNMEASURED = ("setup", "warmup", "check")  # run ids left out of totals


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.count_calls = 0
        self.run_id = "setup"
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span named ``name``."""
        if threading.current_thread() is not threading.main_thread():
            return fn(*args, **kwargs)
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n
            self.count_calls += 1

    def wrap(self, owner, attr: str, name: str, counter: str | None = None,
             around=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span named
        ``name`` and bumping ``counter``. ``around(*args)``, a context
        manager, encloses each call, for counts taken before and after."""
        orig = getattr(owner, attr)
        around = around or (lambda *args: contextlib.nullcontext())

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if counter:
                self.count(counter)
            with around(*args):
                return self.span(name, orig, *args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def counting(self, fn, counter: str):
        """``fn`` with a call counter, safe on pool threads."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.count(counter)
            return fn(*args, **kwargs)

        return wrapper

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- derived -----------------------------------------------------------

    def _measured(self, name: str):
        for i, s in enumerate(self.spans):
            if s["name"] == name and s["run"] not in UNMEASURED:
                yield i, s

    def total(self, name: str) -> float:
        """Summed duration of the measured ``name`` spans."""
        return sum(s["end"] - s["start"] for _, s in self._measured(name))

    def self_time(self, name: str) -> float:
        """Summed self time of the measured ``name`` spans: each one's
        duration minus the union of its direct children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = 0.0
        for i, s in self._measured(name):
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            out += (s["end"] - s["start"]) - covered
        return out

    def overhead_s(self) -> float:
        """What the wrappers themselves cost: spans recorded times the
        measured cost of one span around a no-op call."""
        probe = Tracer()
        n = 20_000
        t = time.perf_counter()
        for _ in range(n):
            probe.span("probe", int)
        per_span = (time.perf_counter() - t) / n
        return per_span * (len(self.spans) + self.count_calls)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
