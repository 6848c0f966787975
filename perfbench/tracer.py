"""Spans around calls into the program's layers, recorded from the
benchmark's side by wrapping public functions and methods in the system
process (``--trace 1`` only). Spans stay in memory and are written once
at exit; the report derives per-layer self time from them."""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

from common import pct


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, parent, op, name, start, end, attrs)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.book_s = 0.0  # time spent in span bookkeeping itself
        # span times are perf_counter readings shifted onto the epoch,
        # so they compare with Spark's wall-clock progress timestamps
        self._epoch = time.time() - time.perf_counter()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_attrs(self) -> dict:
        """Attributes of the innermost open span on this thread."""
        return self._stack()[-1][2]

    def call(self, name: str, fn, *args, **kwargs):
        b0 = time.perf_counter()
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else None
        op = parent[1] if parent else sid
        attrs: dict = {}
        st.append((sid, op, attrs))
        t0 = time.perf_counter()
        self.book_s += t0 - b0
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            st.pop()
            e = self._epoch
            with self._lock:
                self.spans.append(
                    (sid, parent[0] if parent else None, op, name, t0 + e, t1 + e, attrs)
                )
                self.book_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return tracer.call(name, fn, *args, **kwargs)

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, op, name, t0, t1, attrs in self.spans:
                fh.write(
                    json.dumps(
                        {"id": sid, "parent": parent, "op": op, "name": name,
                         "start": t0, "end": t1, **attrs}
                    )
                    + "\n"
                )

    # -- derived numbers ------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s[5] - s[4]) * 1000.0 for s in self.spans if s[3] == name]

    def self_time_s(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it that its
        child spans cover (union of child intervals)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[1] is not None:
                kids.setdefault(s[1], []).append((s[4], s[5]))
        out: dict[str, float] = {}
        for sid, _p, _op, name, t0, t1, _a in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(sid, [])):
                a, b = max(a, t0), min(b, t1)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[name] = out.get(name, 0.0) + (t1 - t0) - covered
        return out


def dist(prefix: str, values: list[float]) -> dict[str, float]:
    """``{prefix.ms_p50, prefix.ms_p90}``, 0 for a layer that was idle."""
    if not values:
        return {f"{prefix}.ms_p50": 0.0, f"{prefix}.ms_p90": 0.0}
    return {f"{prefix}.ms_p50": pct(values, 50), f"{prefix}.ms_p90": pct(values, 90)}
