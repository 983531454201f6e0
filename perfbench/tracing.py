"""In-memory span tracer installed around the program's public module
attributes from outside the program.

A span is ``(id, name, start, end, parent, request, attrs)``; self time is
the span's duration minus that of its direct children (calls are
single-threaded and properly nested, so children never overlap). Hot
functions get a counter and a time total instead of one span per call.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: dict[tuple[str | None, str], float] = defaultdict(float)
        self._stack: list[int] = []
        self._names: list[str] = []
        self._request: str | None = None
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        self.spans.append(None)  # reserve the id; filled in on exit
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._names.append(name)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._names.pop()
            self.spans[sid] = (sid, name, start, end, parent, self._request, attrs)

    @contextmanager
    def request(self, rid: str, name: str):
        self._request = rid
        try:
            with self.span(name):
                yield
        finally:
            self._request = None

    def in_span(self, name: str) -> bool:
        return name in self._names

    # ------------------------------------------------------------ wrapping

    def patch(self, owner, attr: str, new) -> None:
        # an inherited attribute is shadowed, then deleted again on undo
        self._undo.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """One span per call of ``owner.attr``; ``on_result(attrs, args,
        result)`` may add counts to the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as attrs:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, args, result)
                return result

        self.patch(owner, attr, traced)

    def wrap_generator(self, owner, attr: str, name: str, item_attr: str = "") -> None:
        """One span per ``next()`` of the iterator ``owner.attr`` returns,
        so the consumer's work between items stays outside it; a span that
        yields an item counts 1 under ``item_attr``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                it = iter(fn(*args, **kwargs))
            while True:
                with tracer.span(name) as attrs:
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                    if item_attr:
                        attrs[item_attr] = 1
                yield item

        self.patch(owner, attr, traced)

    def wrap_hot(self, owner, attr: str, name: str, timed: bool = True) -> None:
        """Count calls (and total seconds) of a per-series function."""
        fn = getattr(owner, attr)
        counts = self.counts
        tracer = self
        clock = time.perf_counter

        if timed:

            @functools.wraps(fn)
            def traced(*args, **kwargs):
                t = clock()
                try:
                    return fn(*args, **kwargs)
                finally:
                    counts[(tracer._request, name + ".s")] += clock() - t
                    counts[(tracer._request, name + ".calls")] += 1

        else:

            @functools.wraps(fn)
            def traced(*args, **kwargs):
                counts[(tracer._request, name + ".calls")] += 1
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis

    def by_request(self) -> dict[str, dict]:
        """Per request: root span name, and per span name its total
        seconds, self seconds and call count, plus the request's counts."""
        children = defaultdict(float)
        for s in self.spans:
            if s[4] is not None:
                children[s[4]] += s[3] - s[2]
        out: dict[str, dict] = {}
        for sid, name, start, end, parent, rid, attrs in self.spans:
            if rid is None:
                continue
            r = out.setdefault(rid, {"root": None, "total": defaultdict(float),
                                     "self": defaultdict(float), "calls": defaultdict(int),
                                     "attrs": defaultdict(float), "counts": {}})
            if parent is None:
                r["root"] = name
            r["total"][name] += end - start
            r["self"][name] += end - start - children[sid]
            r["calls"][name] += 1
            for k, v in attrs.items():
                r["attrs"][k] += v
        for (rid, name), v in self.counts.items():
            if rid in out:
                out[rid]["counts"][name] = v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, start, end, parent, rid, attrs in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": start, "end": end,
                                    "parent": parent, "request": rid, **attrs}) + "\n")
