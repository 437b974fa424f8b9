"""In-memory span recorder, entry-point wrappers and the Py4J call counter.

Spans are recorded only around the engine's public entry points, from the
benchmark's own files: the engine itself carries no tracing code. Each span
has a name, start, end, parent and batch id. Parents are tracked per thread
because ``foreachBatch`` runs ``apply_batch`` on the Py4J callback thread;
a span opened on a thread with no open span of its own is parented to the
innermost span open on the thread that installed the tracer.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

import py4j.clientserver


class Py4jCounter:
    """Counts Py4J round trips by wrapping ``ClientServerConnection.send_command``."""

    def __init__(self):
        self.calls = 0
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        orig = py4j.clientserver.ClientServerConnection.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(conn, command, *a, **k):
            with counter._lock:
                counter.calls += 1
            return orig(conn, command, *a, **k)

        self._orig = orig
        py4j.clientserver.ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            py4j.clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None


class Tracer:
    """Span recorder. ``span()`` is a context manager; ``wrap()`` patches a
    callable attribute so every call records a span, and ``uninstall()``
    restores every patched attribute."""

    def __init__(self, py4j: Py4jCounter | None = None, on_open=None, on_close=None):
        self.spans: list[dict] = []
        self._stacks: dict[int, list[dict]] = {}
        self._home = threading.get_ident()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._py4j = py4j
        # hooks called with the span dict (the harness uses them for the
        # per-batch filesystem diff)
        self._on_open = on_open
        self._on_close = on_close

    def _open(self, name: str, batch_id=None) -> dict:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            parent = stack[-1] if stack else None
            if parent is None and tid != self._home:
                home = self._stacks.get(self._home) or []
                parent = home[-1] if home else None
            sp = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "batch_id": batch_id if batch_id is not None else (parent or {}).get("batch_id"),
                "thread": tid,
                "start": time.time(),
                "end": None,
                "py4j_start": self._py4j.calls if self._py4j else 0,
            }
            self.spans.append(sp)
            stack.append(sp)
        if self._on_open:
            self._on_open(sp)
        return sp

    def _close(self, sp: dict) -> None:
        if self._on_close:
            self._on_close(sp)
        with self._lock:
            sp["end"] = time.time()
            sp["py4j_calls"] = (self._py4j.calls if self._py4j else 0) - sp.pop("py4j_start")
            self._stacks[sp["thread"]].remove(sp)

    @contextlib.contextmanager
    def span(self, name: str, batch_id=None):
        sp = self._open(name, batch_id)
        try:
            yield sp
        finally:
            self._close(sp)

    def wrap(self, owner, attr: str, name: str, batch_arg: int | None = None) -> None:
        """Replace ``owner.attr`` with a recording wrapper. ``batch_arg`` is
        the index of the batch id among the positional arguments (``self``
        included, for a method), or None."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            bid = None
            if batch_arg is not None and len(a) > batch_arg:
                bid = a[batch_arg]
            elif "batch_id" in k:
                bid = k["batch_id"]
            sp = tracer._open(name, bid)
            try:
                return orig(*a, **k)
            finally:
                tracer._close(sp)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp["start"]), min(e, sp["end"]))
            for s, e in kids.get(sp["id"], [])
            if e > sp["start"] and s < sp["end"]
        ]
        out[sp["id"]] = (sp["end"] - sp["start"]) - interval_union(clipped)
    return out
