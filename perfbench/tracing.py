"""Spans and layer counters recorded from outside the engine.

The engine is not instrumented. In a traced run the benchmark wraps the
entry points of three layers — the codec decoders and the parquet reader
the driver fast path calls, and the storage helpers the lifecycle
functions commit through — and records a span (name, start, end, parent,
op id) around every wrapped call and every top-level operation. Untraced
runs install no wrapper, so ``Tracer.span`` is the only cost they pay and
it returns at once.

Only driver-side calls are seen: Spark Python workers import the package
afresh, so decoding inside the distributed plan is not counted here (its
Spark jobs are, by the caller).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    """In-memory span store plus per-layer counters.

    ``enabled`` False makes ``span`` a no-op; counters are still plain
    dict entries so callers never branch on the mode. The engine calls
    storage from its own driver threads, so each thread keeps its own
    span stack (a span opened there has no parent) and counters take a
    lock; the op id is shared, so those spans still carry it."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _op: str | None = None
    _restore: list[tuple[object, str, object]] = field(default_factory=list)
    _wrapped: set[str] = field(default_factory=set)
    window_start: float = 0.0

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start_window(self) -> None:
        """From here on counters and layer times cover the measured ops
        only; set-up reports its own metrics."""
        with self._lock:
            self.counters.clear()
        self.window_start = time.perf_counter()

    def add(self, key: str, value: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + value

    @contextmanager
    def op(self, op_id: str):
        """Tag every span opened inside with ``op_id``."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack
        s = Span(name, time.perf_counter(), 0.0,
                 stack[-1] if stack else None, self._op)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            s.end = time.perf_counter()

    def outermost_time(self, prefix: str) -> float:
        """Wall time of ``prefix*`` spans in the measured window that are
        not nested in another such span (so a storage helper calling
        another is counted once)."""
        total = 0.0
        for s in self.spans:
            if not s.name.startswith(prefix) or s.start < self.window_start:
                continue
            p = s.parent
            while p is not None and not self.spans[p].name.startswith(prefix):
                p = self.spans[p].parent
            if p is None:
                total += s.end - s.start
        return total

    def inside(self, prefix: str) -> bool:
        """True while the innermost open span is named ``prefix*``."""
        return bool(self._stack) and \
            self.spans[self._stack[-1]].name.startswith(prefix)

    # -- layer wrappers -------------------------------------------------
    def wrap(self, owner: object, attr: str, span_name: str, after=None):
        """Replace ``owner.attr`` by a spanned wrapper; ``after(result,
        args)`` updates counters. Undone by ``unwrap_all``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out, args)
            return out

        self._restore.append((owner, attr, orig))
        self._wrapped.add(span_name)
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def install_layer_probes(self) -> None:
        """Wrap the codec decoders, the driver's parquet reader and the
        storage helpers (the layers the engine reaches from the driver)."""
        import pyarrow.parquet as pq

        from content_rw_elasticsearch_spark import storage
        from content_rw_elasticsearch_spark.operators import codec

        def decoded(out, _args):
            if self.inside("codec."):  # delta_decode calls varbyte_decode
                return
            self.add("codec.decode_calls")
            self.add("codec.postings_decoded", len(out))

        for fn in ("delta_decode", "varbyte_decode", "positions_decode"):
            self.wrap(codec, fn, f"codec.{fn}", decoded)

        def read(out, _args):
            self.add("wand.parquet_reads")
            self.add("wand.parquet_bytes_read", out.nbytes)

        self.wrap(pq, "read_table", "wand.parquet_read", read)

        def count(key):
            return lambda _out, _args: self.add(key)

        self.wrap(storage, "write_json_atomic", "storage.write_json_atomic",
                  count("storage.json_commits"))
        self.wrap(storage, "swap_dir", "storage.swap_dir",
                  count("storage.dir_swaps"))
        self.wrap(storage, "restore_swap", "storage.restore_swap")
        self.wrap(storage.LocalFS, "rmtree", "storage.fs.rmtree",
                  count("storage.rmtrees"))
        for m in ("rename", "write_bytes", "makedirs"):
            self.wrap(storage.LocalFS, m, f"storage.fs.{m}")

    def overhead_estimate_s(self, n: int = 20000) -> float:
        """Estimated time tracing added to the run: each wrapped call
        costs what a wrapped no-op with a counting callback costs over a
        bare call, each other span what an empty span costs. Both are
        timed here in a loop, so cache misses and contention inside the
        engine's calls are left out and the estimate is a lower bound."""
        probe = Tracer(enabled=True)

        class Owner:
            @staticmethod
            def fn(x):
                return x

        def bare_s():
            t = time.perf_counter()
            for _ in range(n):
                Owner.fn(())
            return time.perf_counter() - t

        base = bare_s()
        probe.wrap(Owner, "fn", "x.fn", lambda out, _args: (
            probe.inside("x."), probe.add("k"), probe.add("v", len(out))))
        per_call = max(0.0, bare_s() - base) / n
        t = time.perf_counter()
        for _ in range(n):
            with probe.span("x"):
                pass
        per_span = (time.perf_counter() - t) / n
        calls = sum(1 for s in self.spans if s.name in self._wrapped)
        return calls * per_call + (len(self.spans) - calls) * per_span

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "op": s.op}) + "\n")
