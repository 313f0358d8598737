"""In-memory spans around the engine's public calls, for the traced run.

The tracer patches names inside this process only: the public methods of
``LakeTable`` and ``CdcStreamRunner``, the public functions of
``lake.merge``, and the ``merge_cdc_batch`` name that ``streaming.runner``
imports. No program file changes. Spans that run on the table's
``lake-commit`` and ``lake-maint`` worker threads are linked to the span
that scheduled them, by wrapping ``ThreadPoolExecutor.submit`` for those
two pools.

A function that returns a lazy DataFrame only plans; its span is named
``*_plan`` so no one reads it as execution time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable

from stats import self_time

# pool thread prefix -> name of the span around each task it runs
_POOL_SPANS = {"lake-commit": "lake.table.async_commit",
               "lake-maint": "lake.table.maintenance"}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []
        self._suspended = False

    # ------------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else getattr(self._local, "link", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if self._suspended:
            yield
            return
        parent = self.current()
        sid = next(self._ids)
        st = self._stack()
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent,
                                       threading.current_thread().name))

    @contextlib.contextmanager
    def suspended(self):
        """Record nothing inside: the benchmark's own checks and probes call
        the same public functions and must not count as engine work."""
        prev, self._suspended = self._suspended, True
        try:
            yield
        finally:
            self._suspended = prev

    # ---------------------------------------------------------- patching

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def _wrap_submit(self) -> None:
        orig = ThreadPoolExecutor.submit
        tracer = self

        def submit(pool, fn: Callable, /, *args, **kwargs):
            prefix = getattr(pool, "_thread_name_prefix", "")
            name = _POOL_SPANS.get(prefix)
            if name is None:
                return orig(pool, fn, *args, **kwargs)
            link = tracer.current()

            def linked(*a, **k):
                tracer._local.link = link
                try:
                    with tracer.span(name):
                        return fn(*a, **k)
                finally:
                    tracer._local.link = None

            return orig(pool, linked, *args, **kwargs)

        ThreadPoolExecutor.submit = submit
        self._patches.append((ThreadPoolExecutor, "submit", orig))

    def install(self) -> None:
        from etl_api_bigquery_spark.lake import merge, table
        from etl_api_bigquery_spark.streaming import runner

        R, T = runner.CdcStreamRunner, table.LakeTable
        self.wrap(R, "run_available_now", "streaming.runner.run_available_now")
        self.wrap(R, "repair_fence_gap", "streaming.runner.repair_fence_gap")
        # the runner calls the name it imported; the batch API the module's
        self.wrap(runner, "merge_cdc_batch", "lake.merge.merge_cdc_batch")
        self.wrap(merge, "merge_cdc_batch", "lake.merge.merge_cdc_batch")
        self.wrap(merge, "evolve_for_batch", "lake.merge.evolve_for_batch")
        self.wrap(merge, "lww_prefilter", "lake.merge.lww_prefilter_plan")
        self.wrap(merge, "lww_dedup", "lake.merge.lww_dedup_plan")
        for attr in ("append_deltas", "commit_rewrite", "join_pending_commit",
                     "join_maintenance", "compact_deltas",
                     "compact_deltas_async", "snapshot", "last_txn",
                     "bucket_read_amplification"):
            self.wrap(T, attr, f"lake.table.{attr}")
        self.wrap(T, "read", "lake.table.read_plan")
        self._wrap_submit()

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ----------------------------------------------------------- queries

    def named(self, name: str, thread: str | None = None) -> list[Span]:
        """Spans called ``name``; ``thread`` keeps those on threads with
        that name prefix, or, as ``"foreground"``, those off the table's
        worker pools (the driver thread and Spark's callback threads, where
        ``foreachBatch`` runs)."""
        def on(t: str) -> bool:
            if thread is None:
                return True
            if thread == "foreground":
                return not t.startswith(tuple(_POOL_SPANS))
            return t.startswith(thread)
        return [s for s in self.spans if s.name == name and on(s.thread)]

    def total(self, name: str, thread: str | None = None) -> float:
        return sum(s.end - s.start for s in self.named(name, thread))

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the union of the same-thread children. Linked
        spans on the worker threads run beside their parent, not inside it,
        so they do not reduce its self time."""
        return self_time(span.start, span.end,
                         [(c.start, c.end) for c in self.children(span)
                          if c.thread == span.thread])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")
