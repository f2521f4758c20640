"""Span tracing and storage accounting for the lake benchmark.

``Tracer`` wraps the engine's public entry points from outside (the
engine itself carries no spans): each call records name, start, end,
parent span and op id, plus the Spark job and task counters sampled at
both ends. Spans stay in memory and are written out when the run ends.
With tracing off nothing is patched and ``span`` costs one branch.

``Storage`` walks table directories: bytes and files written between
two walks (new files, or files whose size changed).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

# (module, owner attribute or None, function) for every wrapped entry
# point; the span is named "<module>.<function>"
ENTRY_POINTS = (
    ("hudi_spark_plus_spark.operators.sync", None, "sync_batch"),
    ("hudi_spark_plus_spark.table.lake_table", "LakeTable", "merge"),
    ("hudi_spark_plus_spark.table.lake_table", "LakeTable", "snapshot"),
    ("hudi_spark_plus_spark.table.lake_table", "LakeTable", "scan_for_keys"),
    ("hudi_spark_plus_spark.table.lake_table", "LakeTable", "incremental"),
    ("hudi_spark_plus_spark.table.commit_log", "CommitLog", "commit"),
    ("hudi_spark_plus_spark.table.maintenance", None, "maybe_compact"),
    ("hudi_spark_plus_spark.table.maintenance", None, "compact"),
    ("hudi_spark_plus_spark.table.maintenance", None, "compact_buckets"),
)


class Span:
    __slots__ = ("id", "name", "op", "parent", "start", "end", "jobs",
                 "tasks", "error")

    def __init__(self, sid, name, op, parent):
        self.id, self.name, self.op, self.parent = sid, name, op, parent
        self.start = self.end = 0.0
        self.jobs = self.tasks = None
        self.error = None

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._jsc = spark.sparkContext._jsc.sc()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._next_op = 0
        # the benchmark is one client: at most one op runs at a time, so
        # a span opened on an engine worker thread (the sync's per-table
        # pool) with an empty stack is a child of the innermost span open
        # on the op's own thread
        self._op_stack: list | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- Spark counters ----------------------------------------------------

    def counters(self) -> tuple[int | None, int | None]:
        """(jobs submitted, tasks launched) so far in this context, read
        from the DAG and task schedulers; (None, None) where a Spark
        build does not expose them."""
        try:
            return (int(self._jsc.dagScheduler().nextJobId()),
                    int(self._jsc.taskScheduler().nextTaskId()))
        except Exception:  # py4j error or attribute missing on this build
            return None, None

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False):
        """Record a span around the block. ``op=True`` opens a new op
        (a benchmark-level operation); otherwise the span joins the
        enclosing one."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            if stack:
                parent = stack[-1]
            elif not op and self._op_stack:
                parent = self._op_stack[-1]
            else:
                parent = None
            if op or parent is None:
                opid = self._next_op
                self._next_op += 1
            else:
                opid = parent.op
        s = Span(sid, name, opid, parent.id if parent else None)
        j0, k0 = self.counters()
        stack.append(s)
        if op:
            self._op_stack = stack
        self.bookkeeping_s += time.perf_counter() - t0
        s.start = time.perf_counter()
        try:
            yield s
        except BaseException as ex:
            s.error = type(ex).__name__
            raise
        finally:
            s.end = time.perf_counter()
            j1, k1 = self.counters()
            if j0 is not None and j1 is not None:
                s.jobs, s.tasks = j1 - j0, k1 - k0
            stack.pop()
            if op:
                self._op_stack = None
            with self._lock:
                self.spans.append(s)
            self.bookkeeping_s += time.perf_counter() - s.end

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- entry-point wrapping ----------------------------------------------

    def install(self) -> None:
        """Wrap every entry point in ``ENTRY_POINTS`` (tracing on only)."""
        if not self.enabled:
            return
        import importlib

        for mod_name, owner_name, fn_name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = getattr(owner, fn_name)
            name = f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}"
            setattr(owner, fn_name, self._wrap(orig, name))
            self._patches.append((owner, fn_name, orig))

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def uninstall(self) -> None:
        for owner, fn_name, orig in reversed(self._patches):
            setattr(owner, fn_name, orig)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by direct children."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans if c.parent == span.id
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return span.duration - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")


class Storage:
    """Bytes and files written under a set of table directories."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self._seen: dict[str, int] = {}
        self.bytes_written = 0
        self.files_written = 0
        self.smallest_data_file = None  # bytes of the smallest data file
        self.scan()

    def _walk(self) -> dict[str, int]:
        out = {}
        for root in self.roots:
            for d, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    try:
                        out[p] = os.stat(p).st_size
                    except FileNotFoundError:  # vacuumed under our feet
                        continue
        return out

    def scan(self) -> tuple[int, int]:
        """Walk now; returns (bytes, files) written since the last walk
        and adds them to the running totals."""
        now = self._walk()
        b = n = 0
        for p, size in now.items():
            old = self._seen.get(p)
            if old != size:  # new, or rewritten in place
                b += size
                n += 1
                if p.endswith(".parquet") and (
                    self.smallest_data_file is None
                    or size < self.smallest_data_file
                ):
                    self.smallest_data_file = size
        self._seen = now
        self.bytes_written += b
        self.files_written += n
        return b, n
