"""The benchmark's workloads, run against the engine's public API.

``cdc-stream-mor``: open loop. Change events arrive at a fixed offered
rate; a trigger every ``TRIGGER_S`` hands the events due in its interval
to ``sync_batch`` (4 MOR tables in 2 dbs). Freshness is timed from each
event's due time to the return of the ``sync_batch`` that published it.
After the deadline every table gets a checked snapshot scan, and
incremental reads of its last two merges, each with a point lookup.

``lake-read-mix``: closed loop, one client, one MOR table. Each cycle:
a small skewed merge, an incremental read of its commit, a snapshot
scan and point lookups (some keys never written).

In both, deltas pile up through the run (the inline compaction trigger
keeps the sync's default threshold, which a run does not reach); after
the deadline one explicit compaction per table folds them (on the
stream only when tracing).

Every output is checked against ``oracle.Replay``; a mismatch or a
``skipped:`` table status is a failed operation. After every timed op
the reference job runs once (``Run.reference``).
"""

from __future__ import annotations

import bisect
import json
import os
import sys
import time
import traceback

from pyspark.sql import functions as F

from hudi_spark_plus_spark.localdf import local_frame
from hudi_spark_plus_spark.operators import cdc, sync
from hudi_spark_plus_spark.plans import config as cfg
from hudi_spark_plus_spark.table import maintenance
from hudi_spark_plus_spark.table.keygen import KEY_COL, bucket_expr
from hudi_spark_plus_spark.table.lake_table import LakeTable

import gen
import oracle
from spans import Storage

# the stream's trigger: a micro-batch starts every TRIGGER_S seconds, or
# at once when the previous one ran over, and takes the events due in its
# own interval, so a batch's content does not depend on the host's speed
# (a backlog shows in freshness). The schedule starts one interval before
# the first trigger, so the first batch is a steady-state one.
TRIGGER_S = 3.0


def sync_options(base: str, shape: dict) -> dict[str, str]:
    opts = {
        cfg.HOODIE_PATH: base + "/{db}/{table}",
        cfg.DEDUP_ORDER_FIELDS: "seq",
        cfg.BUCKETS: str(shape["buckets"]),
        cfg.WRITE_MODE: shape["mode"],
    }
    for db, table in shape["tables"]:
        p = f"{db}.{table}."
        opts[p + cfg.RECORDKEY_FIELD] = "id"
        opts[p + cfg.PRECOMBINE_FIELD] = "seq"
        opts[p + cfg.TABLE_NAME] = table
    return opts


class Run:
    """State shared by both workloads: session, inputs, oracle, counts,
    samples and storage accounting for one run."""

    def __init__(self, spark, tracer, workload: str, inputs: str, tables: str):
        self.spark, self.tracer, self.workload = spark, tracer, workload
        self.shape = gen.SHAPES[workload]
        self.inputs = inputs
        self.opts = sync_options(tables, self.shape)
        self.paths = {t: f"{tables}/{t[0]}/{t[1]}" for t in self.shape["tables"]}
        self.lakes: dict = {}
        self.replay = oracle.Replay()
        # table -> [(merge commit version, batch winners)], oldest first
        self.merges: dict = {}
        self.attempted = self.failed = 0
        # wall seconds per op kind, the CPU seconds (driver + JVM) of the
        # same ops under "<kind>_cpu", and the stream's event freshness
        self.samples: dict[str, list[float]] = {
            k + c: [] for k in ("commit", "lookup", "scan", "incr")
            for c in ("", "_cpu")}
        self.samples["freshness"] = []
        self.samples["ref_cpu"] = []  # the reference job, after each op
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.op_cpu = 0.0  # CPU seconds of the last timed op
        self.rows_in = 0      # change rows submitted in the timed phase
        self.elapsed = 0.0    # timed phase wall seconds
        self.batches: list[list[str]] = []  # timed-phase batches, in order
        self.storage: Storage | None = None
        self.write_amps: list[float] = []  # per timed batch
        self.read_stats: dict[str, list] = {
            k: [] for k in ("lookup_plan", "lookup_exec", "lookup_candidates",
                            "lookup_read", "snapshot_exec", "snapshot_files",
                            "snapshot_deltas")}
        self.max_deltas = 0
        self.first_timed_version: dict = {}
        self._cpu0: list[int] | None = None
        self.steal_share: float | None = None
        self._buckets: dict[str, int] = {}

    # -- helpers -----------------------------------------------------------

    def lines(self, name: str) -> list[str]:
        with open(os.path.join(self.inputs, name)) as fh:
            return fh.read().splitlines()

    def lake(self, t) -> LakeTable:
        if t not in self.lakes:
            self.lakes[t] = LakeTable(self.spark, self.paths[t])
        return self.lakes[t]

    def cpu(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM."""
        return time.process_time() + _proc_cpu(self.jvm_pid)

    def reference(self) -> float:
        """Run the reference job; returns the CPU seconds it used.

        A fixed Spark job that touches no engine code (range, hash, sum:
        planning, codegen, scheduling and a few tasks), run beside the
        ops so that op costs can be given in units of it: the host's
        speed changes from minute to minute, and the job's cost moves
        with it."""
        c0 = self.cpu()
        self.spark.range(0, 100_000, 1, 2).selectExpr(
            "sum(hash(id, 'lakebench'))").collect()
        return self.cpu() - c0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"lakebench: FAILED {what}", file=sys.stderr, flush=True)

    def guarded(self, what: str, fn):
        """Run one operation; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.fail(what)
            return None

    def sync(self, lines: list[str], batch_id: str) -> float:
        """One ``sync_batch``; returns its wall seconds. Every table in
        the batch is one attempted operation."""
        df = local_frame(self.spark, [(x,) for x in lines], "value string")
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            with self.tracer.span("bench.sync", op=True):
                status = sync.sync_batch(self.spark, df, self.opts,
                                         batch_id=batch_id)
        except Exception:  # counted below: no status for any table
            traceback.print_exc(file=sys.stderr)
            status = {}
        dt = time.perf_counter() - t0
        self.op_cpu = self.cpu() - c0
        winners = self.replay.apply(lines)
        for t, w in winners.items():
            self.merges.setdefault(t, []).append((self.last_merge_version(t), w))
        self.attempted += len(winners)
        for name, st in status.items():
            if st != "ok":
                self.fail(f"sync {batch_id} {name}: {st}")
        if len(status) != len(winners):
            self.fail(f"sync {batch_id}: {len(status)} statuses for "
                      f"{len(winners)} tables")
        return dt

    def load(self) -> None:
        """Initial table load: one batch creating every table."""
        self.sync(self.lines("load.jsonl"), "load")

    def warm(self) -> None:
        """Untimed, checked warm-up of every timed path: one change
        batch, then a scan, an incremental read and a lookup of the
        first table."""
        self.sync(self.lines("warm.jsonl"), "warm")
        self.reference()
        t = self.shape["tables"][0]
        self.scan(t)
        version, winners = self.merges[t][-1]
        self.incremental(t, version, winners)
        self.lookup(t, next(iter(winners)))

    def start_timed(self) -> None:
        self._cpu0 = _cpu_times()
        self.storage = Storage(list(self.paths.values()))
        self.first_timed_version = {
            t: self.lake(t).log.latest().version for t in self.paths}

    def account(self, lines: list[str]) -> None:
        """Input and storage accounting of one timed batch."""
        self.rows_in += sum(len(json.loads(x)["rows"]) for x in lines)
        self.batches.append(lines)
        written, _ = self.storage.scan()
        self.write_amps.append(written / sum(len(x) for x in lines))
        if self.tracer.enabled:
            for t in self.paths:
                per: dict = {}
                for f in self.lake(t).log.live_files():
                    if f.kind == "delta":
                        per[f.bucket] = per.get(f.bucket, 0) + 1
                self.max_deltas = max(self.max_deltas, max(per.values(), default=0))

    def end_timed(self, t0: float) -> None:
        self.elapsed = time.perf_counter() - t0
        cpu1 = _cpu_times()
        if self._cpu0 and cpu1:
            d = [b - a for a, b in zip(self._cpu0, cpu1)]
            # share of CPU time the hypervisor gave to other guests
            self.steal_share = d[7] / max(1, sum(d[:8])) if len(d) > 7 else None

    # -- checked reads -----------------------------------------------------

    def bucket_of(self, keys: list[str], buckets: int) -> None:
        """Bucket ids of the lookup keys, by the engine's own expression
        (one job before timing; used only for the candidate-file count)."""
        rows = local_frame(self.spark, [(k,) for k in keys], "_key string").select(
            KEY_COL, bucket_expr(F.col(KEY_COL), buckets).alias("b")).collect()
        self._buckets.update({r[0]: r[1] for r in rows})

    def lookup(self, t, key_id: int) -> float | None:
        lake = self.lake(t)
        key = oracle.record_key(t[0], t[1], key_id)

        def go():
            keys = local_frame(self.spark, [(key,)], "_key string")
            c0, t0 = self.cpu(), time.perf_counter()
            with self.tracer.span("bench.lookup", op=True):
                with self.tracer.span("bench.lookup_plan"):
                    df = lake.scan_for_keys(keys)
                t1 = time.perf_counter()
                with self.tracer.span("bench.lookup_exec"):
                    got = (df.where((F.col(KEY_COL) == key) & ~F.col("_deleted"))
                           .select("id", "seq").collect())
            t2 = time.perf_counter()
            self.op_cpu = self.cpu() - c0
            if self.tracer.enabled:
                files = lake.log.live_files()
                b = self._buckets.get(key)
                self.read_stats["lookup_plan"].append(t1 - t0)
                self.read_stats["lookup_exec"].append(t2 - t1)
                self.read_stats["lookup_candidates"].append(
                    sum(1 for f in files if f.bucket == b))
                self.read_stats["lookup_read"].append(len(df.inputFiles()))
            want = self.replay.lookup(t, key_id)
            if sorted(tuple(r) for r in got) != want:
                self.fail(f"lookup {t} id={key_id}: got {got}, want {want}")
            return t2 - t0

        return self.guarded(f"lookup {t} {key_id}", go)

    def scan(self, t) -> float | None:
        lake = self.lake(t)

        def go():
            c0, t0 = self.cpu(), time.perf_counter()
            with self.tracer.span("bench.scan", op=True):
                got = oracle.snapshot_digest(lake.snapshot())
            dt = time.perf_counter() - t0
            self.op_cpu = self.cpu() - c0
            if self.tracer.enabled:
                files = lake.log.live_files()
                self.read_stats["snapshot_exec"].append(dt)
                self.read_stats["snapshot_files"].append(len(files))
                self.read_stats["snapshot_deltas"].append(
                    sum(1 for f in files if f.kind == "delta"))
            want = self.replay.digest(t)
            if got != want:
                self.fail(f"snapshot {t}: got {got}, want {want}")
            return dt

        return self.guarded(f"snapshot {t}", go)

    def incremental(self, t, version: int, winners: dict) -> float | None:
        """Incremental read of merge commit ``version``: exactly the
        ``winners`` of its batch, deletes as tombstones."""
        lake = self.lake(t)

        def go():
            c0, t0 = self.cpu(), time.perf_counter()
            with self.tracer.span("bench.incremental", op=True):
                got = lake.incremental(version - 1, version).select(
                    "id", "seq", "_deleted").collect()
            dt = time.perf_counter() - t0
            self.op_cpu = self.cpu() - c0
            want = sorted((k, w[1], w[3]) for k, w in winners.items())
            if sorted(tuple(r) for r in got) != want:
                self.fail(f"incremental {t}@{version}: {len(got)} rows, "
                          f"want {len(want)}")
            return dt

        return self.guarded(f"incremental {t}", go)

    def compact_all(self) -> None:
        """The table service the inline trigger (default threshold: 10
        deltas per bucket) has not reached within the run: one explicit
        compaction per table, each followed by a checked snapshot."""
        for t in self.paths:
            self.guarded(f"compact {t}", lambda: maintenance.compact(self.lake(t)))
            self.scan(t)

    def last_merge_version(self, t) -> int:
        log = self.lake(t).log
        v = log.latest().version
        while log.read(v).operation == "compact":
            v -= 1
        return v

    def parse_dedup(self, n: int = 3) -> dict:
        """The sync's parse -> key -> LWW-dedup pipeline materialized alone
        on the last ``n`` timed batches (tracing only; after timing)."""
        keys = {t: ["id"] for t in self.shape["tables"]}
        out = {"s": [], "rows_in": 0, "rows_out": 0}
        for lines in self.batches[-n:]:
            df = local_frame(self.spark, [(x,) for x in lines], "value string")
            t0 = time.perf_counter()
            keyed = cdc.with_record_key(cdc.parse_envelopes(df), keys)
            n_out = cdc.lww_dedup(
                keyed.where(F.col(KEY_COL).isNotNull()),
                order_exprs=[cdc.tie_break_expr("seq")]).count()
            out["s"].append(time.perf_counter() - t0)
            out["rows_in"] += sum(len(json.loads(x)["rows"]) for x in lines)
            out["rows_out"] += n_out
        return out


def run_stream(r: Run, seconds: float) -> None:
    """Open loop at the offered rate; then checked reads of every table
    (and, when tracing, one compaction per table)."""
    lines = r.lines("stream.jsonl")
    due = [float(x) for x in r.lines("stream.due")]
    r.start_timed()
    start = time.perf_counter()
    t0 = start - TRIGGER_S  # the schedule's clock
    i = n = 0
    while n * TRIGGER_S < seconds and time.perf_counter() - start < seconds:
        wait = n * TRIGGER_S - (time.perf_counter() - start)
        if wait > 0:
            time.sleep(wait)
        j = bisect.bisect_right(due, (n + 1) * TRIGGER_S)
        batch = lines[i:j]
        dt = r.sync(batch, f"s{n}")
        done = time.perf_counter() - t0
        _keep(r, "commit", dt)
        r.samples["freshness"].extend(done - d for d in due[i:j])
        r.account(batch)
        i, n = j, n + 1
    r.end_timed(start)
    if r.tracer.enabled:
        r.bucket_of([oracle.record_key(t[0], t[1], next(iter(w)))
                     for t in r.shape["tables"] for _, w in r.merges[t][-2:]],
                    r.shape["buckets"])
    # per table: a scan of the final state, then the incremental read of
    # each of its last two merges with a lookup of one id it changed
    for t in r.shape["tables"]:
        _keep(r, "scan", r.scan(t))
        for version, winners in r.merges[t][-2:]:
            _keep(r, "incr", r.incremental(t, version, winners))
            _keep(r, "lookup", r.lookup(t, next(iter(winners))))
    if r.tracer.enabled:  # the maintenance layer's per-layer figures
        r.compact_all()


def run_read_mix(r: Run, seconds: float) -> None:
    """Closed loop: merge, incremental read of it, scan, lookups, per
    cycle."""
    t = r.shape["tables"][0]
    with open(os.path.join(r.inputs, "lookups.json")) as fh:
        lookups = json.load(fh)
    if r.tracer.enabled:
        r.bucket_of([oracle.record_key(t[0], t[1], k) for ids in lookups for k in ids],
                    r.shape["buckets"])
    r.start_timed()
    t0 = time.perf_counter()

    def due() -> bool:  # the deadline is checked before every operation
        return time.perf_counter() - t0 >= seconds

    for c, ids in enumerate(lookups):
        if due():
            break
        batch = r.lines(f"batch-{c:04d}.jsonl")
        _keep(r, "commit", r.sync(batch, f"m{c}"))
        r.account(batch)
        if not due():
            _keep(r, "incr", r.incremental(t, *r.merges[t][-1]))
        if not due():
            _keep(r, "scan", r.scan(t))
        for k in ids:
            if due():
                break
            _keep(r, "lookup", r.lookup(t, k))
    r.end_timed(t0)
    r.compact_all()


def _cpu_times() -> list[int] | None:
    """Aggregate CPU jiffies from /proc/stat (user ... steal), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _proc_cpu(pid: int) -> float:
    """User + system CPU seconds of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return (int(f[11]) + int(f[12])) / _TICKS


_TICKS = os.sysconf("SC_CLK_TCK")


def _keep(r: Run, kind: str, wall: float | None) -> None:
    """Keep one op's wall seconds and the CPU seconds it used, and run
    the reference job once beside it."""
    if wall is not None:
        r.samples[kind].append(wall)
        r.samples[kind + "_cpu"].append(r.op_cpu)
        r.samples["ref_cpu"].append(r.reference())


WORKLOADS = {"cdc-stream-mor": run_stream, "lake-read-mix": run_read_mix}
