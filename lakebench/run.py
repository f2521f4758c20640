"""Lake benchmark: CDC change streams into lake tables, and reads beside them.

Run from the repository root:

    python3 lakebench/run.py --workload cdc-stream-mor --seed 1 --seconds 20 --trace 0

Workloads: ``cdc-stream-mor`` and ``lake-read-mix`` (see workloads.py and
NOTES.md). The inputs are generated from ``--seed`` before the session
starts; the run measures for ``--seconds`` and checks every output.
``--trace 1`` wraps the engine's entry points with spans and reports the
per-layer metrics instead of the end-to-end ones; spans and the full
record go to ``.lakebench_out/`` under the repository root.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). The line before it
is a ``detail:`` record with the run's environment and the per-workload
figures under their own names.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hudi_spark_plus_spark"

E2E_UNITS = {
    "setup_s": "s", "commit_cpu_rel": "ref_job", "lookup_cpu_rel": "ref_job",
    "scan_cpu_rel": "ref_job", "incr_cpu_rel": "ref_job", "write_amp": "ratio",
    "peak_rss_mb": "MB",
}
OPS = ("commit", "lookup", "scan", "incr")


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1])."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q * len(v) + 0.5)) - 1))]


def tail(values: list[float]) -> tuple[float, float]:
    """(quantile, value) at the highest percentile with at least ten
    samples beyond it; the median when there are fewer than 20."""
    n = len(values)
    if n < 20:
        return 0.5, statistics.median(values)
    q = min(0.99, (n - 10) / n)
    return q, pct(values, q)


def trimmed_mean(values: list[float], cut: float = 0.2) -> float:
    """Mean of the values left after dropping the lowest and highest
    ``cut`` share: robust to an op's leftover work landing in one
    sample, and finer than a median of CPU times that come in 10-ms
    ticks."""
    v = sorted(values)
    k = int(len(v) * cut)
    return statistics.fmean(v[k:len(v) - k])


def foreign_spark_jvms() -> list[int]:
    """PIDs of Spark JVMs running before this run starts its own."""
    pids = []
    try:
        entries = os.listdir("/proc")
    except OSError:  # no procfs: skip the check
        return []
    for pid in entries:
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "java" in cmd and "org.apache.spark" in cmd:
            pids.append(int(pid))
    return pids


def hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc-stream-mor", "lake-read-mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"lakebench: engine package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".lakebench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # printed after the JVM has exited, so no log line can follow them
    for line in lines:
        print(line, flush=True)
    return 0


def run(args, work: str) -> list[str]:
    import gen

    inputs = os.path.join(work, "inputs")
    manifest = gen.write_inputs(args.workload, args.seed, args.seconds, inputs)

    # everything Spark and Python write goes under the run's work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    cores = min(4, os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    # every JVM (the submit launcher too): temp files under the work dir,
    # no hsperfdata file. Every query compiles new generated classes, so
    # the JIT never goes quiet: C1 only (C2 otherwise keeps a core busy
    # through the whole run), and a code cache large enough to need no
    # sweeping (the sweeper's bursts landed in whichever op was running)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        "-XX:ReservedCodeCacheSize=256m -XX:-UseCodeCacheFlushing")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        # a fixed-size heap: peak RSS no longer depends on heap resizing
        "--conf spark.driver.extraJavaOptions=-Xms1g "
        "pyspark-shell")

    foreign = foreign_spark_jvms()
    if foreign:
        print(f"lakebench: WARNING {len(foreign)} Spark JVM(s) already running "
              f"(pids {foreign}); timings will include their contention",
              file=sys.stderr, flush=True)

    t0 = time.perf_counter()
    from hudi_spark_plus_spark.session import get_spark

    spark = get_spark("lakebench", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_start = time.perf_counter() - t0
    try:
        return measure(spark, args, work, inputs, manifest, cores, jvm_start,
                       foreign)
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def measure(spark, args, work, inputs, manifest, cores, jvm_start, foreign):
    import workloads
    from spans import Tracer

    tracer = Tracer(spark, enabled=False)
    r = workloads.Run(spark, tracer, args.workload, inputs,
                      os.path.join(work, "tables"))
    t0 = time.perf_counter()
    r.load()
    t1 = time.perf_counter()
    r.warm()
    load, warmup = t1 - t0, time.perf_counter() - t1
    setup = jvm_start + load + warmup

    tracer.enabled = bool(args.trace)
    tracer.install()
    try:
        workloads.WORKLOADS[args.workload](r, args.seconds)
        parse = r.parse_dedup() if tracer.enabled else None
    finally:
        tracer.uninstall()

    r.attempted += 1
    if not manifest["deterministic"]:
        r.fail("generator: same seed gave different inputs")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss = hwm_mb("self") + hwm_mb(jvm_pid)

    e2e = end_to_end(r, setup, peak_rss)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "spark_cores": cores,
        "spark_version": spark.version, "inputs": manifest,
        "foreign_spark_jvms": foreign, "error_rate": r.failed / r.attempted,
        "samples": {k: len(v) for k, v in r.samples.items()},
        "wall": wall_times(args.workload, r.samples),
        "cpu_s": cpu_seconds(r.samples),
        "elapsed_s": r.elapsed,
        "setup_parts_s": {"jvm_start": jvm_start, "load": load, "warmup": warmup},
        "timed_rows": r.rows_in,
        "cpu_steal_share": r.steal_share,
    }
    metrics = e2e
    if tracer.enabled:
        metrics = per_layer(r, tracer, parse, jvm_start, warmup)
        detail["end_to_end_traced"] = e2e
        detail["wall_traced"] = detail.pop("wall")
    detail["metrics"] = metrics
    out_dir = os.path.join(ROOT, ".lakebench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(dict(detail, samples_s=r.samples), fh, indent=1)
    if tracer.enabled:
        tracer.dump(stem + ".spans.jsonl")

    units = dict(E2E_UNITS, **PER_LAYER_UNITS)
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return ["detail: " + json.dumps(detail), json.dumps(result)]


def end_to_end(r, setup: float, peak_rss: float) -> dict:
    """Each op kind's median CPU seconds in units of the reference job's
    CPU seconds in the same run (see NOTES.md), plus set-up wall
    time, write amplification and peak memory."""
    s = r.samples
    med = statistics.median
    ref = trimmed_mean(s["ref_cpu"])
    out = {"setup_s": setup}
    out.update({f"{k}_cpu_rel": med(s[k + "_cpu"]) / ref for k in OPS})
    out.update(write_amp=med(r.write_amps), peak_rss_mb=peak_rss)
    return out


def cpu_seconds(s: dict) -> dict:
    """Raw CPU seconds (driver + JVM): median and tail per op kind, and
    the reference job's trimmed mean."""
    out = {"ref": trimmed_mean(s["ref_cpu"])}
    for k in OPS:
        q, v = tail(s[k + "_cpu"])
        out.update({f"{k}_p50": statistics.median(s[k + "_cpu"]),
                    f"{k}_tail": v, f"{k}_tail_q": q})
    return out


def wall_times(workload: str, s: dict) -> dict:
    """Wall-clock medians and tails under the workload's own names
    (reported, not bounded: see NOTES.md)."""
    med = statistics.median
    out = {}
    if workload == "cdc-stream-mor":
        q, v = tail(s["freshness"])
        out.update(freshness_p50_s=med(s["freshness"]), freshness_tail_s=v,
                   freshness_tail_q=q, batch_p50_s=med(s["commit"]))
    else:
        out["merge_p50_s"] = med(s["commit"])
    q, v = tail(s["lookup"])
    out.update(lookup_p50_s=med(s["lookup"]), lookup_tail_s=v,
               lookup_tail_q=q, scan_p50_s=med(s["scan"]),
               incr_p50_s=med(s["incr"]))
    return out


PER_LAYER_UNITS = {
    "session.jvm_start_s": "s",
    "session.warmup_s": "s",
    "operators.sync.busy_s": "s",
    "operators.sync.self_s": "s",
    "operators.sync.calls": "count",
    "operators.sync.spark_jobs_per_batch": "count",
    "operators.sync.spark_tasks_per_batch": "count",
    "operators.sync.tables_per_batch": "count",
    "operators.cdc.parse_dedup_s": "s",
    "operators.cdc.rows_in": "count",
    "operators.cdc.rows_out": "count",
    "table.lake_table.merge_busy_s": "s",
    "table.lake_table.merge_calls": "count",
    "table.lake_table.files_written_per_merge": "count",
    "table.lake_table.bytes_written_per_merge": "bytes",
    "table.lake_table.lookup_plan_s": "s",
    "table.lake_table.lookup_exec_s": "s",
    "table.lake_table.lookup_candidate_files": "count",
    "table.lake_table.lookup_files_read": "count",
    "table.lake_table.bloom_skip_ratio": "ratio",
    "table.lake_table.snapshot_exec_s": "s",
    "table.lake_table.snapshot_files_read": "count",
    "table.lake_table.snapshot_delta_files": "count",
    "table.lake_table.incremental_plan_s": "s",
    "table.commit_log.commit_busy_s": "s",
    "table.commit_log.commit_calls": "count",
    "table.commit_log.commit_retries": "count",
    "table.commit_log.live_files": "count",
    "table.maintenance.compact_busy_s": "s",
    "table.maintenance.compactions": "count",
    "table.maintenance.bytes_rewritten": "bytes",
    "table.maintenance.max_deltas_per_bucket": "count",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "storage.bytes_per_file": "bytes",
    "storage.smallest_file_bytes": "bytes",
    "trace.bookkeeping_s": "s",
    "trace.spans": "count",
}


def per_layer(r, tracer, parse, jvm_start: float, warmup: float) -> dict:
    med = statistics.median

    def busy(name):
        return sum(s.duration for s in tracer.named(name))

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    syncs = tracer.named("sync.sync_batch")
    merges = tracer.named("lake_table.merge")
    commits = tracer.named("commit_log.commit")
    compactions = tracer.named("maintenance.compact_buckets") + tracer.named(
        "maintenance.compact")
    st = r.storage
    rs = r.read_stats
    merge_files = _files_by_commit(r, "merge")
    compact_files = _files_by_commit(r, "compact")
    cand = sum(rs["lookup_candidates"])
    return {
        "session.jvm_start_s": jvm_start,
        "session.warmup_s": warmup,
        "operators.sync.busy_s": busy("sync.sync_batch"),
        "operators.sync.self_s": sum(tracer.self_time(s) for s in syncs),
        "operators.sync.calls": len(syncs),
        "operators.sync.spark_jobs_per_batch": mean([s.jobs or 0 for s in syncs]),
        "operators.sync.spark_tasks_per_batch": mean([s.tasks or 0 for s in syncs]),
        "operators.sync.tables_per_batch": len(merges) / max(1, len(syncs)),
        "operators.cdc.parse_dedup_s": med(parse["s"]),
        "operators.cdc.rows_in": parse["rows_in"],
        "operators.cdc.rows_out": parse["rows_out"],
        "table.lake_table.merge_busy_s": busy("lake_table.merge"),
        "table.lake_table.merge_calls": len(merges),
        "table.lake_table.files_written_per_merge":
            len(merge_files) / max(1, len(merges)),
        "table.lake_table.bytes_written_per_merge":
            sum(merge_files.values()) / max(1, len(merges)),
        "table.lake_table.lookup_plan_s": med(rs["lookup_plan"]),
        "table.lake_table.lookup_exec_s": med(rs["lookup_exec"]),
        "table.lake_table.lookup_candidate_files": mean(rs["lookup_candidates"]),
        "table.lake_table.lookup_files_read": mean(rs["lookup_read"]),
        "table.lake_table.bloom_skip_ratio":
            1 - sum(rs["lookup_read"]) / cand if cand else 0.0,
        "table.lake_table.snapshot_exec_s": med(rs["snapshot_exec"]),
        "table.lake_table.snapshot_files_read": mean(rs["snapshot_files"]),
        "table.lake_table.snapshot_delta_files": mean(rs["snapshot_deltas"]),
        "table.lake_table.incremental_plan_s": med(
            [s.duration for s in tracer.named("lake_table.incremental")]),
        "table.commit_log.commit_busy_s": busy("commit_log.commit"),
        "table.commit_log.commit_calls": len(commits),
        "table.commit_log.commit_retries": sum(1 for s in commits if s.error),
        "table.commit_log.live_files":
            sum(len(r.lake(t).log.live_files()) for t in r.paths),
        "table.maintenance.compact_busy_s": sum(s.duration for s in compactions),
        "table.maintenance.compactions": len(compactions),
        "table.maintenance.bytes_rewritten": sum(compact_files.values()),
        "table.maintenance.max_deltas_per_bucket": r.max_deltas,
        "storage.bytes_written": st.bytes_written,
        "storage.files_written": st.files_written,
        "storage.bytes_per_file": st.bytes_written / max(1, st.files_written),
        "storage.smallest_file_bytes": st.smallest_data_file or 0,
        "trace.bookkeeping_s": tracer.bookkeeping_s,
        "trace.spans": len(tracer.spans),
    }


def _files_by_commit(r, operation: str) -> dict[str, int]:
    """Data files (path -> bytes) added by timed-phase commits of one
    operation kind, across every table."""
    out = {}
    for t in r.paths:
        log = r.lake(t).log
        seen = set()
        for v in log.versions():
            c = log.read(v)
            files = {f.path: f.bytes or 0 for f in c.files}
            if c.operation == operation and v > r.first_timed_version[t]:
                out.update({p: b for p, b in files.items() if p not in seen})
            seen = set(files)
    return out


if __name__ == "__main__":
    sys.exit(main())
