"""Benchmark entry point.

    python3 perfbench/run.py --workload {tweet_stream,operator_keys} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``
inside ``.perfbench/`` of the checkout, which also holds every temporary
file the run makes (TMPDIR, Spark local and warehouse dirs, the event
log) and is removed at the end; traced runs keep their spans under
``.perfbench/traces/``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
Exits non-zero, without a result line, if the library is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "twitter_hashtag_sentiment_analysis_spark"
#: Driver JVM heap (local mode: the driver runs the executors too).
HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mib": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "driver.build_s": "s",
    "driver.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.task_skew": "ratio",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "sink.bytes_written": "bytes",
    "streaming.batches": "count",
    "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.outside_trigger_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "io.tmp_leaked": "count",
    "catalog.leaked_tables": "count",
    "storage.persisted_rdds": "count",
    "pipeline.backlog_files_max": "count",
    "traced.wall_s": "s",
}


def isolate(work: str, trace: bool) -> None:
    """Point every temporary path of Python, the JVM and Spark into the
    run's work dir, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    events = os.path.join(work, "events")
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["TZ"] = "UTC"
    time.tzset()
    confs = {
        # A fixed, pre-touched heap keeps the JVM's resident size from
        # depending on when G1 chooses to grow the heap; heap pressure
        # shows in executor.gc_s instead.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # Spark's default event log is zstd-compressed and rolling, which
        # cannot be read back as plain JSON lines.
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None
    os.chdir(work)


def stop_all(bench) -> None:
    """Stop Spark and the JVM, then wait until every process this run
    started (JVM, Python workers, generator) has ended."""
    import procs
    from pyspark import SparkContext

    if bench.spark is not None:
        bench.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
    bench.rss.stop()
    procs.reap(bench.rss.seen)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        sys.stderr.write(f"perfbench: no {PKG}/ next to {HERE}; run it from a repo checkout\n")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}\n")
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)
    isolate(work, trace)

    t0 = time.perf_counter()
    bench = WORKLOADS[args.workload](args.workload, args.seed, args.seconds, trace, work)

    def phase(name: str) -> None:
        sys.stderr.write(f"[perfbench] {name} done at {time.perf_counter() - t0:.1f}s\n")

    try:
        data = bench.run_setup()
        sys.stderr.write(f"[perfbench] setup {json.dumps(bench.setup)}\n")
        # write back set-up files first (the filesystem may discard freed
        # blocks synchronously at commit) so none of it lands in the timer
        os.sync()
        phase("set-up")
        e2e = bench.measure(data)
        phase("measure and check")
        app_id = bench.spark.sparkContext.applicationId
        stop_all(bench)
        phase("shutdown")
        if trace:
            bench.attribute(os.path.join(work, "events", app_id), bench.parent_of)
    except BaseException:
        try:
            stop_all(bench)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
        raise
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    os.sync()
    phase("clean-up")

    e2e["setup_s"] = bench.setup["setup_s"]
    e2e["peak_rss_mib"] = bench.rss.peak / 2**20
    if trace:
        values = {**bench.layer, **bench.setup, "traced.wall_s": e2e["wall_s"]}
        values.setdefault("pipeline.backlog_files_max", 0)
        units = PER_LAYER
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        out = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(out, "w") as f:
            json.dump(
                {"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
                 "per_layer": values,
                 "jobs_per_key": bench.jobs_per_key, "first_pass_s": bench.first_pass,
                 "spans": bench.tracer.to_json()},
                f, indent=1,
            )
        sys.stderr.write(f"[perfbench] spans written to {os.path.relpath(out, ROOT)}\n")
    else:
        values, units = e2e, END_TO_END
    correct = not bench.failed
    for k in units:
        sys.stderr.write(f"[perfbench] {k} = {values[k]:.6g} {units[k]}\n")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": len(bench.failed),
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    if not correct:
        sys.stderr.write(f"[perfbench] INCORRECT: {len(bench.failed)} of {bench.attempted} failed\n")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
