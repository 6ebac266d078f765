"""The two workloads and their shared set-up, measurement and checks.

``operator_keys``: a closed loop, one key at a time, over a fixed slice of
registered operator keys (streaming/state/sink keys plus plan-time eager
keys), in a seeded order, on seeded parquet tables.

``tweet_stream``: the reference job run open loop. A generator process
drops seeded NDJSON tweet files on a fixed schedule into the directory a
``start_pipeline`` query (1 s processingTime trigger, partitioned JSON
sink) reads; then a seeded backlog is drained with ``maxFilesPerTrigger``
sized to the reference's 3 MB buffer.
"""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import stats
from spans import KeyListener, Tracer, job_owner, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "twitter_hashtag_sentiment_analysis_spark"

#: Scale factor of the generated tables (sf0.01 row counts).
SCALE = 0.01

# --- operator_keys -----------------------------------------------------

STREAM_MODULES = (
    f"{PKG}.streaming.queries",
    f"{PKG}.sources.sinks",
    f"{PKG}.sources.pydatasource",
)
#: Keys taken from each family: evenly spaced over the sorted names.
N_STREAM_KEYS = 7
N_EAGER_KEYS = 7
#: Passes over the slice per run, each in its own seeded order. The
#: first pass is each key's first call in the session; it only warms up
#: (its times go to stderr and the trace file). The end-to-end metrics
#: come from the later passes: a key's time is its median over them.
PASSES = 4


def evenly_spaced(names: list[str], k: int) -> list[str]:
    names = sorted(names)
    if k >= len(names):
        return names
    return [names[(i * len(names)) // k] for i in range(k)]


def operator_keys(reg) -> list[str]:
    """The fixed key slice: evenly spaced picks from the streaming/sink
    family and from the non-streaming keys the registry declares
    ``eager`` (the set ``tools/eager_audit.py`` audits). Memo-backed keys
    are left out: a second call in a session reads their memo, so they
    cannot be timed once per pass."""
    stream = [k for k, q in reg.items() if q.fn.__module__ in STREAM_MODULES]
    eager = [k for k, q in reg.items() if q.eager and not q.memo_backed and k not in stream]
    return evenly_spaced(stream, N_STREAM_KEYS) + evenly_spaced(eager, N_EAGER_KEYS)


# --- tweet_stream -----------------------------------------------------

LIVE_FILES_PER_S = 20
TWEETS_PER_FILE = 250
TRIGGER_SECONDS = 1
#: The reference flushes its Firehose buffer at 3 MB.
BUFFER_BYTES = 3 * 1024 * 1024
BACKLOG_FILES = 480
#: Backlog drains per run. The first only warms up the drain path (it
#: still gets faster over the first drains); ``wall_s`` is the median of
#: the others.
BACKLOG_DRAINS = 5
#: Ids of backlog tweets start here so they never collide with live ones.
BACKLOG_FIRST_ID = 10**9
#: A live run whose generator wrote a file later than this is invalid.
MAX_GEN_LATE_S = 1.0


def iso_seconds(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str) -> None:
        from procs import RssSampler

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer()
        self.rss = RssSampler().start()
        self.listener: KeyListener | None = None
        self.spark = None
        self.failed: list[str] = []
        self.attempted = 0
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        #: operator_keys: each key's first call, which is not timed
        self.first_pass: dict[str, float] = {}

    # -- session ---------------------------------------------------------

    def start_session(self):
        from twitter_hashtag_sentiment_analysis_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.listener = KeyListener()
            spark.streams.addListener(self.listener)
        self.spark = spark
        return spark

    def warmup(self) -> None:
        """The first job of a session: executor start and one shuffle.
        On ``operator_keys`` later first-use costs (Python workers, MLlib,
        code generation) land in the first pass, which is not timed."""
        self.spark.range(2000).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    def run_setup(self) -> str:
        """The run's one set-up, from JVM launch on, as a user's job
        starts; returns the data path."""
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.warmup()
        t2 = time.perf_counter()
        data = os.path.join(self.work, "data")
        self.generate(data)
        t3 = time.perf_counter()
        self.setup = {
            "session.start_s": t1 - t0,
            "session.warmup_s": t2 - t1,
            "setup.data_s": t3 - t2,
            "setup_s": t3 - t0,
        }
        return data

    # -- per-workload hooks ------------------------------------------------

    def generate(self, data: str) -> None:
        raise NotImplementedError

    def measure(self, data: str) -> dict[str, float]:
        raise NotImplementedError

    # -- shared helpers ----------------------------------------------------

    def group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def counters_before(self) -> None:
        self._tmp0 = set(os.listdir(os.environ["TMPDIR"]))
        self._tables0 = {t.name for t in self.spark.catalog.listTables()}

    def counters_after(self) -> None:
        """Lifecycle counters: what the measured calls left behind."""
        tmp = set(os.listdir(os.environ["TMPDIR"])) - self._tmp0 - {"thsa_cache"}
        tables = {t.name for t in self.spark.catalog.listTables()} - self._tables0
        self.layer["io.tmp_leaked"] = len(tmp)
        self.layer["catalog.leaked_tables"] = len(tables)
        self.layer["storage.persisted_rdds"] = len(
            self.spark.sparkContext._jsc.getPersistentRDDs()
        )

    def collect_garbage(self) -> None:
        """Python then JVM garbage collection, outside any timer: Python
        handles pin JVM objects until they are collected."""
        gc.collect()
        self.spark._jvm.System.gc()

    def fail(self, what: str) -> None:
        self.failed.append(what)
        sys.stderr.write(f"[perfbench] FAILED: {what}\n")

    # -- traced-run attribution ---------------------------------------------

    def attribute(self, event_log: str, parent_of: dict[tuple[str, str], int]) -> None:
        """Per-layer metrics from the event log and the listener, plus
        job/stage/query/batch spans under the benchmark's key spans."""
        jobs, stages = read_event_log(event_log)
        run_key = self.listener.run_key
        measured = {}
        for j in jobs.values():
            owner = job_owner(j.group, run_key)
            # only calls that were timed have a key span
            if owner is not None and (owner[0], "key") in parent_of:
                measured[j.job_id] = (j, owner)
        query_span = {}
        for run_id, key in run_key.items():
            parent = parent_of.get((key, "key"))
            if parent is None:
                continue
            start = self.listener.started.get(run_id, 0.0)
            end = self.listener.ended.get(run_id, start)
            query_span[run_id] = self.tracer.add("query", start, end, parent, run_id=run_id)
        batch_ms = {
            p: 0.0 for p in ("queryPlanning", "latestOffset", "walCommit", "commitOffsets", "addBatch")
        }
        last_state: dict[str, tuple[int, int]] = {}
        batches = 0
        for p in self.listener.progress:
            qs = query_span.get(p["run_id"])
            if qs is None:
                continue
            batches += 1
            for k in batch_ms:
                batch_ms[k] += p["duration_ms"].get(k, 0)
            last_state[p["run_id"]] = (p["state_rows"], p["state_memory_bytes"])
            t = iso_seconds(p["timestamp"])
            self.tracer.add(
                "batch", t, t + p["duration_ms"].get("triggerExecution", 0) / 1e3, qs,
                batch_id=p["batch_id"], rows=p["rows"],
                state_commit_ms=p["state_commit_ms"],
            )
        # query start to its first trigger, plus last trigger end to stop
        outside = 0.0
        for run_id in query_span:
            mine = [p for p in self.listener.progress if p["run_id"] == run_id]
            start = self.listener.started.get(run_id)
            end = self.listener.ended.get(run_id)
            if not mine or start is None or end is None:
                continue
            first = min(iso_seconds(p["timestamp"]) for p in mine)
            last = max(
                iso_seconds(p["timestamp"]) + p["duration_ms"].get("triggerExecution", 0) / 1e3
                for p in mine
            )
            outside += max(first - start, 0.0) + max(end - last, 0.0)
        #: jobs attributed to each key, by phase (written to the trace file)
        per_key: dict[str, dict[str, int]] = {}
        self.jobs_per_key = per_key
        n_stages = n_tasks = 0
        run_ms = cpu_ns = gc_ms = sread = swrite = spill = written = 0
        skews = []
        for j, (key, phase) in measured.values():
            if phase == "stream":
                parent = query_span.get(j.group, parent_of.get((key, "key")))
            else:
                parent = parent_of.get((key, phase))
            js = self.tracer.add("job", j.start, j.end or j.start, parent, job_id=j.job_id)
            per_key.setdefault(key, {"build": 0, "exec": 0, "stream": 0})[phase] += 1
            for sid in j.stages:
                st = stages.get(sid)
                if st is None or st.tasks == 0:
                    continue
                self.tracer.add("stage", st.start, st.end, js, stage_id=sid, tasks=st.tasks)
                n_stages += 1
                n_tasks += st.tasks
                run_ms += sum(st.run_ms)
                cpu_ns += st.cpu_ns
                gc_ms += st.gc_ms
                sread += st.shuffle_read
                swrite += st.shuffle_write
                spill += st.spill
                written += st.bytes_written
                if st.tasks >= 2:
                    mean = sum(st.run_ms) / st.tasks
                    skews.append(max(st.run_ms) / max(mean, 1.0))
        self.layer.update(
            {
                "spark.jobs": len(measured),
                "spark.stages": n_stages,
                "spark.tasks": n_tasks,
                "driver.build_jobs": sum(1 for _j, (_k, ph) in measured.values() if ph == "build"),
                "executor.run_s": run_ms / 1e3,
                "executor.cpu_s": cpu_ns / 1e9,
                "executor.gc_s": gc_ms / 1e3,
                "executor.task_skew": stats.median(skews) if skews else 1.0,
                "shuffle.read_bytes": sread,
                "shuffle.write_bytes": swrite,
                "shuffle.spill_bytes": spill,
                "sink.bytes_written": written,
                "streaming.batches": batches,
                "streaming.query_planning_s": batch_ms["queryPlanning"] / 1e3,
                "streaming.latest_offset_s": batch_ms["latestOffset"] / 1e3,
                "streaming.wal_commit_s": batch_ms["walCommit"] / 1e3,
                "streaming.commit_offsets_s": batch_ms["commitOffsets"] / 1e3,
                "streaming.add_batch_s": batch_ms["addBatch"] / 1e3,
                "streaming.state_rows": sum(r for r, _ in last_state.values()),
                "streaming.state_memory_bytes": sum(m for _, m in last_state.values()),
                "streaming.outside_trigger_s": outside,
            }
        )


class OperatorKeys(Bench):
    def __init__(self, *a) -> None:
        super().__init__(*a)
        from twitter_hashtag_sentiment_analysis_spark.registry import load_all

        self.reg = load_all()
        self.keys = operator_keys(self.reg)

    def generate(self, data: str) -> None:
        from datagen import write_tables

        write_tables(data, self.seed, SCALE)

    def settle(self) -> None:
        """Between keys, outside the timer: release what the last key
        left cached or unreferenced."""
        self.spark.catalog.clearCache()
        self.collect_garbage()

    def measure(self, data: str) -> dict[str, float]:
        rng = random.Random(self.seed)
        frames = {}
        times: dict[str, list[float]] = {k: [] for k in self.keys}
        build_s = 0.0
        parent_of: dict[tuple[str, str], int] = {}
        root = self.tracer.add("workload", time.time(), 0.0, None, workload=self.workload)
        self.counters_before()
        for p in range(PASSES):
            order = list(self.keys)
            rng.shuffle(order)
            for k in order:
                self.settle()
                # job groups, listener key and spans name the pass too
                label = f"{k}@{p}"
                if self.listener is not None:
                    self.listener.key = label
                self.attempted += 1
                try:
                    a = time.time()
                    p0 = time.perf_counter()
                    self.group(f"build:{label}")
                    df = self.reg[k].fn(self.spark, data)
                    p1 = time.perf_counter()
                    b = time.time()
                    self.group(f"exec:{label}")
                    df.write.format("noop").mode("overwrite").save()
                    p2 = time.perf_counter()
                    c = time.time()
                except Exception:
                    self.fail(f"{label}: {traceback.format_exc(limit=2)}")
                    continue
                frames[k] = df
                if not p:
                    self.first_pass[k] = p2 - p0
                    self.tracer.add("key", a, c, root, key=label, warmup=True)
                    continue
                times[k].append(p2 - p0)
                build_s += p1 - p0
                ks = self.tracer.add("key", a, c, root, key=label)
                parent_of[(label, "key")] = ks
                parent_of[(label, "build")] = self.tracer.add("build", a, b, ks)
                parent_of[(label, "exec")] = self.tracer.add("exec", b, c, ks)
        self.rss.pause()
        self.group("check")
        self.settle()
        self.counters_after()
        self.parent_of = parent_of
        self.tracer.spans[root].end = time.time()
        self.check(data, frames)
        self.layer["driver.build_s"] = build_s
        sys.stderr.write(
            "[perfbench] key_s (first pass, then the timed passes) "
            + json.dumps(
                {k: [round(v, 4) for v in [self.first_pass.get(k, 0.0), *vs]] for k, vs in times.items()}
            )
            + "\n"
        )
        per_key = [stats.median(vs) for vs in times.values() if vs]
        if len(per_key) < len(self.keys):
            raise RuntimeError("a key never ran")
        samples = [v for vs in times.values() for v in vs]
        return {
            "wall_s": sum(per_key),
            "latency_p50_s": stats.median(samples),
            "latency_tail_s": stats.percentile(samples, stats.tail_percentile(len(samples))),
        }

    def check(self, data: str, frames: dict) -> None:
        """Compare every measured key's output with its DuckDB oracle.
        Keys in SMALL_CHECK are checked on their own run over a small
        fixture instead, because their oracle is too slow at SCALE."""
        from datagen import write_tables
        from oracle import Oracle

        small = {}
        if any(k in SMALL_CHECK for k in frames):
            small_dir = os.path.join(self.work, "check_small")
            write_tables(small_dir, self.seed, SMALL_CHECK_SCALE, SMALL_CHECK_TEXT_ROWS)
            for k in frames:
                if k in SMALL_CHECK:
                    try:
                        small[k] = self.reg[k].fn(self.spark, small_dir)
                    except Exception:
                        self.fail(f"{k} on the small fixture: {traceback.format_exc(limit=2)}")
            self.compare(Oracle(small_dir), small)
        self.compare(Oracle(data), {k: df for k, df in frames.items() if k not in SMALL_CHECK})

    def compare(self, oracle, frames: dict) -> None:
        # The DuckDB side runs in a thread while Spark collects.
        with ThreadPoolExecutor(1) as pool:
            want = {k: pool.submit(oracle.expect, self.reg[k].sql) for k in frames}
            for k, df in frames.items():
                try:
                    rows = [tuple(r) for r in df.collect()]
                    problem = oracle.compare(want[k].result(), df.columns, rows)
                except Exception:
                    problem = traceback.format_exc(limit=2)
                if problem:
                    self.fail(f"{k}: {problem}")


#: Keys whose DuckDB oracle takes over a second at SCALE (brute-force
#: pairwise similarity in SQL); they are checked on a small fixture.
SMALL_CHECK = frozenset(
    {
        "dedup_minhash_recall_audit", "dedup_semantic_cc", "graph_pagerank",
        "sim_ann_lsh", "sim_ann_lsh_multiprobe", "sim_lsh_multiprobe_recall_audit",
        "sim_lsh_recall_audit_sampled", "sim_mmr_rerank",
    }
)
SMALL_CHECK_SCALE = 0.001
SMALL_CHECK_TEXT_ROWS = 120

class TweetStream(Bench):
    def warmup(self) -> None:
        """Run the pipeline once over a few tweet files, so the measured
        queries do not pay first-use code generation."""
        from twitter_hashtag_sentiment_analysis_spark.streaming.pipeline import start_pipeline

        from datagen import render_tweet_files, write_drop

        root = os.path.join(self.work, f"warm{time.monotonic_ns()}")
        os.makedirs(os.path.join(root, "in"))
        for i, (_ids, _langs, lines) in enumerate(render_tweet_files(0, 4, 50, -10**6)):
            write_drop(os.path.join(root, "in", f"w{i}.json"), lines, "2024-01-01T00:00:00.000Z")
        start_pipeline(
            self.spark, os.path.join(root, "in"), os.path.join(root, "out"),
            os.path.join(root, "ckpt"), available_now=True,
        ).awaitTermination()
        shutil.rmtree(root, ignore_errors=True)

    def generate(self, data: str) -> None:
        """Render the backlog; ``write_backlog`` writes it just before the
        drains. The live files are rendered by the generator process."""
        from datagen import render_tweet_files

        self.backlog = render_tweet_files(
            self.seed + 1, BACKLOG_FILES, TWEETS_PER_FILE, BACKLOG_FIRST_ID
        )

    def write_backlog(self) -> tuple[str, set[int]]:
        """Write the rendered backlog; returns its dir and its en tweet ids."""
        from datagen import write_drop

        backlog = os.path.join(self.work, "backlog")
        os.makedirs(backlog)
        now = dt.datetime.now(dt.timezone.utc).isoformat(timespec="milliseconds")
        en = set()
        for i, (ids, langs, lines) in enumerate(self.backlog):
            write_drop(os.path.join(backlog, f"tweets-{i:06d}.json"), lines, now)
            en.update(t for t, lg in zip(ids, langs) if lg == "en")
        return backlog, en

    def measure(self, data: str) -> dict[str, float]:
        from twitter_hashtag_sentiment_analysis_spark.streaming.observe import wait_until_active
        from twitter_hashtag_sentiment_analysis_spark.streaming.pipeline import start_pipeline

        spark = self.spark
        live_in = os.path.join(self.work, "live_in")
        live_out = os.path.join(self.work, "live_out")
        live_ckpt = os.path.join(self.work, "live_ckpt")
        manifest_path = os.path.join(self.work, "live_manifest.json")
        os.makedirs(live_in)
        parent_of: dict[tuple[str, str], int] = {}
        root = self.tracer.add("workload", time.time(), 0.0, None, workload=self.workload)
        self.counters_before()
        if self.listener is not None:
            self.listener.key = "live"
        a = time.time()
        p0 = time.perf_counter()
        self.group("build:live")
        q = start_pipeline(spark, live_in, live_out, live_ckpt, trigger_seconds=TRIGGER_SECONDS)
        build_s = time.perf_counter() - p0
        b = time.time()
        if not wait_until_active(q, timeout=60):
            raise RuntimeError(f"live query did not start: {q.exception()}")
        n_files = int(self.seconds * LIVE_FILES_PER_S)
        gen = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "tweetgen.py"),
                "--out", live_in, "--manifest", manifest_path, "--seed", str(self.seed),
                "--seconds", str(self.seconds), "--files-per-s", str(LIVE_FILES_PER_S),
                "--tweets-per-file", str(TWEETS_PER_FILE),
            ]
        )
        try:
            gen.wait(timeout=self.seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        with open(manifest_path) as f:
            manifest = json.load(f)
        self.wait_all_committed(live_ckpt, n_files, q)
        q.stop()
        c = time.time()
        ks = self.tracer.add("key", a, c, root, key="live")
        parent_of[("live", "key")] = ks
        parent_of[("live", "build")] = self.tracer.add("build", a, b, ks)
        self.group("check")
        self.rss.pause()
        fresh = self.check_live(live_in, live_out, manifest)
        # Inputs and outputs are written late and deleted as soon as they
        # are checked, before the kernel writes them back: on a filesystem
        # mounted with online discard, deleting written-back files keeps
        # the disk busy with discards, which slows every later run.
        for d in (live_in, live_out, live_ckpt):
            shutil.rmtree(d)

        drains = []
        backlog, en = self.write_backlog()
        want = self.expected(backlog)
        if self.ids(want) != en:
            self.fail("batch transform does not keep exactly the backlog's en tweets")
        self.rss.resume()
        size = os.path.getsize(os.path.join(backlog, "tweets-000000.json"))
        per_trigger = max(BUFFER_BYTES // size, 1)
        for i in range(BACKLOG_DRAINS):
            name = f"backlog{i}"
            if self.listener is not None:
                self.listener.key = name
            out = os.path.join(self.work, f"{name}_out")
            ckpt = os.path.join(self.work, f"{name}_ckpt")
            # keep the garbage of the previous drain and its check out of
            # this drain's time
            self.collect_garbage()
            a = time.time()
            p0 = time.perf_counter()
            self.group(f"build:{name}")
            bq = start_pipeline(
                spark, backlog, out, ckpt, available_now=True, max_files_per_trigger=per_trigger
            )
            p1 = time.perf_counter()
            b = time.time()
            if not bq.awaitTermination(120):
                bq.stop()
                raise RuntimeError(f"{name} did not finish in 120 s")
            drains.append(time.perf_counter() - p0)
            c = time.time()
            if i == 0:
                # the warm-up drain: no key span parent, so its jobs and
                # batches stay out of the per-layer metrics too
                self.tracer.add("key", a, c, root, key=name, warmup=True)
            else:
                build_s += p1 - p0
                ks = self.tracer.add("key", a, c, root, key=name)
                parent_of[(name, "key")] = ks
                parent_of[(name, "build")] = self.tracer.add("build", a, b, ks)
            self.group("check")
            self.rss.pause()
            self.attempted += 1
            self.check_output(want, out, f"backlog drain {i}")
            for d in (out, ckpt):
                shutil.rmtree(d)
            self.rss.resume()
        self.rss.pause()
        shutil.rmtree(backlog)
        self.counters_after()
        self.parent_of = parent_of
        self.tracer.spans[root].end = time.time()
        self.layer["driver.build_s"] = build_s
        sys.stderr.write(f"[perfbench] drains_s {json.dumps([round(d, 4) for d in drains])}\n")
        vals = list(fresh.values())
        tail = stats.tail_percentile(len(vals))
        if tail is None:
            raise RuntimeError(f"only {len(vals)} freshness samples")
        return {
            "wall_s": stats.median(drains[1:]),
            "latency_p50_s": stats.median(vals),
            "latency_tail_s": stats.percentile(vals, tail),
        }

    @staticmethod
    def wait_all_committed(ckpt: str, n_files: int, q, timeout: float = 60.0) -> None:
        """Block until committed micro-batches have read all n_files."""
        deadline = time.monotonic() + timeout
        src_log = os.path.join(ckpt, "sources", "0")
        commits = os.path.join(ckpt, "commits")
        while time.monotonic() < deadline:
            if q.exception() is not None:
                raise RuntimeError(f"live query failed: {q.exception()}")
            done = [int(n) for n in os.listdir(commits) if n.isdigit()] if os.path.isdir(commits) else []
            if done and os.path.isdir(src_log):
                last = max(done)
                listed = {
                    f for b, _t, files in stats.sink_log_batches(src_log) if b <= last for f in files
                }
                if len(listed) >= n_files:
                    return
            time.sleep(0.1)
        raise RuntimeError("live query did not commit every generated file in time")

    def read_output(self, out_dir: str):
        """The committed sink rows, in the columns ``expected`` gives."""
        from twitter_hashtag_sentiment_analysis_spark.functions.sentiment import SENTIMENT_SCHEMA
        from twitter_hashtag_sentiment_analysis_spark.streaming.pipeline import TWEET_SCHEMA

        from pyspark.sql import types as T

        schema = T.StructType(TWEET_SCHEMA.fields + SENTIMENT_SCHEMA.fields)
        return self.spark.read.schema(schema).json(out_dir).select(*schema.fieldNames())

    def expected(self, in_dir: str):
        """What the batch ``transform`` gives on the same input files."""
        from twitter_hashtag_sentiment_analysis_spark.functions.sentiment import SENTIMENT_SCHEMA
        from twitter_hashtag_sentiment_analysis_spark.streaming.pipeline import (
            TWEET_SCHEMA, transform,
        )

        cols = [f.name for f in TWEET_SCHEMA.fields + SENTIMENT_SCHEMA.fields]
        return transform(self.spark.read.schema(TWEET_SCHEMA).json(in_dir), "en", "").select(*cols)

    @staticmethod
    def ids(df) -> set[int]:
        return set(df.select("id").toArrow().column(0).to_pylist())

    def mismatched(self, want, got) -> set[int]:
        """Ids of tweets missing from ``got``, extra or duplicated in it,
        or scored differently. The comparison runs in Spark, so the
        driver's Python heap does not grow with the output."""
        return self.ids(want.exceptAll(got).union(got.exceptAll(want)))

    def check_output(self, want, out_dir: str, what: str) -> None:
        try:
            bad = self.mismatched(want, self.read_output(out_dir))
            if bad:
                self.fail(f"{what}: {len(bad)} tweets missing, extra, duplicated or mis-scored")
        except Exception:
            self.fail(f"{what}: {traceback.format_exc(limit=2)}")

    def check_live(self, live_in: str, live_out: str, manifest: list[dict]) -> dict[str, float]:
        """Exactly-once and sentiment checks per live file, and one
        freshness sample per file: from its due time to the commit of the
        sink batch whose metadata log first lists the part file holding
        its tweets."""
        self.attempted += len(manifest)
        late = stats.generator_lateness(
            [m["due"] for m in manifest], [m["written"] for m in manifest]
        )
        self.layer["pipeline.gen_late_s"] = late
        if late > MAX_GEN_LATE_S:
            self.fail(f"generator ran {late:.3f}s late; the open-loop schedule did not hold")
        en_file = {
            i: m["file"] for m in manifest for i, lg in zip(m["ids"], m["langs"]) if lg == "en"
        }
        try:
            want = self.expected(live_in)
            if self.ids(want) != set(en_file):
                self.fail("batch transform does not keep exactly the generated en tweets")
            bad = self.mismatched(want, self.read_output(live_out))
        except Exception:
            self.fail(f"live output: {traceback.format_exc(limit=2)}")
            return {}
        for f in sorted({en_file.get(i, "?") for i in bad}):
            self.fail(f"live file {f}: tweets missing, duplicated or mis-scored")
        batches = stats.sink_log_batches(os.path.join(live_out, "_spark_metadata"))
        part_batch = stats.first_listing(batches)
        commit = {b: t for b, t, _f in batches}
        paths = {f: os.path.join(r, f) for r, _d, fs in os.walk(live_out) for f in fs}
        tweet_part = {}
        for part in part_batch:
            with open(paths[part]) as fh:
                for line in fh:
                    tweet_part[json.loads(line)["id"]] = part
        due = {m["file"]: m["due"] for m in manifest}
        fresh = stats.file_freshness(due, en_file, tweet_part, part_batch, commit)
        file_batch = {en_file[t]: part_batch[p] for t, p in tweet_part.items()}
        self.layer["pipeline.backlog_files_max"] = stats.backlog_files_max(due, file_batch, commit)
        return fresh


WORKLOADS = {"operator_keys": OperatorKeys, "tweet_stream": TweetStream}
