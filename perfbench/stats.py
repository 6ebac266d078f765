"""Pure helpers for the benchmark's statistics: percentiles and the
tail-sample rule, freshness attribution from the file sink's metadata
log, open-loop generator lateness, and backlog depth."""

from __future__ import annotations

import json
import os

#: Percentiles a timing may be reported at, lowest first.
PERCENTILES = (50, 75, 90, 95, 99)
#: A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the p-th percentile of n samples."""
    return int(n * (100 - p) / 100 + 1e-9)


def tail_percentile(n: int) -> int | None:
    """Highest percentile of ``PERCENTILES`` that has at least
    ``MIN_BEYOND`` samples beyond it, or None if even the median has not."""
    ok = [p for p in PERCENTILES if samples_beyond(n, p) >= MIN_BEYOND]
    return ok[-1] if ok else None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def sink_log_batches(meta_dir: str) -> list[tuple[int, float, list[str]]]:
    """Read a file sink's ``_spark_metadata`` log: one
    ``(batch_id, commit_time, part_file_names)`` per log file, in batch
    order. Every tenth batch is a ``<id>.compact`` file that lists all
    earlier files again; the commit time is the log file's mtime."""
    out = []
    for name in os.listdir(meta_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        path = os.path.join(meta_dir, name)
        files = []
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    if rec.get("action", "add") == "add":
                        files.append(os.path.basename(rec["path"]))
        out.append((int(stem), os.stat(path).st_mtime_ns / 1e9, files))
    out.sort()
    return out


def first_listing(batches: list[tuple[int, float, list[str]]]) -> dict[str, int]:
    """Map each part file to the first batch whose log lists it, so a
    compacted log that lists earlier files again does not claim them."""
    owner: dict[str, int] = {}
    for batch_id, _t, files in batches:
        for f in files:
            owner.setdefault(f, batch_id)
    return owner


def file_freshness(
    due: dict[str, float],
    tweet_file: dict[int, str],
    tweet_part: dict[int, str],
    part_batch: dict[str, int],
    batch_commit: dict[int, float],
) -> dict[str, float]:
    """Seconds from each input file's due time to the commit of the sink
    batch that holds its tweets: one sample per input file that produced
    output. Raises if one input file's tweets span several batches."""
    file_batch: dict[str, int] = {}
    for tid, part in tweet_part.items():
        src = tweet_file[tid]
        b = part_batch[part]
        if file_batch.setdefault(src, b) != b:
            raise AssertionError(f"input file {src} split across batches")
    return {src: batch_commit[b] - due[src] for src, b in file_batch.items()}


def generator_lateness(due: list[float], actual: list[float]) -> float:
    """How late the open-loop generator ran: the largest delay of an
    actual write after its due time (0 if never late)."""
    return max([a - d for d, a in zip(due, actual, strict=True)] + [0.0])


def backlog_files_max(
    due: dict[str, float], file_batch: dict[str, int], batch_commit: dict[int, float]
) -> int:
    """Largest number of input files that were due before some batch
    committed but were only committed by a later batch: how far the
    live stream fell behind its open-loop schedule."""
    worst = 0
    for b, t in batch_commit.items():
        worst = max(
            worst,
            sum(1 for f, d in due.items() if d <= t and file_batch.get(f, -1) > b),
        )
    return worst
