"""Open-loop tweet generator: one process that writes pre-rendered NDJSON
drops on a fixed schedule that does not slow down when Spark does.

    python3 perfbench/tweetgen.py --out DIR --manifest FILE --seed N \
        --seconds S --files-per-s R --tweets-per-file T

All files are rendered before the schedule starts. File i is due at
``start + i / R``; each is written to a hidden temp name and renamed into
place, with ``created_at`` set to its due time. The manifest records every
file's due and actual write time and its tweet ids and languages.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from datagen import render_tweet_files, write_drop  # noqa: E402


def iso(t: float) -> str:
    """UTC ISO time at millisecond precision (Twitter's ``timestamp_ms``
    granularity, and what the JSON sink writes back)."""
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).isoformat(timespec="milliseconds")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--files-per-s", type=float, required=True)
    ap.add_argument("--tweets-per-file", type=int, required=True)
    ap.add_argument("--first-id", type=int, default=0)
    a = ap.parse_args()
    n = int(a.seconds * a.files_per_s)
    files = render_tweet_files(a.seed, n, a.tweets_per_file, a.first_id)
    start = time.time() + 0.2
    records = []
    for i, (ids, langs, lines) in enumerate(files):
        due = start + i / a.files_per_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"tweets-{i:06d}.json"
        write_drop(os.path.join(a.out, name), lines, iso(due))
        records.append(
            {"file": name, "due": due, "written": time.time(), "ids": ids, "langs": langs}
        )
    with open(a.manifest + ".tmp", "w") as f:
        json.dump(records, f)
    os.rename(a.manifest + ".tmp", a.manifest)


if __name__ == "__main__":
    main()
