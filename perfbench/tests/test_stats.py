"""Tests of the benchmark's own arithmetic: the tail-percentile rule,
freshness attribution across compacted sink logs, generator lateness and
backlog depth."""

import json
import os

import pytest

import stats


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected
    if expected is not None:
        assert stats.samples_beyond(n, expected) >= stats.MIN_BEYOND


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 75) == pytest.approx(3.25)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def _write_log(meta, name, parts, mtime):
    path = os.path.join(meta, name)
    with open(path, "w") as f:
        f.write("v1\n")
        for p in parts:
            f.write(json.dumps({"path": f"file:///out/ingest_date=2024-01-01/{p}",
                                "size": 1, "isDir": False, "action": "add"}) + "\n")
    os.utime(path, (mtime, mtime))


def test_compacted_log_does_not_claim_earlier_files(tmp_path):
    meta = str(tmp_path)
    # batches 0..8 each add one part file; batch 9 is a compaction that
    # lists all ten files again; batch 10 is a plain log again
    for b in range(9):
        _write_log(meta, str(b), [f"part-{b}.json"], 1000 + b)
    _write_log(meta, "9.compact", [f"part-{b}.json" for b in range(10)], 1009)
    _write_log(meta, "10", ["part-10.json"], 1010)
    batches = stats.sink_log_batches(meta)
    assert [b for b, _t, _f in batches] == list(range(11))
    owner = stats.first_listing(batches)
    assert owner == {f"part-{b}.json": b for b in range(11)}
    commit = {b: t for b, t, _f in batches}
    assert commit[9] == 1009

    due = {"in-a": 1002.5, "in-b": 1008.25}
    tweet_file = {1: "in-a", 2: "in-a", 3: "in-b"}
    tweet_part = {1: "part-3.json", 2: "part-3.json", 3: "part-9.json"}
    fresh = stats.file_freshness(due, tweet_file, tweet_part, owner, commit)
    assert fresh == {"in-a": pytest.approx(0.5), "in-b": pytest.approx(0.75)}


def test_freshness_rejects_a_file_split_across_batches():
    with pytest.raises(AssertionError):
        stats.file_freshness(
            {"in": 0.0}, {1: "in", 2: "in"}, {1: "p0", 2: "p1"}, {"p0": 0, "p1": 1},
            {0: 1.0, 1: 2.0},
        )


def test_generator_lateness():
    assert stats.generator_lateness([0.0, 1.0], [0.001, 1.0]) == pytest.approx(0.001)
    assert stats.generator_lateness([0.0, 1.0], [0.0, 1.25]) == pytest.approx(0.25)
    # writing early is not lateness
    assert stats.generator_lateness([5.0], [4.0]) == 0.0
    with pytest.raises(ValueError):
        stats.generator_lateness([0.0], [])


def test_backlog_files_max_counts_files_due_but_not_committed():
    due = {"f0": 0.1, "f1": 0.6, "f2": 1.2, "f3": 1.7}
    # batch 0 commits at 1.0 with f0 only (f1 was due but missed it);
    # batch 1 commits at 2.0 with the rest
    file_batch = {"f0": 0, "f1": 1, "f2": 1, "f3": 1}
    assert stats.backlog_files_max(due, file_batch, {0: 1.0, 1: 2.0}) == 1
    assert stats.backlog_files_max(due, {f: 0 for f in due}, {0: 2.0}) == 0


def test_benchmark_json_matches_the_runner():
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
