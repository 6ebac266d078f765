"""The open-loop generator and the seeded inputs."""

import datetime as dt
import json
import os
import subprocess
import sys

import pytest

import datagen
import stats

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_generator_keeps_its_schedule(tmp_path):
    out = tmp_path / "in"
    out.mkdir()
    manifest = tmp_path / "m.json"
    subprocess.run(
        [sys.executable, os.path.join(HERE, "tweetgen.py"), "--out", str(out),
         "--manifest", str(manifest), "--seed", "3", "--seconds", "1",
         "--files-per-s", "20", "--tweets-per-file", "10"],
        check=True, timeout=60,
    )
    recs = json.loads(manifest.read_text())
    assert len(recs) == 20
    dues = [r["due"] for r in recs]
    assert all(b - a == pytest.approx(0.05, abs=1e-6) for a, b in zip(dues, dues[1:]))
    assert stats.generator_lateness(dues, [r["written"] for r in recs]) < 0.5
    # no temp files left, every file complete, created_at = due time (ms)
    assert sorted(os.listdir(out)) == sorted(r["file"] for r in recs)
    first = [json.loads(line) for line in (out / recs[0]["file"]).read_text().splitlines()]
    assert [t["id"] for t in first] == recs[0]["ids"]
    ts = dt.datetime.fromisoformat(first[0]["created_at"]).timestamp()
    assert abs(ts - recs[0]["due"]) < 0.001


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = datagen.render_tweet_files(7, 3, 50)
    assert a == datagen.render_tweet_files(7, 3, 50)
    assert a != datagen.render_tweet_files(8, 3, 50)
    langs = [lg for _ids, ls, _l in datagen.render_tweet_files(7, 40, 50) for lg in ls]
    assert 0.25 < 1 - langs.count("en") / len(langs) < 0.35
    datagen.write_tables(str(tmp_path / "a"), 5, 0.001)
    datagen.write_tables(str(tmp_path / "b"), 5, 0.001)
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
