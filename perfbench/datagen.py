"""Seeded input generators.

``write_tables`` writes the ten fixture tables the operator registry
reads (same names, columns and parquet types as the fixture schema in
FIXTURES.md) at a given scale factor. ``render_tweet_files`` renders
NDJSON tweet drops for the streaming workload. Both are pure functions
of their seed: the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from twitter_hashtag_sentiment_analysis_spark.functions.sentiment import (
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
)

#: Vocabulary of the fixture documents. Five sentiment-lexicon words
#: (fast/small/spark, slow/big) are part of it; the sixth, ``dup``, ends
#: every near-duplicate document.
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

#: Tweet filler words, none of them in the sentiment lexicon.
FILLER_WORDS = (
    "today just new time people day love world great check watch live "
    "game news update open city night team"
).split()
LEXICON_WORDS = POSITIVE_WORDS + NEGATIVE_WORDS
TWEET_LANGS = ("de", "fr", "es", "ja", "pt")

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tables(rng: np.random.Generator, sf: float, min_text_rows: int) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = max(int(6_000_000 * sf), 2000)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(n_cust // 10, 10)
    n_docs = max(int(50_000 * sf), min_text_rows)
    n_emb = max(int(20_000 * sf), min_text_rows)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = np.array(["hot", "cold", "old", "new", "red", "blue", "small", "large"])
    noun = np.array(["bolt", "gear", "plate", "ring", "rod", "anvil", "widget", "nut"])
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                noun[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": ptype[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odays = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": status[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _ts(_EPOCH_1995, odays * _DAY_US),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    l_ord = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["F", "O"])
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ord, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": flags[rng.integers(0, 3, n_line)],
            "l_linestatus": lstat[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(
                _EPOCH_1995, (odays[l_ord] + rng.integers(1, 122, n_line)) * _DAY_US
            ),
        }
    )
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EPOCH_2024, ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": etypes[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; about 5% are near-duplicates of an earlier
    document (its text plus a trailing ``dup``) and 0.2% exact copies."""
    words = np.array(DOC_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, min_text_rows: int = 500) -> int:
    """Write every fixture table as ``<out_dir>/<name>.parquet``;
    returns the total row count. ``documents`` and ``embeddings`` have at
    least ``min_text_rows`` rows (500, as in the sf0.01 fixtures)."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, tbl in _tables(np.random.default_rng(seed), sf, min_text_rows).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows += tbl.num_rows
    return rows


def render_tweet_files(
    seed: int, n_files: int, tweets_per_file: int, first_id: int = 0
) -> list[tuple[list[int], list[str], list[str]]]:
    """Pre-render ``n_files`` tweet drops: per file, the tweet ids, their
    languages, and the NDJSON lines with ``created_at`` left as a
    ``{ts}`` placeholder the writer fills with the file's due time.
    Texts have 6-19 words, a quarter of them sentiment-lexicon words, the
    rest filler; about 30% of tweets are not ``en``."""
    rng = np.random.default_rng(seed)
    n = n_files * tweets_per_file
    max_words = 19
    lengths = rng.integers(6, max_words + 1, n)
    words = np.where(
        rng.random((n, max_words)) < 0.25,
        np.array(LEXICON_WORDS)[rng.integers(0, len(LEXICON_WORDS), (n, max_words))],
        np.array(FILLER_WORDS)[rng.integers(0, len(FILLER_WORDS), (n, max_words))],
    ).tolist()
    langs = np.where(
        rng.random(n) < 0.3, np.array(TWEET_LANGS)[rng.integers(0, len(TWEET_LANGS), n)], "en"
    ).tolist()
    out = []
    for f in range(n_files):
        lo = f * tweets_per_file
        ids = list(range(first_id + lo, first_id + lo + tweets_per_file))
        lines = [
            f'{{"id": {first_id + i}, "text": "{" ".join(words[i][: lengths[i]])}", '
            f'"lang": "{langs[i]}", "created_at": "{{ts}}"}}'
            for i in range(lo, lo + tweets_per_file)
        ]
        out.append((ids, langs[lo : lo + tweets_per_file], lines))
    return out


def write_drop(path: str, lines: list[str], created_at: str) -> None:
    """Write one NDJSON drop under a temporary name, then rename it into
    place so the file source never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(ln.replace("{ts}", created_at) for ln in lines))
        f.write("\n")
    os.rename(tmp, path)
