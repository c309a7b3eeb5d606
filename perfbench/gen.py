"""Seeded input generators for the benchmark's workloads and probes.

Every generator is a pure function of its seed and size: the same seed
gives byte-identical inputs. The engine only ever sees the generated
files; the expected answers the correctness gate needs are computed here,
from the generator's own bookkeeping, never from the engine.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Single code points from the three ranges the emoji kernel matches
# (U+1F300-1F5FF, U+1F600-1F64F, U+1F900-1F9FF).
EMOJI_POOL = (
    [chr(0x1F300 + i * 7) for i in range(24)]
    + [chr(0x1F600 + i * 3) for i in range(20)]
    + [chr(0x1F900 + i * 11) for i in range(16)]
)
# Plain ASCII words: every one survives the q3 word tokenizer.
WORD_POOL = [
    "the", "spark", "data", "big", "emoji", "tweet", "stream", "query",
    "fast", "slow", "happy", "sad", "love", "game", "news", "music",
    "don't", "RT", "hello42", "world", "today", "night", "team", "win",
    "lol", "omg", "it's", "new", "best", "day", "go", "now",
]
USERNAMES = [f"user{i:02d}" for i in range(40)]
CATEGORIES = [
    "Musician", "Person", "Sports", "TV Shows", "Politician", "Brand",
    "Video Game", "Movie", "Book", "Place",
]
COUNTRIES = [
    "Brazil", "United States", "Japan", "India", "France", "Mexico",
    "Nigeria", "Germany", "Canada", "Turkey", "Spain", "Italy", "Kenya",
    "Chile", "Korea", "Egypt",
]


# --------------------------------------------------------------------------
# tweets_batch


def _tweet_text(rng: random.Random) -> tuple[str, list[str], int]:
    """One tweet text plus the emoji the kernel must extract, in order,
    and the number of words the q3 tokenizer must keep."""
    words = [rng.choice(WORD_POOL) for _ in range(rng.randint(4, 16))]
    parts: list[str] = list(words)
    emojis: list[str] = []
    if rng.random() < 0.7:
        for _ in range(rng.randint(1, 4)):
            e = rng.choice(EMOJI_POOL)
            pos = rng.randrange(len(parts) + 1)
            parts.insert(pos, e)
        if rng.random() < 0.3:  # an unseparated run splits into its parts
            parts.append("".join(rng.choice(EMOJI_POOL) for _ in range(rng.randint(2, 3))))
        emojis = [ch for p in parts for ch in p if ch in _EMOJI_SET]
    return " ".join(parts), emojis, len(words)


_EMOJI_SET = frozenset(EMOJI_POOL)


def tweets(n: int, seed: int) -> tuple[list[str], dict]:
    """``n`` tweet records (JSON lines) of one combined shape carrying the
    mentions, context-annotation and geo expansions, plus the expected
    answers of q1, q3, q4, q5 and q6 computed from the generator."""
    import json

    rng = random.Random(seed)
    lines: list[str] = []
    q1: Counter = Counter()
    q4: Counter = Counter()
    q5: Counter = Counter()
    q6: Counter = Counter()
    n_emoji = n_words = 0
    for i in range(n):
        text, emojis, words = _tweet_text(rng)
        n_emoji += len(emojis)
        n_words += words
        q1.update(emojis)
        k = rng.choice((0, 0, 1, 1, 2, 3))
        mentions = [rng.choice(USERNAMES) for _ in range(k)]
        cats = [rng.choice(CATEGORIES) for _ in range(rng.choice((0, 1, 1, 2)))]
        country = rng.choice(COUNTRIES) if rng.random() < 0.4 else None
        # Some mention-bearing tweets lose their expansion block, which
        # the q4 null guard must drop.
        keep_users = bool(mentions) and rng.random() > 0.1
        includes = {}
        if keep_users:
            includes["users"] = [{"id": str(j), "username": u} for j, u in enumerate(mentions)]
        if country is not None:
            includes["places"] = [{"id": f"p{i}", "country": country}]
        data = {
            "id": str(i),
            "text": text,
            "entities": {"mentions": [{"username": u} for u in mentions]} if mentions else None,
            "context_annotations": (
                [{"domain": {"id": str(j), "name": c}} for j, c in enumerate(cats)]
                if cats else None
            ),
            "geo": {"place_id": f"p{i}"} if country is not None else None,
        }
        lines.append(json.dumps({"data": data, "includes": includes or None}, ensure_ascii=False))
        if includes and mentions:
            q4.update((u, e) for u in mentions for e in emojis)
        q5.update((c, e) for c in cats for e in emojis)
        if country is not None:
            q6.update((country, e) for e in emojis)
    expected = {
        "q1": dict(q1),
        "q3": (n_emoji, n_words),
        "q4": dict(q4),
        "q5": dict(q5),
        "q6": dict(q6),
    }
    return lines, expected


def tweet_schema():
    """Declared schema of the combined tweet shape (the union of the
    package's mentions, categories and geo shapes)."""
    from pyspark.sql import types as T

    s = T.StringType()
    arr = lambda *fs: T.ArrayType(T.StructType([T.StructField(f, t) for f, t in fs]))  # noqa: E731
    data = T.StructType([
        T.StructField("id", s),
        T.StructField("text", s),
        T.StructField("entities", T.StructType([T.StructField("mentions", arr(("username", s)))])),
        T.StructField(
            "context_annotations",
            arr(("domain", T.StructType([T.StructField("id", s), T.StructField("name", s)]))),
        ),
        T.StructField("geo", T.StructType([T.StructField("place_id", s)])),
    ])
    includes = T.StructType([
        T.StructField("users", arr(("id", s), ("username", s))),
        T.StructField("places", arr(("id", s), ("country", s))),
    ])
    return T.StructType([T.StructField("data", data), T.StructField("includes", includes)])


# --------------------------------------------------------------------------
# catalog_floor: the fixture tables' schemas and value domains, regenerated


DOC_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _ts_days(rng, start: str, days: int, n: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n: int, vocab, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(vocab), int(lens.sum()))
    out, p = [], 0
    for ln in lens:
        out.append(" ".join(vocab[j] for j in idx[p:p + ln]))
        p += ln
    return out


def documents_table(rng, n: int, dup_share: float) -> pa.Table:
    """Documents with ``dup_share`` of them near-copies of an earlier one
    (a few words changed), so MinHash-LSH finds pairs at Jaccard >= 0.2."""
    texts = _doc_texts(rng, n, DOC_VOCAB, 8, 60)
    n_dup = int(n * dup_share)
    for i in rng.choice(np.arange(1, n), size=n_dup, replace=False):
        src = texts[int(rng.integers(0, i))].split(" ")
        for _ in range(int(rng.integers(0, 3))):
            src[int(rng.integers(0, len(src)))] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
        texts[i] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def catalog_tables(out_dir: str, seed: int, scale: float) -> dict[str, str]:
    """Write the relational fixture tables (one single-row-group parquet
    file each, as the engine's fixtures are) at ``scale`` (1.0 = the
    sf0.1 row counts) and return {table: path}."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(15000 * scale), max(10, int(1000 * scale)), int(20000 * scale)
    n_ord, n_line, n_ev, n_doc = int(150000 * scale), int(600000 * scale), int(100000 * scale), int(5000 * scale)
    cat = lambda pool, n: pa.array([pool[j] for j in rng.integers(0, len(pool), n)], pa.string())  # noqa: E731
    t = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999, 9999, n_cust)),
            "c_mktsegment": cat(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999, 9999, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
                rng.integers(0, len(P_ADJ), n_part), rng.integers(0, len(P_NOUN), n_part))]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": cat(P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": cat(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
            "o_orderdate": pa.array(_ts_days(rng, "1995-01-01", 2404, n_ord)),
            "o_orderpriority": cat(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_line) * 0.01, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_line) * 0.01, 2)),
            "l_returnflag": cat(["A", "N", "R"], n_line),
            "l_linestatus": cat(["F", "O"], n_line),
            "l_shipdate": pa.array(_ts_days(rng, "1995-01-02", 2498, n_line)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.sort(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))),
            "user_id": pa.array(rng.integers(0, max(50, n_ev // 66), n_ev), pa.int64()),
            "event_type": cat(EVENT_TYPES, n_ev),
            "value": pa.array(_money(rng, 0, 560, n_ev)),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]),
        }),
        "documents": documents_table(rng, n_doc, 0.05),
    }
    paths = {}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, p, row_group_size=max(1, table.num_rows))
        paths[name] = p
    return paths


# --------------------------------------------------------------------------
# the traced run's near-dedup probes


def dedup_corpus(out_dir: str, seed: int, n_docs: int, n_files: int, dup_share: float) -> pa.Table:
    """A document corpus with a seeded near-duplicate share, staged as
    ``n_files`` ascending-doc_id parquet files with sequenced mtimes (the
    ordered-arrival contract of the streaming dedup drive). Returns the
    whole corpus as one table."""
    rng = np.random.default_rng(seed)
    t = documents_table(rng, n_docs, dup_share).select(["doc_id", "text", "source"])
    os.makedirs(out_dir, exist_ok=True)
    chunk = (n_docs + n_files - 1) // n_files
    base_mtime = 1_700_000_000
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(t.slice(i * chunk, chunk), p)
        os.utime(p, (base_mtime + i * 10, base_mtime + i * 10))
    return t
