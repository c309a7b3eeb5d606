"""The benchmark's workloads: inputs, timed operations and result checks.

A workload stages its seeded inputs into a directory, then exposes a list
of operations. Each operation is split into ``build`` (construct the
DataFrame on the driver) and ``run`` (execute it and collect the small
result), so the traced run can time the two apart; the untraced run times
them together. ``check`` compares one collected result per operation
against an answer computed without the engine.
"""

from __future__ import annotations

import math
import os
import random
from collections.abc import Callable
from dataclasses import dataclass

import gen


@dataclass
class Op:
    name: str
    build: Callable  # (spark) -> DataFrame
    items: int  # input items this op consumes, for the throughput metric


def canon(cols, rows):
    """Order-insensitive canonical form of a result: columns sorted by
    name, floats rounded, rows sorted (the engine's oracle-test idiom)."""
    order = sorted(range(len(cols)), key=lambda i: (cols[i].lower(), cols[i], i))
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else (0.0 if v == 0 else round(v, 9))
            vals.append(v)
        out.append(repr(tuple(vals)))
    return sorted(out)


class TweetsBatch:
    """The paper's questions q1, q3, q4, q5 and q6 over a generated tweet
    JSONL corpus read with a declared schema."""

    name = "tweets_batch"
    item = "tweets"

    def __init__(self, cfg: dict, seed: int):
        self.cfg = cfg
        self.seed = seed
        self.lines, self.expected = gen.tweets(cfg["n_tweets"], seed)
        self.schema = gen.tweet_schema()
        self.path = None

    def stage(self, spark, root: str) -> None:
        from big_data_analysis_of_twitter_emoji_usage_spark.sources.ingest import (
            RollingJsonlWriter,
        )

        self.path = os.path.join(root, "tweets")
        RollingJsonlWriter(self.path, self.cfg["lines_per_file"]).drain(self.lines)

    def ops(self) -> list[Op]:
        from big_data_analysis_of_twitter_emoji_usage_spark.plans import queries as Q
        from big_data_analysis_of_twitter_emoji_usage_spark.sources.readers import (
            read_tweets,
        )

        n = self.cfg["n_tweets"]

        def q(fn):
            return lambda spark: fn(read_tweets(spark, self.path, self.schema))

        return [
            Op("q1", q(Q.top_emojis), n),
            Op("q3", q(Q.emoji_word_counts), n),
            Op("q4", q(lambda df: Q.emoji_by_dimension(df, "username")), n),
            Op("q5", q(lambda df: Q.emoji_by_dimension(df, "category")), n),
            Op("q6", q(lambda df: Q.emoji_by_dimension(df, "country")), n),
        ]

    def order(self, round_no: int) -> list[int]:
        return list(range(5))

    def check(self, name: str, cols, rows) -> str | None:
        exp = self.expected[name]
        if name == "q3":
            (e, w, ratio), = [tuple(r) for r in rows]
            ok = (e, w) == exp and abs(ratio - exp[0] / exp[1]) < 1e-12
            return None if ok else f"q3 {(e, w)} != {exp}"
        if name == "q1":
            got = {r[0]: r[1] for r in rows}
            counts = [r[1] for r in rows]
            if counts != sorted(counts, reverse=True):
                return "q1 not sorted by count"
        else:
            got = {(r[0], r[1]): r[2] for r in rows}
        if got != exp:
            diff = set(got.items()) ^ set(exp.items())
            return f"{name}: {len(diff)} differing entries, e.g. {sorted(diff, key=repr)[:2]}"
        return None


class CatalogFloor:
    """A fixed list of sub-second catalog queries over regenerated fixture
    tables; the seed sets the tables' contents and each round's order."""

    name = "catalog_floor"
    item = "queries"

    def __init__(self, cfg: dict, seed: int):
        self.cfg = cfg
        self.seed = seed
        self.sf = None

    def stage(self, spark, root: str) -> None:
        self.sf = os.path.join(root, "sf")
        gen.catalog_tables(self.sf, self.seed, self.cfg["scale"])

    def ops(self) -> list[Op]:
        from big_data_analysis_of_twitter_emoji_usage_spark.plans import catalog

        return [
            Op(n, (lambda q: lambda spark: q(spark, self.sf))(catalog.QUERIES[n]), 1)
            for n in self.cfg["queries"]
        ]

    def order(self, round_no: int) -> list[int]:
        idx = list(range(len(self.cfg["queries"])))
        random.Random(f"{self.seed}:{round_no}").shuffle(idx)
        return idx

    def check(self, name: str, cols, rows) -> str | None:
        import duckdb

        from big_data_analysis_of_twitter_emoji_usage_spark.plans import catalog

        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf):
                if t.endswith(".parquet"):
                    p = os.path.join(self.sf, t)
                    con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{p}'")
            rel = con.sql(catalog.ORACLE_SQL[name])
            d_cols, d_rows = rel.columns, rel.fetchall()
        finally:
            con.close()
        if sorted(map(str.lower, cols)) != sorted(map(str.lower, d_cols)):
            return f"{name}: columns {cols} != {d_cols}"
        if len(rows) != len(d_rows):
            return f"{name}: {len(rows)} rows != {len(d_rows)}"
        a, b = canon(cols, rows), canon(d_cols, d_rows)
        bad = [(x, y) for x, y in zip(a, b) if x != y]
        return f"{name}: first diffs {bad[:2]}" if bad else None


WORKLOADS = {w.name: w for w in (TweetsBatch, CatalogFloor)}
