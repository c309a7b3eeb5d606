"""The driver's correctness gate calls ``queries()[name](spark, sf)`` with
its OWN SparkSession — built with none of ``get_spark``'s configs. Round 1
shipped 13 queries that silently depended on builder-time confs
(``spark.sql.legacy.parquet.nanosAsLong``, session timezone) and all died
with PARQUET_TYPE_ILLEGAL under the harness session.

These tests reproduce that exact failure mode: strip the result-affecting
dynamic confs from the live session (equivalent to a bare
``SparkSession.builder.getOrCreate()`` — same JVM, same missing confs) and
assert every events-touching query class still runs, because the engine's
read paths (core.load_table / core.read_parquet_schema, both through
core.parquet_schema, which pins before it takes its memo key) re-pin what
they need at call time.
"""

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_twitter_emoji_usage_spark.core import _PINNED_CONFS
from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import QUERIES


@pytest.fixture()
def bare_confs(spark):
    """Strip every engine-pinned dynamic conf, restoring it after."""
    saved = {}
    for key in _PINNED_CONFS:
        saved[key] = spark.conf.get(key, None)
        spark.conf.unset(key)
    yield spark
    for key, val in saved.items():
        if val is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, val)


def test_events_read_wrong_without_pinning(bare_confs, sf_dir):
    """Sanity: the failure mode is real — a raw read on the stripped
    session surfaces `ts` as a type the engine's time semantics reject.
    With the current un-adjusted-micros fixture that is TIMESTAMP_NTZ
    (``withWatermark`` raises EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on it);
    a nanos-encoded fixture would instead die with PARQUET_TYPE_ILLEGAL.
    Either way the raw dtype must differ from the engine's `timestamp` —
    proving the pinned confs are load-bearing, not decorative."""
    raw = bare_confs.read.parquet(f"{sf_dir}/events.parquet")
    assert dict(raw.dtypes)["ts"] == "timestamp_ntz"


@pytest.mark.parametrize(
    "name",
    [
        "q7_events_early",          # batch load_events
        "window_running_value",     # analytic window over events
        "sessionize_events",        # session_window (time semantics)
        "stream_windowed_events",   # streaming schema probe + watermark
        "funnel_events",            # r2: chained windows over events
        "cohort_retention_events",  # r2: date_trunc/date_format (tz!)
        "salted_agg_events",        # r2: decimal sums over events
    ],
)
def test_events_queries_self_sufficient(bare_confs, sf_dir, name):
    df = QUERIES[name](bare_confs, sf_dir)
    assert df.count() > 0


def test_timezone_pinned_for_timestamp_rendering(bare_confs, sf_dir):
    """date_format output must not depend on the caller's JVM/session
    zone: after a load the session zone is UTC regardless of what the
    harness set (the oracle's timestamps are UTC-naive)."""
    bare_confs.conf.set("spark.sql.session.timeZone", "America/New_York")
    df = QUERIES["pivot_events_by_day"](bare_confs, sf_dir)
    assert df.count() > 0
    assert bare_confs.conf.get("spark.sql.session.timeZone") == "UTC"
    # and the rendered days really are the UTC days
    days = [r["day"] for r in df.select("day").collect()]
    import duckdb

    expected = [
        r[0]
        for r in duckdb.sql(
            "SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d')"
            f" FROM '{sf_dir}/events.parquet' ORDER BY 1"
        ).fetchall()
    ]
    assert sorted(days) == expected


def test_spread_probe_is_cached(spark, sf_dir):
    """The load path must not pay a plan->RDD conversion per query: the
    scan-partition probe is memoized per file set."""
    from big_data_analysis_of_twitter_emoji_usage_spark import core

    core._SCAN_PARTITIONS_CACHE.clear()
    core.load_table(spark, sf_dir, "documents")
    assert len(core._SCAN_PARTITIONS_CACHE) == 1
    core.load_table(spark, sf_dir, "documents")
    assert len(core._SCAN_PARTITIONS_CACHE) == 1  # hit, not a re-probe


def test_memoized_schema_survives_bare_session(spark, sf_dir, request):
    """A schema memoized on the pinned session is not served against a
    stripped one: the load re-pins before the memo key is taken, so
    ``ts`` still arrives as ``timestamp``."""
    from big_data_analysis_of_twitter_emoji_usage_spark.core import load_events

    assert dict(load_events(spark, sf_dir).dtypes)["ts"] == "timestamp"
    bare = request.getfixturevalue("bare_confs")
    raw = bare.read.parquet(f"{sf_dir}/events.parquet")
    assert dict(raw.dtypes)["ts"] == "timestamp_ntz"  # really stripped
    assert dict(load_events(bare, sf_dir).dtypes)["ts"] == "timestamp"
