"""Relational extension operators the reference lacks (SURVEY §2.7):
as-of join, range (interval) join, and sessionization.

The reference correlates dimensions with explode cross-products and has
zero joins; a complete analytics engine needs the time-series join
shapes too. Both operators here are one-shuffle designs:

- ``asof_join``: the classic "latest right row at or before the left
  timestamp" join. Implemented as union → window carry-forward, NOT as a
  range join: a range-condition join explodes to |left| × |right-in-range|
  intermediate rows, while the union form shuffles each row exactly once
  on the join key and resolves the as-of match with a running
  ``last(..., ignorenulls)`` inside the partition. This is the standard
  scalable shape for point-in-time joins on Spark.
- ``sessionize``: native ``F.session_window`` gap sessionization —
  Spark's built-in session operator (works on batch and, with a
  watermark, on streams with state cleanup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    tolerance: int | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts`` <= ``left_ts`` for the same ``key`` (DuckDB/pandas
    ``ASOF JOIN`` semantics; unmatched left rows keep nulls).

    ``tolerance`` (optional): when set, a match more than ``tolerance``
    older than the left timestamp is discarded — the left row keeps
    nulls, pandas ``merge_asof(tolerance=...)`` semantics. Implemented
    as a second running-``last`` (the matched timestamp) over the SAME
    window frame, so the bound costs no extra shuffle. Previously this
    parameter was accepted and silently ignored (unbounded lookback) —
    an API lie; it is now honored. Units follow the ts columns' type
    (r9): timestamp/date columns interpret ``tolerance`` as SECONDS
    (interval arithmetic); numeric ts columns (epoch seconds, sequence
    numbers — accepted by the tolerance=None path all along) compare by
    plain subtraction, so ``tolerance`` is in the column's own unit.

    ONE shuffle total: the union is hash-partitioned on the key once and
    the window resolves the match in-partition. Determinism under
    duplicate right timestamps comes from the window *order* — right
    rows sort by (ts, side=0, first-payload-column), so the running
    ``last`` picks the max first-payload value among ties, the same row
    ``max_by`` would pick (and the same the DuckDB oracle's ``arg_max``
    picks). An earlier revision pre-aggregated the right side to one row
    per (key, ts) first, which cost a second full shuffle of the right
    stream for no semantic gain (timestamps are near-unique, so the
    map-side partial agg shrank nothing). Right rows sort before left
    rows at equal timestamps (side 0 < 1), so exact-timestamp matches
    are taken (inclusive as-of).
    """
    left_cols = left.columns
    payload_struct = F.struct(*[F.col(c) for c in right_payload])
    lrow_type = left.select(
        F.struct(*[F.col(c) for c in left_cols]).alias("_lrow")
    ).schema["_lrow"].dataType
    tie_type = right.schema[right_payload[0]].dataType
    r1 = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(right_payload[0]).cast(tie_type).alias("_tie"),
        F.lit(None).cast(lrow_type).alias("_lrow"),
        payload_struct.alias("_payload"),
    )
    l1 = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(tie_type).alias("_tie"),
        F.struct(*[F.col(c) for c in left_cols]).alias("_lrow"),
        F.lit(None).cast(r1.schema["_payload"].dataType).alias("_payload"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", "_tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = r1.unionByName(l1).withColumn(
        "_match", F.last("_payload", ignorenulls=True).over(w)
    )
    if tolerance is None:
        return carried.filter(F.col("_side") == 1).select(
            *[F.col("_lrow")[c].alias(c) for c in left_cols],
            *[F.col("_match")[c].alias(c) for c in right_payload],
        )
    carried = carried.withColumn(
        "_mts",
        F.last(
            F.when(F.col("_side") == 0, F.col("_ts")), ignorenulls=True
        ).over(w),
    )
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    if isinstance(
        right.schema[right_ts].dataType,
        (TimestampType, TimestampNTZType, DateType),
    ):
        within = F.col("_mts") + F.expr(
            f"INTERVAL {int(tolerance)} seconds"
        ) >= F.col("_ts")
    else:
        # numeric/epoch ts columns: interval arithmetic would fail at
        # analysis time — plain subtraction in the column's own unit
        within = F.col("_ts") - F.col("_mts") <= F.lit(int(tolerance))
    return carried.filter(F.col("_side") == 1).select(
        *[F.col("_lrow")[c].alias(c) for c in left_cols],
        *[F.when(within, F.col("_match")[c]).alias(c) for c in right_payload],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    window_seconds: int,
) -> DataFrame:
    """Interval (range) join: all pairs with equal ``key`` and
    ``right_ts`` in ``[left_ts - window_seconds, left_ts]`` (both ends
    inclusive). Returns every left column plus ``right_payload``.

    A naive non-equi join on (key, range) degenerates into a per-key
    cross product under skew (one hot key joins all its rows against
    all its rows). Instead the time axis is bucketed at the window
    width: each right row lands in exactly one bucket, each left row
    probes its two covering buckets (``explode`` of {b-1, b}), and the
    join becomes an equi-join on (key, bucket) with the exact range as
    a residual filter. Per-pair output is emitted exactly once because
    a right row's bucket is unique. This is the standard scalable range
    join shape (cf. Spark's range-join hints in Databricks runtime and
    Flink's interval join), built from open primitives.
    """
    width = int(window_seconds)
    lb = F.floor(F.unix_timestamp(F.col(left_ts)) / F.lit(width)).cast("long")
    r2 = right.select(
        F.col(key).alias("_rk"),
        F.col(right_ts).alias("_rts"),
        F.floor(F.unix_timestamp(F.col(right_ts)) / F.lit(width))
        .cast("long")
        .alias("_rb"),
        *[F.col(c) for c in right_payload],
    )
    l2 = left.withColumn("_lb", F.explode(F.array(lb - 1, lb)))
    cond = (
        (l2[key] == r2["_rk"])
        & (l2["_lb"] == r2["_rb"])
        & (r2["_rts"] <= l2[left_ts])
        & (r2["_rts"] >= l2[left_ts] - F.expr(f"INTERVAL {width} SECONDS"))
    )
    return l2.join(r2, cond, "inner").drop("_lb", "_rk", "_rb", "_rts")


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization with Spark's native ``session_window``:
    one session row per (user, maximal event run with inter-event gaps
    < ``gap``), with the session's span and event count.

    ``session_window`` merges overlapping per-event windows in the
    aggregation — a single shuffle on the user key. On a stream, add
    ``withWatermark`` upstream and state is dropped once sessions close.
    Returns (user, session_start, session_end, n_events) where start/end
    are the min/max event times (not the padded window end).
    """
    return (
        events.groupBy(
            F.col(user_col), F.session_window(F.col(ts_col), gap).alias("_w")
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(user_col, "session_start", "session_end", "n_events")
    )


def multiset_diff_count(a: DataFrame, b: DataFrame) -> DataFrame:
    """One row, ``n_mismatch`` (long): the size of the symmetric
    multiset difference of two frames with the same columns, i.e.
    ``count(a exceptAll b UNION ALL b exceptAll a)`` = Σ over distinct
    rows of |count_a(row) − count_b(row)|. Computed in one grouped pass
    over the union of (row, +1) and (row, −1) instead of two exceptAll
    legs, each of which re-evaluates the other side's subtree. Grouping
    treats NULLs as equal, as exceptAll does, so a row with NULL
    columns present on both sides cancels; a join on the row columns
    would never match it."""
    cols = a.columns
    signed = a.select(*cols, F.lit(1).alias("_sign")).unionByName(
        b.select(*cols, F.lit(-1).alias("_sign"))
    )
    return (
        signed.groupBy(*cols)
        .agg(F.abs(F.sum("_sign")).alias("_d"))
        .agg(F.coalesce(F.sum("_d"), F.lit(0)).cast("long").alias("n_mismatch"))
    )


def funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel conversion: how many users reach step k having
    passed steps 1..k-1 in time order (simultaneous timestamps count —
    ``>=`` — matching the SQL oracle exactly).

    Plan: one chained window per step over the SAME user partitioning —
    step k's reach time is ``min(ts WHERE type=step_k AND ts >=
    t_{k-1})`` over the user's rows. Spark plans consecutive windows
    with an identical partitionBy into ONE exchange; the final global
    count is a second (single-row) aggregation. No joins, no per-step
    pass over the fact table.

    Returns one row: (n_users, n_step1..n_stepK).
    """
    w = Window.partitionBy(user_col)
    cur = df.select(user_col, ts_col, type_col)
    prev = None
    for idx, step in enumerate(steps, start=1):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) >= F.col(prev))
        name = f"_t{idx}"
        cur = cur.withColumn(
            name, F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev = name
    return cur.agg(
        F.countDistinct(user_col).alias("n_users"),
        *[
            F.countDistinct(
                F.when(F.col(f"_t{i}").isNotNull(), F.col(user_col))
            ).alias(f"n_step{i}")
            for i in range(1, len(steps) + 1)
        ],
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users bucketed by the ISO week of their
    first event; for every (cohort_week, weeks-since-first) cell, the
    count of distinct active users.

    Plan: the per-user first-event time is a window min (one shuffle on
    user), the cohort/offset derivation is a projection, and the cell
    counts are one more hash aggregation on the (low-cardinality)
    cell key — the canonical two-exchange retention query, with no
    self-join of the fact table (the common O(n²)-prone formulation).

    Returns (cohort_week, week_offset, n_active) sorted by cell.
    """
    w = Window.partitionBy(user_col)
    base = df.select(
        F.col(user_col),
        F.col(ts_col),
        F.min(ts_col).over(w).alias("_first"),
    )
    return (
        base.select(
            F.date_format(F.date_trunc("week", "_first"), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            F.floor(
                F.datediff(F.col(ts_col), F.col("_first")) / 7
            ).alias("week_offset"),
            F.col(user_col),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct(user_col).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str] | None = None,
    salt_buckets: int = 16,
    sum_decimal: str = "decimal(38,9)",
) -> DataFrame:
    """Two-stage salted aggregation for hot-key groupBys: counts and
    DECIMAL-exact sums per key, computed skew-free.

    A direct ``groupBy`` on a low-cardinality key (5 event types, 32
    reducers) sends every row of a hot key through ONE reducer — the
    canonical straggler. Salting splits each key into
    ``salt_buckets`` sub-keys (deterministic ``xxhash64`` of the whole
    row, no RNG), aggregates partials on (key, salt) — an exchange
    whose key-space is keys × salt_buckets, enough to spread any hot
    key over the cluster — then combines the |keys| × salt_buckets
    partials in a second, trivially small exchange. Both stages are
    decomposable aggregates (count → sum, sum → sum), so the result is
    identical to the same decimal-cast unsalted groupBy: the salt
    changes the EXCHANGE DISTRIBUTION, never the answer, which is why
    the plain GROUP BY oracle checks it.

    ``sum_decimal`` is the partial-sum type: double sums are
    partition-order dependent (the salt would then change the ANSWER,
    not just the exchange), so inputs are cast to a decimal FIRST and
    every fractional digit beyond its scale is rounded at that cast —
    the decimal scale is part of the operator's declared contract, not
    an implementation detail. The (38,9) default keeps 9 fractional
    digits (the engine's float output-rounding edge) with ~1e28 of
    headroom; under ANSI mode a value past the precision raises
    NUMERIC_VALUE_OUT_OF_RANGE rather than silently wrapping — widen
    the type for such data.

    Returns (*keys, n, sum_<col>... ) sorted by keys.
    """
    sum_cols = sum_cols or []
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.col(c).cast(sum_decimal)).alias(f"_s_{c}")
                for c in sum_cols
            ],
        )
    )
    return (
        partial.groupBy(*keys)
        .agg(
            F.sum("_n").alias("n"),
            *[
                F.sum(f"_s_{c}").cast("double").alias(f"sum_{c}")
                for c in sum_cols
            ],
        )
        .orderBy(*keys)
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_from: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-spreading shuffle equi-join: the join analog of
    ``salted_aggregate``.

    A shuffle join on a hot key sends EVERY fact row of that key through
    one reducer — broadcast fixes it only while the dim fits in memory.
    Salting spreads the hot key instead: the fact side gets a
    deterministic salt in [0, salt_buckets) (``xxhash64`` of a row-unique
    column — no RNG, so replays and retries agree), the dim side is
    REPLICATED once per salt value (``explode(sequence(...))`` — dim
    cost × salt_buckets, the price of the spread), and the join runs on
    (key, salt). Each hot fact key now lands on ``salt_buckets``
    reducers instead of one; the salt never changes which rows match, so
    the result is row-identical to the plain join — which is exactly
    what the plain-join oracle checks.

    The dim key is renamed to ``fact_key``, the compound join uses the
    name-list form (keys coalesce), and the salt is dropped — output
    columns are the plain join's.
    """
    fs = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(salt_buckets))
    )
    ds = dim if dim_key == fact_key else dim.withColumnRenamed(dim_key, fact_key)
    ds = ds.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    return fs.join(ds, [fact_key, "_salt"]).drop("_salt")
