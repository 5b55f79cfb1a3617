"""Window / rolling / cumulative / resample (SURVEY.md §2.5).

Reference: pandas rolling via map_overlap ghost rows + cudf rolling
kernels (upstream: cpp/src/rolling/).  Spark Window is a strict
superset: one shuffle on the partition key, sort within partition, no
ghost-row machinery needed.

Float discipline: rolling/cumulative sums over `value` (4-decimal,
FIXTURES.md) use scaled int64 so frame-order summation is exact.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import scaled_int
from ..registry import register
from ..sources import load_table

_V4 = "CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)"  # oracle-side scaled value


@register(
    "q_window_rolling",
    family="window",
    oracle=f"""
        SELECT
            event_id, user_id, ts,
            (SUM({_V4}) OVER w / 10000.0) AS roll_sum_3,
            COUNT(*) OVER w AS roll_n_3,
            MAX(value) OVER w AS roll_max_3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling(3).sum/count/max per user (reference map_overlap + cudf
    rolling_window)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(scaled_int("value", 10000)).over(w) / 10000.0).alias("roll_sum_3"),
        F.count("*").over(w).alias("roll_n_3"),
        F.max("value").over(w).alias("roll_max_3"),
    )


@register(
    "q_window_time_range",
    family="window",
    oracle="""
        SELECT
            event_id, user_id, ts,
            COUNT(*) OVER w AS n_last_hour,
            MIN(value) OVER w AS min_last_hour
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling('1h') (reference rolling('5min') on a datetime
    index) -> rangeBetween over epoch seconds."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_last_hour"),
        F.min("value").over(w).alias("min_last_hour"),
    )


@register(
    "q_window_lag",
    family="window",
    oracle="""
        SELECT
            event_id, user_id, ts,
            LAG(value, 1) OVER w AS prev_value,
            LEAD(value, 1) OVER w AS next_value,
            value - LAG(value, 1) OVER w AS value_diff,
            CAST(FLOOR(epoch(ts)) AS BIGINT)
              - CAST(FLOOR(epoch(LAG(ts, 1) OVER w)) AS BIGINT) AS secs_since_prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shift/diff (reference cudf shift, cpp/src/copying/shift.cu)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        (F.col("value") - F.lag("value", 1).over(w)).alias("value_diff"),
        (F.col("ts").cast("long") - F.lag(F.col("ts"), 1).over(w).cast("long")).alias(
            "secs_since_prev"
        ),
    )


@register(
    "q_window_cumsum",
    family="window",
    oracle=f"""
        SELECT
            event_id, user_id, ts,
            (SUM({_V4}) OVER w / 10000.0) AS cum_value,
            COUNT(*) OVER w AS cum_n,
            MAX(value) OVER w AS cum_max
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_window_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cumsum/cumcount/cummax per user (reference dask blockwise prefix +
    carry; cudf scan kernels)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(scaled_int("value", 10000)).over(w) / 10000.0).alias("cum_value"),
        F.count("*").over(w).alias("cum_n"),
        F.max("value").over(w).alias("cum_max"),
    )


@register(
    "q_window_rank",
    family="window",
    oracle="""
        SELECT
            event_id, event_type, value,
            RANK() OVER w AS rnk,
            DENSE_RANK() OVER w AS drnk,
            ROW_NUMBER() OVER w AS rn,
            ROUND(PERCENT_RANK() OVER w, 6) AS prank,
            NTILE(4) OVER w AS quartile
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family (reference cudf rank, cpp/src/sorts/rank.cu)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "q_resample",
    family="window",
    oracle=f"""
        SELECT
            time_bucket(INTERVAL '1 day', ts) AS day,
            COUNT(*) AS n_events,
            (SUM({_V4}) / 10000.0) AS sum_value,
            COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1
    """,
)
def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resample('1D').agg (reference dask resample on datetime index) ->
    date_trunc groupBy; also the batch twin of a tumbling stream window."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").alias("n_events"),
        (F.sum(scaled_int("value", 10000)) / 10000.0).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "q_interval_arith",
    family="window",
    oracle="""
        SELECT
            event_id,
            CAST(ts AS TIMESTAMP) + INTERVAL '90 minutes' AS ts_plus_90m,
            CAST(ts AS TIMESTAMP) - INTERVAL '1 day' AS ts_minus_1d,
            CAST(FLOOR(date_part('epoch', CAST(ts AS TIMESTAMP)
                 - TIMESTAMP '2024-01-01')) AS BIGINT) AS secs_since_jan1,
            CAST(date_part('hour', CAST(ts AS TIMESTAMP)
                 + INTERVAL '90 minutes') AS BIGINT) AS shifted_hour
        FROM events
        WHERE event_id < 300
    """,
)
def q_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration/timedelta arithmetic (reference duration[ns] dtype ->
    DayTimeIntervalType, SURVEY.md §1): timestamp +- interval literals,
    timestamp difference as elapsed seconds, component extraction after
    the shift."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    shifted = F.col("ts") + F.expr("INTERVAL 90 MINUTES")
    return ev.select(
        "event_id",
        shifted.alias("ts_plus_90m"),
        (F.col("ts") - F.expr("INTERVAL 1 DAY")).alias("ts_minus_1d"),
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
        ).alias("secs_since_jan1"),
        F.hour(shifted).cast("long").alias("shifted_hour"),
    )


@register(
    "q_sessionize_gaps",
    family="window",
    oracle="""
        WITH marked AS (
            SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN CAST(ts AS TIMESTAMP)
                          - LAG(CAST(ts AS TIMESTAMP)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL '30 minutes'
                        OR LAG(CAST(ts AS TIMESTAMP)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id)
                           IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            -- running sum over the SAME total order the gap flag was
            -- computed on (ts, event_id) — ordering by ts alone makes
            -- session attribution among tied timestamps
            -- engine-arbitrary (r11 events corpus: exact-tie bursts)
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked
        )
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end
        FROM sessions
        GROUP BY user_id, session_id
    """,
)
def q_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: lag + gap flag + running sum
    assigns session ids with plain windows — the manual form of
    session_window (q_stream_session), portable to any engine and
    giving explicit ids.  One shuffle on user_id; both windows share
    the same partitioning so the second sort is free."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # same total order as the gap flag: tied timestamps otherwise get
    # engine-arbitrary session attribution (r11 events corpus)
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # gap in MICROSECONDS: cast-to-long is epoch SECONDS and truncates,
    # so a 30m00.13s gap read as exactly 30m and failed to open a new
    # session while the full-precision oracle opened one (r11 events
    # corpus — a real sub-second-precision sessionization bug)
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w_lag)
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sess = marked.withColumn(
        "session_id", F.sum("new_session").over(w_run).cast("long")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "q_group_zscore",
    family="window",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_suppkey,
               ROUND((q - mean_q) / std_q, 6) AS z_qty
        FROM (
            SELECT l_orderkey, l_linenumber, l_suppkey,
                   CAST(l_quantity AS DOUBLE) AS q,
                   CAST(CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) OVER w AS DOUBLE)
                        / COUNT(*) OVER w AS DOUBLE) AS mean_q,
                   sqrt((CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)
                                  * CAST(TRUNC(l_quantity) AS BIGINT)) OVER w AS DOUBLE)
                         - CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) OVER w AS DOUBLE)
                           * CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) OVER w AS DOUBLE)
                           / COUNT(*) OVER w)
                        / (COUNT(*) OVER w - 1)) AS std_q
            FROM lineitem
            WINDOW w AS (PARTITION BY l_suppkey)
        )
        WHERE std_q > 0
    """,
)
def q_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (groupby.transform('zscore') —
    the per-source feature-scaling step of a training pipeline).  Mean
    and std are derived from EXACT integer sums (sum, sum-of-squares,
    count over an unordered partition window): integer-valued doubles
    sum exactly in float64, so the result is bit-stable regardless of
    partition merge order — the discipline that keeps the oracle hash
    green at any SF (functions/det.py).  One shuffle on l_suppkey;
    Spark computes all three window aggregates in a single pass over
    the same exchange (no self-join with the groupby, which is the
    naive two-shuffle phrasing)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey")
    qi = F.col("l_quantity").cast("long")
    s1 = F.sum(qi).over(w).cast("double")
    s2 = F.sum(qi * qi).over(w).cast("double")
    n = F.count("*").over(w)
    mean_q = s1 / n
    std_q = F.sqrt((s2 - s1 * s1 / n) / (n - 1))
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            F.col("l_quantity").cast("double").alias("q"),
            mean_q.alias("mean_q"),
            std_q.alias("std_q"),
        )
        .filter(F.col("std_q") > 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            F.round((F.col("q") - F.col("mean_q")) / F.col("std_q"), 6).alias("z_qty"),
        )
    )


@register(
    "q_window_ntile",
    family="window",
    oracle="""
        SELECT doc_id, lang, n_chars,
               CAST(ntile(4) OVER (PARTITION BY lang
                                   ORDER BY n_chars NULLS LAST, doc_id)
                    AS BIGINT) AS quartile
        FROM documents
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartile bucketing per language (the curriculum /
    difficulty-banding step of a training pipeline; pandas qcut per
    group).  Standard-SQL ntile puts remainders in the leading buckets
    identically in both engines; doc_id tiebreak makes the assignment
    total-order deterministic.  Partitioned by lang, so no
    single-partition global window at scale."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    # explicit NULLS LAST: Spark ASC defaults nulls first, DuckDB last
    w = W.partitionBy("lang").orderBy(
        F.asc_nulls_last("n_chars"), "doc_id"
    )
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "q_window_firstlast",
    family="window",
    oracle="""
        SELECT
            event_id, user_id,
            first_value(event_type) OVER w AS first_type,
            last_value(event_type)  OVER w AS last_type,
            nth_value(event_type, 2) OVER w AS second_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the full partition
    frame (pandas groupby.first/last/nth; cudf first/last window aggs).
    The frame is explicitly UNBOUNDED..UNBOUNDED — the default frame
    (unbounded..current) silently turns last_value into 'current row'
    in BOTH engines, a classic correctness trap.  (event_id tiebreak
    keeps the in-partition order total, so nth is deterministic.)  One
    shuffle on user_id; no global window."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


@register(
    "q_rank_methods",
    family="window",
    oracle="""
        SELECT
            doc_id, lang, n_chars,
            RANK() OVER w AS rank_min,
            RANK() OVER w + COUNT(*) OVER t - 1 AS rank_max,
            RANK() OVER w + (COUNT(*) OVER t - 1) / 2.0 AS rank_avg,
            DENSE_RANK() OVER w AS rank_dense
        FROM documents
        -- NULLS LAST made explicit on BOTH sides (round-9 null leg):
        -- Spark ASC defaults to NULLS FIRST, DuckDB to NULLS LAST —
        -- any rank over a nullable order key must pin the choice
        WINDOW w AS (PARTITION BY lang ORDER BY n_chars NULLS LAST),
               t AS (PARTITION BY lang, n_chars)
    """,
)
def q_rank_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas/cudf rank(method='min'|'max'|'average'|'dense') (upstream:
    cpp/src/sorts/rank.cu RANK_METHOD enum).  SQL RANK() is method=min;
    max and average are derived from it with the tie-group size
    (count over PARTITION BY key, value): max = min + ties - 1,
    average = min + (ties-1)/2 — no second sort, the tie count is a
    separate unordered window over the same shuffle.  n_chars within a
    lang has real ties, so all four methods differ on this data."""
    docs = load_table(spark, sf_dir, "documents")
    # explicit null placement: see the oracle comment (round-9 null leg)
    w = Window.partitionBy("lang").orderBy(F.asc_nulls_last("n_chars"))
    t = Window.partitionBy("lang", "n_chars")
    ties = F.count("*").over(t)
    rmin = F.rank().over(w)
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        rmin.alias("rank_min"),
        (rmin + ties - 1).alias("rank_max"),
        (rmin + (ties - 1) / 2.0).alias("rank_avg"),
        F.dense_rank().over(w).alias("rank_dense"),
    )


@register(
    "q_ewm",
    family="window",
    oracle="""
        WITH RECURSIVE seq AS (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ), ewm AS (
            SELECT user_id, event_id, rn, value AS y
            FROM seq WHERE rn = 1
            UNION ALL
            -- NULL gaps (round-9 leg): a NULL observation carries the
            -- running mean unchanged; the first valid value after
            -- leading NULLs restarts the mean — pandas
            -- ewm(adjust=False, ignore_na=True) semantics, mirrored
            -- exactly by the engine's kernel
            SELECT s.user_id, s.event_id, s.rn,
                   CASE WHEN s.value IS NULL THEN e.y
                        WHEN e.y IS NULL THEN s.value
                        ELSE 0.5 * s.value + 0.5 * e.y END
            FROM seq s JOIN ewm e
              ON s.user_id = e.user_id AND s.rn = e.rn + 1
        )
        SELECT user_id, event_id,
               CAST(FLOOR(y * 1000000 + 0.5) AS BIGINT) AS ewm_micro
        FROM ewm
    """,
)
def q_ewm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted mean per user (pandas/cudf
    Series.ewm(alpha, adjust=False).mean(); upstream: cudf ewm —
    beyond plain SQL windows).  The recurrence
    y_t = (1-a)*y_{t-1} + a*x_t is inherently sequential PER KEY but
    embarrassingly parallel ACROSS keys, so it maps to applyInPandas
    after one shuffle on user_id: each group streams through pandas'
    C ewm kernel in a single Arrow batch.  alpha=0.5 makes both
    multiplications exact binary halvings, so Spark and the oracle's
    recursive CTE compute bit-identical doubles; the output is the
    half-up scaled micro-unit int (functions/det.py discipline —
    plain ROUND(6) flakes on exact .5 ties, numpy half-even vs SQL
    half-up).  At cluster scale state is O(1) per key and the shuffle
    is the only data movement."""
    ev = load_table(spark, sf_dir, "events")

    def ewm_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["ts", "event_id"])
        # ignore_na=True: a NULL gap carries the mean unchanged (no
        # extra decay), matching the oracle's CASE recurrence exactly;
        # the pandas default (ignore_na=False) decays by gap LENGTH,
        # which no closed-form SQL recurrence replays
        y = pdf["value"].ewm(alpha=0.5, adjust=False, ignore_na=True).mean()
        # null-robustness (round 9): pandas ewm carries the running
        # mean PAST interior NaNs (cudf/pandas semantics) but yields
        # NaN before the first valid value — emit those as NULL rather
        # than crash the int cast
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ewm_micro": pd.array(
                    np.floor(y * 1000000 + 0.5), dtype="Int64"
                ),
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        ewm_group, schema="user_id long, event_id long, ewm_micro long"
    )


@register(
    "q_pct_change",
    family="window",
    oracle="""
        SELECT user_id, event_id, value,
               (value - LAG(value) OVER w) / LAG(value) OVER w AS pct_change
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas/cudf Series.pct_change() per key (upstream: cudf
    pct_change -> diff/shift composition).  One shuffle on user_id; the
    first row per key is NULL (no predecessor), matching pandas.  The
    ratio is a subtract + divide on the raw doubles — two IEEE ops on
    identical inputs, bit-deterministic in both engines.  try_divide,
    not /: under ANSI mode a zero predecessor (present at sf>=0.1)
    would throw, while DuckDB's double division yields NULL — try_divide
    is exactly that NULL semantics."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.try_divide(F.col("value") - prev, prev).alias("pct_change"),
    )


@register(
    "q_cumprod",
    family="window",
    oracle="""
        -- null handling pinned (round-9 leg): Spark's product aggregate
        -- SKIPS null inputs, so a NULL discount multiplies by 1 here;
        -- NULLS LAST pins the nullable l_quantity tiebreak
        -- LEAST(..., 2^53): saturation contract (r12 relational corpus,
        -- seed 9001) — hostile discounts (factor up to 2.5) on a
        -- dup-key-storm order overflow the scaled product past int64,
        -- where DuckDB's CAST raises and Spark's saturates; past 2^53
        -- the double product has no integer precision anyway, so BOTH
        -- sides pin the cap there (both folds are the identical
        -- left-to-right multiply, so the compared doubles agree)
        SELECT l_orderkey, l_linenumber,
               -- every sort key pinned NULLS LAST (r12 relational
               -- corpus: ALL of these are nullable there, and Spark's
               -- bare asc defaults NULLS FIRST while DuckDB's defaults
               -- NULLS LAST); l_discount closes the order — rows still
               -- tied after it carry EQUAL factors, so the output
               -- multiset is deterministic even for full-dup rows
               -- clamp is SYMMETRIC (r12 ADVICE): a discount < -1
               -- (negative factor) makes the running product negative
               -- and growing, where DuckDB's CAST raises at -2^63 while
               -- Spark saturates at Long.MIN — same divergence class as
               -- the positive side, pinned at -2^53 for the same
               -- double-precision reason
               CAST(FLOOR(GREATEST(LEAST(list_reduce(list(
                   CASE WHEN l_discount IS NULL THEN 1
                        ELSE 1 + l_discount END) OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_linenumber NULLS LAST, l_partkey NULLS LAST,
                            l_suppkey NULLS LAST, l_quantity NULLS LAST,
                            l_discount NULLS LAST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), (a, b) -> a * b) * 1000000 + 0.5,
               9007199254740992.0), -9007199254740992.0)) AS BIGINT)
               AS cum_factor_s6
        FROM lineitem
    """,
)
def q_cumprod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas/cudf cumprod per group (upstream: cudf
    groupby.cumprod): running product of (1 + l_discount) over each
    order's lines — the compounding-factor pattern.  Spark's product
    aggregate over a cumulative row frame; ONE shuffle on l_orderkey.
    Groups are <= 13 rows and factors are in [1, 1.1], so the double
    product is far from over/underflow.  Oracle note: DuckDB's windowed
    product() is NOT a sequential fold (it drifts from the in-order
    multiply by far more than an ulp), so the oracle replays Spark's
    left-to-right accumulation explicitly with list_reduce over the
    ordered frame; the scaled-int projection then hashes exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    # l_linenumber is NOT unique within an order in this data; ties in
    # a cumulative frame make the running value engine-dependent, so the
    # order is made total with the remaining line attributes.
    # NULLS LAST on every key + l_discount as the closing key: see the
    # oracle twin's comment (r12 relational corpus findings)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(
            F.asc_nulls_last("l_linenumber"),
            F.asc_nulls_last("l_partkey"),
            F.asc_nulls_last("l_suppkey"),
            F.asc_nulls_last("l_quantity"),
            F.asc_nulls_last("l_discount"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # empty product = 1: a frame whose discounts are ALL null (possible
    # only on a group's first rows under null injection) must yield the
    # identity, matching the oracle's null->1 factor (round-9 leg)
    cum = F.coalesce(
        F.product(1 + F.col("l_discount")).over(w), F.lit(1.0)
    )
    # saturation contract at +/-2^53 (r12 relational corpus + r12
    # ADVICE): overflowing scaled products raise in DuckDB and saturate
    # in Spark; past 2^53 the double has no integer precision, so the
    # cap is pinned there on both sides.  The clamp is SYMMETRIC: a
    # discount < -1 flips the factor negative and the running product
    # grows toward -inf — the same divergence class on the other sign
    # (see the oracle's GREATEST(LEAST(...)) twin).
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(
            F.greatest(
                F.least(cum * 1000000 + 0.5, F.lit(9007199254740992.0)),
                F.lit(-9007199254740992.0),
            )
        )
        .cast("long")
        .alias("cum_factor_s6"),
    )


@register(
    "q_ffill",
    family="window",
    oracle="""
        WITH masked AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
            FROM events
        )
        SELECT user_id, event_id,
               CAST(FLOOR(COALESCE(last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), -1.0) * 10000 + 0.5) AS BIGINT) AS v_filled_s4
        FROM masked
    """,
)
def q_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill imputation (pandas/cudf ``ffill``, upstream: cudf
    DataFrame.ffill): sensor-style gap filling — readings taken during
    'error' events are nulled, then each user's series carries the last
    valid value forward in (ts, event_id) order.  Leading nulls (no
    prior valid value) surface as the -1 sentinel so the row stays
    hashable.

    Spark has no ffill verb; ``last(col, ignorenulls=True)`` over the
    cumulative row frame IS the operator — ONE shuffle on user_id, one
    in-partition sort, identical cost shape to any windowed op at
    100 TB (skewed users would be range-sharded like q_doc_packing)."""
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(-1.0))
    return masked.select(
        "user_id",
        "event_id",
        F.floor(filled * 10000 + 0.5).cast("long").alias("v_filled_s4"),
    )


@register(
    "q_interpolate_linear",
    family="window",
    oracle="""
        WITH masked AS (
            SELECT user_id, event_id, ts,
                   epoch_us(ts) AS t_us,
                   CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
            FROM events
        ),
        w AS (
            SELECT user_id, event_id, t_us, v,
                   last_value(v IGNORE NULLS) OVER wb AS prev_v,
                   last_value(CASE WHEN v IS NOT NULL THEN t_us END
                              IGNORE NULLS) OVER wb AS prev_t,
                   first_value(v IGNORE NULLS) OVER wf AS next_v,
                   first_value(CASE WHEN v IS NOT NULL THEN t_us END
                               IGNORE NULLS) OVER wf AS next_t
            FROM masked
            WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, event_id,
               CAST(FLOOR(COALESCE(
                   CASE WHEN v IS NOT NULL THEN v
                        WHEN prev_v IS NULL THEN next_v
                        WHEN next_v IS NULL THEN prev_v
                        WHEN next_t = prev_t THEN prev_v
                        ELSE prev_v + (next_v - prev_v)
                             * ((CAST(t_us AS DOUBLE) - prev_t)
                                / (CAST(next_t AS DOUBLE) - prev_t))
                   END, -1.0) * 10000 + 0.5) AS BIGINT) AS v_interp_s4
        FROM w
    """,
)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing readings (pandas/cudf
    ``interpolate(method='linear')``, upstream: cudf Series.interpolate):
    null out 'error' readings, then reconstruct each from the straight
    line between its nearest valid neighbors, weighted by event-time
    distance.  Boundary rules match pandas: leading gaps take the next
    valid value, trailing gaps the previous; all-null series surface
    the -1 sentinel.

    Spark has no interpolate verb; the operator is two window passes
    over ONE shuffle on user_id (a cumulative last() and its reversed
    first() share the partitioning, Spark just re-sorts in place).  The
    arithmetic is written identically in both engines (double ops are
    IEEE-deterministic per row), and the result is emitted as a scaled
    int per the det.py discipline."""
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.unix_micros("ts").alias("t_us"),
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_valid = F.when(F.col("v").isNotNull(), F.col("t_us"))
    w = masked.select(
        "user_id",
        "event_id",
        "t_us",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(t_valid, ignorenulls=True).over(wb).alias("prev_t"),
        F.first("v", ignorenulls=True).over(wf).alias("next_v"),
        F.first(t_valid, ignorenulls=True).over(wf).alias("next_t"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .when(F.col("next_t") == F.col("prev_t"), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (
                (F.col("t_us").cast("double") - F.col("prev_t"))
                / (F.col("next_t").cast("double") - F.col("prev_t"))
            )
        )
    )
    return w.select(
        "user_id",
        "event_id",
        F.floor(F.coalesce(interp, F.lit(-1.0)) * 10000 + 0.5)
        .cast("long")
        .alias("v_interp_s4"),
    )


@register(
    "q_rolling_median",
    family="window",
    oracle=f"""
        WITH s AS (
            SELECT user_id, event_id, ts, {_V4} AS v_s4 FROM events
        )
        SELECT user_id, event_id,
               CAST(2 * quantile_cont(v_s4, 0.5) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS med2_s4
        FROM s
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 5-row median per user (pandas/cudf
    ``rolling(5).median()``; cudf rolling supports arbitrary aggs) —
    the robust-smoothing denoiser.  Spark's exact ``percentile``
    aggregate runs as a window function over the same row frame.

    Determinism: the median interpolates between two SCALED-INT
    neighbors, so 2x the result is an exact integer double on both
    engines (Spark's lo+(hi-lo)*0.5 and DuckDB's (1-f)*lo+f*hi are both
    exact here) — no float-formatting hazard.  Cost shape: one shuffle
    on user_id; the per-frame sort is O(w log w) on a 5-row frame."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 10000 + 0.5).cast("long").alias("v_s4"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    med = F.expr("percentile(v_s4, 0.5)").over(w)
    return s.select(
        "user_id",
        "event_id",
        (2 * med).cast("long").alias("med2_s4"),
    )


@register(
    "q_event_paths",
    family="window",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type, 1) OVER w AS e2,
                   LEAD(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT path, n, rank FROM (
            SELECT event_type || '>' || e2 || '>' || e3 AS path,
                   COUNT(*) AS n,
                   ROW_NUMBER() OVER (
                       ORDER BY COUNT(*) DESC,
                                event_type || '>' || e2 || '>' || e3
                   ) AS rank
            -- all three steps must be known: a NULL event_type is not
            -- a path step (round-9 null leg; Spark concat_ws would
            -- silently collapse it into a 2-step path, DuckDB || into
            -- a NULL path — both wrong for path mining)
            FROM seq WHERE event_type IS NOT NULL
              AND e2 IS NOT NULL AND e3 IS NOT NULL
            GROUP BY path
        ) WHERE rank <= 10
    """,
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path mining: the top-10 most frequent 3-step
    event-type sequences (sliding trigrams over each user's
    time-ordered stream) — the open-ended companion to q_funnel_steps'
    fixed funnel, and the input a Markov attribution model trains on.

    Scale: ONE shuffle on user_id feeds the lead() window (ties broken
    by event_id so the sequence is total-ordered and cross-engine
    deterministic); trigram assembly is map-side string concat; the
    path rollup moves |paths| rows and top-10 collapses to
    TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(
        F.col("event_type").isNotNull()  # see the oracle comment
        & F.col("e2").isNotNull()
        & F.col("e3").isNotNull()
    )
    paths = seq.select(
        F.concat_ws(">", "event_type", "e2", "e3").alias("path")
    ).groupBy("path").agg(F.count("*").alias("n"))
    top = paths.orderBy(F.desc("n"), F.asc("path")).limit(10)
    wr = Window.orderBy(F.desc("n"), F.asc("path"))
    return top.withColumn("rank", F.row_number().over(wr).cast("long")).select(
        "path", "n", "rank"
    )


@register(
    "q_max_drawdown",
    family="window",
    oracle="""
        WITH cents AS (
            SELECT user_id, ts, event_id,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c
            FROM events
        ),
        run AS (
            SELECT user_id, v_c,
                   MAX(v_c) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS peak_c
            FROM cents
        )
        SELECT user_id,
               CAST(MAX(peak_c - v_c) AS BIGINT) AS max_drawdown_c,
               CAST(MAX(peak_c) AS BIGINT) AS peak_c,
               COUNT(*) AS n_events
        FROM run GROUP BY user_id
    """,
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown of the event value series: running
    peak (cumulative max over the time-ordered stream) minus current
    value, maximized — the classic risk/monitoring statistic, and a
    stateful-looking metric that needs NO stateful operator: one
    cumulative-max window and one rollup.  Values go through the cents
    scaled-integer discipline so the oracle hash is exact.

    Scale: ONE shuffle on user_id shared by the running-max window and
    the final per-user aggregation (co-partitioned)."""
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = cents.select(
        "user_id", "v_c", F.max("v_c").over(w).alias("peak_c")
    )
    return run.groupBy("user_id").agg(
        F.max(F.col("peak_c") - F.col("v_c")).alias("max_drawdown_c"),
        F.max("peak_c").alias("peak_c"),
        F.count("*").alias("n_events"),
    )


@register(
    "q_funnel_latency",
    family="window",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(ts) FILTER (event_type = 'view')     AS t_view,
                   MIN(ts) FILTER (event_type = 'click')    AS t_click,
                   MIN(ts) FILTER (event_type = 'purchase') AS t_purchase
            FROM events GROUP BY user_id
        ),
        lat AS (
            SELECT
                CASE WHEN t_click > t_view
                     THEN date_diff('second', t_view, t_click) END AS vc_s,
                CASE WHEN t_click > t_view AND t_purchase > t_click
                     THEN date_diff('second', t_click, t_purchase) END AS cp_s
            FROM per_user
        )
        SELECT COUNT(vc_s) AS n_view_click,
               quantile_cont(vc_s, 0.5) AS p50_vc_s,
               quantile_cont(vc_s, 0.9) AS p90_vc_s,
               COUNT(cp_s) AS n_click_purchase,
               quantile_cont(cp_s, 0.5) AS p50_cp_s,
               quantile_cont(cp_s, 0.9) AS p90_cp_s
        FROM lat
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel STEP-LATENCY distribution — the timing companion to
    q_funnel_steps' conversion counts: among users whose first events
    happen in funnel order, the exact interpolated p50/p90 of
    first-view→first-click and first-click→first-purchase latency.
    Latencies are integral seconds, so the shared linear interpolation
    produces exact binary fractions on both engines (the
    q_groupby_quantile precedent).

    Scale: one conditional-MIN shuffle on user_id reduces the stream to
    |users| rows; the percentile aggregation runs over that reduced
    set."""
    ev = load_table(spark, sf_dir, "events")
    step = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        step("view").alias("t_view"),
        step("click").alias("t_click"),
        step("purchase").alias("t_purchase"),
    )
    vc_ok = F.col("t_click") > F.col("t_view")
    cp_ok = vc_ok & (F.col("t_purchase") > F.col("t_click"))
    lat = per_user.select(
        F.when(
            vc_ok,
            F.col("t_click").cast("long") - F.col("t_view").cast("long"),
        ).alias("vc_s"),
        F.when(
            cp_ok,
            F.col("t_purchase").cast("long") - F.col("t_click").cast("long"),
        ).alias("cp_s"),
    )
    return lat.agg(
        F.count("vc_s").alias("n_view_click"),
        F.expr("percentile(vc_s, 0.5)").alias("p50_vc_s"),
        F.expr("percentile(vc_s, 0.9)").alias("p90_vc_s"),
        F.count("cp_s").alias("n_click_purchase"),
        F.expr("percentile(cp_s, 0.5)").alias("p50_cp_s"),
        F.expr("percentile(cp_s, 0.9)").alias("p90_cp_s"),
    )


@register(
    "q_markov_transitions",
    family="window",
    oracle="""
        WITH seq AS (
            SELECT event_type AS src,
                   LEAD(event_type, 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS dst
            FROM events
        ),
        cnt AS (
            SELECT src, dst, COUNT(*) AS n FROM seq
            WHERE dst IS NOT NULL GROUP BY src, dst
        )
        SELECT src, dst, n,
               (1000000 * n) // CAST(SUM(n) OVER (PARTITION BY src)
                                    AS BIGINT) AS p_ppm
        FROM cnt
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the per-user event
    stream: counts and row-normalized probabilities (ppm integer
    floors) for every src→dst event-type pair — the model artifact a
    journey simulator or attribution chain trains on, and the matrix
    q_event_paths' trigrams factor through.

    Scale: one user_id shuffle feeds the lead() window (total order via
    (ts, event_id)); the transition rollup and the row-normalizing
    window both run over the |event_types|^2 reduced matrix."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type", 1).over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    row_tot = F.sum("n").over(Window.partitionBy("src"))
    return cnt.withColumn("tot", row_tot).select(
        "src",
        "dst",
        "n",
        F.expr("(1000000 * n) div tot").alias("p_ppm"),
    )


@register(
    "q_acf_daily_revenue",
    family="window",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        ),
        lagged AS (
            SELECT l.lag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a.cents) AS BIGINT) AS sx,
                   CAST(SUM(b.cents) AS BIGINT) AS sy,
                   CAST(SUM(a.cents * a.cents) AS BIGINT) AS sxx,
                   CAST(SUM(b.cents * b.cents) AS BIGINT) AS syy,
                   CAST(SUM(a.cents * b.cents) AS BIGINT) AS sxy
            FROM (SELECT UNNEST(range(1, 8)) AS lag) l
            JOIN daily a ON true
            JOIN daily b ON b.day = a.day + INTERVAL (l.lag) DAY
            GROUP BY l.lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, n,
               -- explicit DOUBLE casts, never DECIMAL literals: duck
               -- parses 1000000.0 as DECIMAL, and its DECIMAL->DOUBLE
               -- conversion is not correctly rounded — a perfectly
               -- correlated n=2 pair computed 999999.9999999999 where
               -- Spark's pure-double pipeline hits 1000000.0 exactly
               -- (r11 events corpus, seed 7030)
               CAST(TRUNC(
                   CAST(1000000 AS DOUBLE)
                   * CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))
               ) AS BIGINT) AS acf_ppm
        FROM lagged
        ORDER BY lag
    """,
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily purchase revenue at lags 1-7 (the
    weekly-seasonality detector): Pearson correlation of the daily
    cents series against its lag, via the computational formula
    n*Sxy - Sx*Sy over sqrt((n*Sxx - Sx^2)(n*Syy - Sy^2)).  Every
    moment is an EXACT integer (cents are integers, so products and
    sums are too); the only floats are one division and one
    IEEE-correctly-rounded sqrt on identical integers in both
    engines, truncated to ppm — deterministic without any ordering
    assumption on the float sums.

    Scale: the daily rollup is one shuffle into |days| rows; the
    seven lag joins run on that tiny table."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    lags = daily.sparkSession.range(1, 8).select(
        F.col("id").cast("long").alias("lag")
    )
    a = daily.select(F.col("day").alias("day_a"), F.col("cents").alias("x"))
    b = daily.select(F.col("day").alias("day_b"), F.col("cents").alias("y"))
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("day_b")
            == F.col("day_a") + F.make_dt_interval(days=F.col("lag")),
        )
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return lagged.select(
        "lag",
        "n",
        # try_divide, not '/': a zero-variance window (hostile events
        # corpus — one purchase day repeated) makes den = 0, which must
        # yield NULL like the DuckDB twin — a bare '/' RAISES under
        # ANSI (r14 ANSI-x-corpus cell, seeds 45105/45107/45115)
        F.try_divide(F.lit(1000000.0) * num, den)
        .cast("long")
        .alias("acf_ppm"),
    ).orderBy("lag")


@register(
    "q_peak_concurrency",
    family="window",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                             OR date_diff('second',
                                          lag(CAST(ts AS TIMESTAMP)) OVER w,
                                          CAST(ts AS TIMESTAMP)) > 1800
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, sid,
                   CAST(MIN(ts) AS TIMESTAMP) AS s_start,
                   CAST(MAX(ts) AS TIMESTAMP) AS s_end
            FROM (
                SELECT user_id, ts,
                       SUM(new_s) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW
                       ) AS sid
                FROM marked
            ) GROUP BY user_id, sid
        ),
        deltas AS (
            SELECT CAST(FLOOR(epoch(s_start)) AS BIGINT) AS t, 1 AS d FROM sess
            UNION ALL
            SELECT CAST(FLOOR(epoch(s_end)) AS BIGINT) + 1, -1 FROM sess
        ),
        net AS (
            SELECT t, CAST(SUM(d) AS BIGINT) AS nd
            FROM deltas GROUP BY t
        ),
        running AS (
            SELECT t,
                   CAST(SUM(nd) OVER (
                       ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS conc
            FROM net
        )
        SELECT CAST(to_timestamp(t - t % 3600) AS TIMESTAMP) AS hour,
               CAST(MAX(conc) AS BIGINT) AS peak_concurrent
        FROM running
        GROUP BY 1
        ORDER BY 1
    """,
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour — the capacity-planning sweep
    line: sessionize (30-min gap), emit +1/-1 at session boundaries,
    net the deltas per distinct timestamp (tie-order-proof: the
    running state only exists between distinct instants, so both
    engines see identical prefixes), prefix-sum, and take the hourly
    max.

    Scale (the part most engines get wrong): the prefix sum is
    DISTRIBUTED as a two-level scan — a within-day running sum
    (days process in parallel) plus a cumulative day-total offset
    over the tiny per-day table — never one global single-partition
    window over every boundary event.  The oracle computes the plain
    global running sum; the two-level construction equals it by
    associativity of prefix sums."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = Window.partitionBy("user_id").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(
        w_lag
    )
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("new_s"),
    )
    sess = (
        marked.withColumn("sid", F.sum("new_s").over(w_run))
        .groupBy("user_id", "sid")
        .agg(
            F.min(F.col("ts").cast("long")).alias("t0"),
            F.max(F.col("ts").cast("long")).alias("t1"),
        )
    )
    deltas = sess.select(
        F.col("t0").alias("t"), F.lit(1).alias("d")
    ).unionByName(sess.select((F.col("t1") + 1).alias("t"), F.lit(-1).alias("d")))
    net = (
        deltas.groupBy("t")
        .agg(F.sum("d").cast("long").alias("nd"))
        .withColumn("day", F.expr("t div 86400"))
        # net feeds BOTH the within-day window and the day-total
        # rollup; checkpoint so the sessionize+delta subtree runs once
        .localCheckpoint(eager=False)
    )
    w_in_day = Window.partitionBy("day").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    day_tot = net.groupBy("day").agg(F.sum("nd").alias("day_sum"))
    w_days = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    day_off = day_tot.select(
        "day",
        F.coalesce(F.sum("day_sum").over(w_days), F.lit(0)).alias("off"),
    )
    running = (
        net.withColumn("in_day", F.sum("nd").over(w_in_day))
        .join(F.broadcast(day_off), "day")
        .select("t", (F.col("in_day") + F.col("off")).cast("long").alias("conc"))
    )
    return (
        running.groupBy(
            F.timestamp_seconds(F.expr("t - t % 3600")).alias("hour")
        )
        .agg(F.max("conc").cast("long").alias("peak_concurrent"))
        .orderBy("hour")
    )


@register(
    "q_multitouch_attribution",
    family="window",
    oracle="""
        WITH purch AS (
            SELECT event_id AS pid, user_id,
                   CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS pt,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ),
        clicks AS (
            SELECT event_id AS cid, user_id,
                   CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ct,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS click_day
            FROM events WHERE event_type = 'click'
        ),
        touches AS (
            SELECT p.pid, p.cents, c.cid, c.click_day,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.pid ORDER BY c.ct DESC, c.cid
                   ) AS recency,
                   COUNT(*) OVER (PARTITION BY p.pid) AS n_touch
            FROM purch p
            JOIN clicks c
              ON c.user_id = p.user_id
             AND c.ct < p.pt AND c.ct >= p.pt - 604800
        ),
        credited AS (
            SELECT click_day,
                   cents // n_touch
                   + CASE WHEN recency = 1 THEN cents % n_touch
                          ELSE 0 END AS credit_c
            FROM touches
        )
        SELECT click_day,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit_c) AS BIGINT) AS attributed_cents
        FROM credited
        GROUP BY click_day
        ORDER BY click_day
    """,
)
def q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's revenue is
    split equally across the user's clicks in the preceding 7 days,
    with the integer remainder credited to the most recent click so
    per-purchase credits sum EXACTLY to the purchase (no lost cents —
    the bookkeeping property marketing pipelines audit), rolled up as
    attributed revenue per click day.

    Scale: one user_id-keyed interval join between the (small)
    purchase stream and the click stream — the same single shuffle a
    sessionize pays; per-purchase touch windows are bounded by the
    7-day horizon so the join never fans out unboundedly."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("long").alias("pt"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("long").alias("ct"),
        F.date_trunc("day", "ts").alias("click_day"),
    )
    touches = purch.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("ct") < F.col("pt"))
        & (F.col("ct") >= F.col("pt") - 604800),
    )
    w_rec = Window.partitionBy("pid").orderBy(F.desc("ct"), F.asc("cid"))
    w_cnt = Window.partitionBy("pid")
    credited = touches.select(
        "click_day",
        "cents",
        F.row_number().over(w_rec).alias("recency"),
        F.count("*").over(w_cnt).alias("n_touch"),
    ).select(
        "click_day",
        (
            F.expr("cents div n_touch")
            + F.when(
                F.col("recency") == 1, F.expr("cents % n_touch")
            ).otherwise(F.lit(0))
        ).alias("credit_c"),
    )
    return (
        credited.groupBy("click_day")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("credit_c").cast("long").alias("attributed_cents"),
        )
        .orderBy("click_day")
    )


@register(
    "q_cusum_drift",
    family="window",
    oracle="""
        WITH x AS (
            SELECT user_id, ts, event_id,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ),
        ref AS (
            SELECT CAST(SUM(cents) AS BIGINT) // COUNT(*) AS k FROM x
        ),
        p AS (
            SELECT user_id, ts, event_id,
                   CAST(SUM(cents - r.k) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS pfx
            FROM x CROSS JOIN ref r
        ),
        s AS (
            SELECT user_id, ts, event_id,
                   pfx - LEAST(CAST(0 AS BIGINT), MIN(pfx) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )) AS cusum
            FROM p
        )
        SELECT s.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(MAX(cusum) AS BIGINT) AS max_cusum,
               CAST(SUM(CASE WHEN cusum > 6 * r.k THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_alerts
        FROM s CROSS JOIN ref r
        GROUP BY s.user_id, r.k
        HAVING SUM(CASE WHEN cusum > 6 * r.k THEN 1 ELSE 0 END) > 0
        ORDER BY s.user_id
    """,
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM drift detection (Page 1954) on purchase amounts:
    the sequential recurrence S_t = max(0, S_{t-1} + x_t - k) looks
    window-inexpressible, but the identity S_t = P_t - min(0,
    running-min P) (P = prefix sum of x - k) turns it into two plain
    windows over ONE user_id exchange — no UDF, no iteration.  Users
    whose cumulative overshoot ever exceeds 6x the reference mean are
    reported with their alert counts.  Exact integers throughout
    (cents, floor-divided reference mean).

    Scale: the reference mean is a single-row broadcast; both windows
    share one user_id partitioning.  The streaming twin
    (streaming.cusum_stateful) carries (prefix, min_prefix) per key —
    O(1) state — and converges to this query exactly."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    x = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    ref = x.agg(
        F.expr("CAST(sum(cents) div count(1) AS LONG)").alias("k")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    p = x.crossJoin(F.broadcast(ref)).withColumn(
        "pfx", F.sum(F.col("cents") - F.col("k")).over(w).cast("long")
    )
    s = p.withColumn(
        "cusum",
        F.col("pfx")
        - F.least(F.lit(0).cast("long"), F.min("pfx").over(w)),
    )
    return (
        s.groupBy("user_id", "k")
        .agg(
            F.count("*").cast("long").alias("n_obs"),
            F.max("cusum").cast("long").alias("max_cusum"),
            F.sum(
                F.when(F.col("cusum") > 6 * F.col("k"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_alerts"),
        )
        .filter(F.col("n_alerts") > 0)
        .select("user_id", "n_obs", "max_cusum", "n_alerts")
        .orderBy("user_id")
    )


@register(
    "q_seasonal_anomaly",
    family="window",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
                   CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2
        ),
        dow_med AS (
            SELECT dow,
                   CAST(FLOOR(median(cents)) AS BIGINT) AS med_c
            FROM daily GROUP BY dow
        ),
        resid AS (
            SELECT d.day, d.dow, d.cents,
                   d.cents - m.med_c AS r
            FROM daily d JOIN dow_med m USING (dow)
        ),
        mad AS (
            SELECT CAST(FLOOR(median(ABS(r))) AS BIGINT) AS mad_c
            FROM resid
        )
        SELECT day, dow, cents, residual_c, mad_ratio_ppm,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY mad_ratio_ppm DESC, day
               ) AS BIGINT) AS rank
        FROM (
            SELECT r.day, CAST(r.dow AS BIGINT) AS dow, r.cents,
                   CAST(r.r AS BIGINT) AS residual_c,
                   (1000000 * ABS(r.r)) // GREATEST(m.mad_c, 1)
                       AS mad_ratio_ppm
            FROM resid r CROSS JOIN mad m
        )
        ORDER BY rank
        LIMIT 10
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: daily purchase revenue
    minus its day-of-week MEDIAN, the ten most deviant days ranked by
    residual-to-MAD ratio — the robust-statistics anomaly screen that
    survives both weekly seasonality (the median removes it) and
    outlier contamination (median/MAD, not mean/std).  Medians of
    integer cents are floored to integers, so residuals, the MAD, and
    the threshold comparison are exact integers end to end.

    Scale: one (day, dow) rollup shuffles the corpus; everything
    after runs on the |days| table (weekday medians broadcast, MAD is
    a single row)."""
    from pyspark.sql import functions as F  # noqa: F811

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.dayofweek("ts").alias("dow"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    ).localCheckpoint(eager=False)
    dow_med = daily.groupBy("dow").agg(
        F.floor(F.expr("median(cents)")).cast("long").alias("med_c")
    )
    resid = daily.join(F.broadcast(dow_med), "dow").select(
        "day", "dow", "cents", (F.col("cents") - F.col("med_c")).alias("r")
    ).localCheckpoint(eager=False)
    mad = resid.agg(
        F.floor(F.expr("median(abs(r))")).cast("long").alias("mad_c")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("mad_ratio_ppm"), F.asc("day"))
    return (
        resid.crossJoin(F.broadcast(mad))
        .select(
            "day",
            F.col("dow").cast("long").alias("dow"),
            "cents",
            F.col("r").cast("long").alias("residual_c"),
            F.expr(
                "(1000000 * abs(r)) div greatest(mad_c, 1)"
            ).alias("mad_ratio_ppm"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .orderBy("rank")
        .limit(10)
    )


@register(
    "q_rank_global",
    family="window",
    oracle="""
        -- pandas/cudf rank convention: NULL values keep their row but
        -- take NULL ranks and consume no rank position (NULLS LAST
        -- keeps non-null ranks unaffected; CASE masks the null rows)
        SELECT l_orderkey, l_linenumber,
               CAST(TRUNC(l_quantity) AS BIGINT) AS qty,
               CASE WHEN l_quantity IS NULL THEN NULL ELSE
                   CAST(RANK() OVER w AS BIGINT) END AS rank_min,
               CASE WHEN l_quantity IS NULL THEN NULL ELSE
                   CAST(RANK() OVER w + COUNT(l_quantity) OVER t - 1
                        AS BIGINT) END AS rank_max,
               CASE WHEN l_quantity IS NULL THEN NULL ELSE
                   RANK() OVER w + (COUNT(l_quantity) OVER t - 1) / 2.0
                   END AS rank_avg,
               CASE WHEN l_quantity IS NULL THEN NULL ELSE
                   CAST(DENSE_RANK() OVER w AS BIGINT) END AS rank_dense
        FROM lineitem
        WINDOW w AS (ORDER BY CAST(TRUNC(l_quantity) AS BIGINT) NULLS LAST),
               t AS (PARTITION BY CAST(TRUNC(l_quantity) AS BIGINT))
    """,
)
def q_rank_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL tie-aware rank — cudf rank(method=min|max|average|dense)
    with NO group key (upstream: cpp/src/sorts/rank.cu RANK_METHOD),
    over a fact-table column with massive ties (~50 distinct
    quantities across every lineitem row).  q_rank_methods covers the
    per-group form; this is the one that breaks naive plans at scale:
    a bare RANK() OVER (ORDER BY ...) funnels the whole fact table
    through Exchange SinglePartition.  Runs instead as the
    distributed tie-aware ranking (operators/ranking.py
    global_rank_methods): distinct values carry tie counts through a
    prefix sum over sampled range bounds; the fact rows move only through the
    final equi-join.  All four methods derived exactly (avg's .5
    fractions are representable doubles), replayed bit-for-bit by the
    oracle's RANK/DENSE_RANK/tie-count forms."""
    from ..operators.ranking import global_rank_methods

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    ranked = global_rank_methods(li, "qty", prefix="rank_")
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        "qty",
        "rank_min",
        "rank_max",
        "rank_avg",
        "rank_dense",
    )


@register(
    "q_event_gap_histogram",
    family="window",
    oracle="""
        -- inter-event gap distribution per user: the data you size a
        -- session gap and a streaming watermark delay FROM.  Gaps in
        -- exact MICROSECONDS (epoch_us both sides; cast-to-long epoch
        -- SECONDS truncates sub-second bursts — the r11 sessionize
        -- lesson); the same (ts, event_id) total order as the
        -- sessionize family so tie storms stay engine-agnostic.
        WITH g AS (
            SELECT user_id,
                   epoch_us(CAST(ts AS TIMESTAMP))
                   - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                     ) AS gap_us
            FROM events
        )
        SELECT user_id,
               CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
               CAST(COALESCE(SUM(CASE WHEN gap_us < 1000000
                    THEN 1 END), 0) AS BIGINT) AS n_lt_1s,
               CAST(COALESCE(SUM(CASE WHEN gap_us >= 1000000
                    AND gap_us < 60000000
                    THEN 1 END), 0) AS BIGINT) AS n_1s_1m,
               CAST(COALESCE(SUM(CASE WHEN gap_us >= 60000000
                    AND gap_us < 1800000000
                    THEN 1 END), 0) AS BIGINT) AS n_1m_30m,
               CAST(COALESCE(SUM(CASE WHEN gap_us >= 1800000000
                    AND gap_us < 3600000000
                    THEN 1 END), 0) AS BIGINT) AS n_30m_1h,
               CAST(COALESCE(SUM(CASE WHEN gap_us >= 3600000000
                    THEN 1 END), 0) AS BIGINT) AS n_ge_1h,
               CAST(COALESCE(MAX(gap_us), -1) AS BIGINT) AS max_gap_us
        FROM g
        GROUP BY user_id
    """,
)
def q_event_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap histogram per user (r13): exact fixed-bucket
    counts of the arrival gaps — <1s / 1s-1m / 1m-30m / 30m-1h / >=1h —
    plus the max gap.  This is the distribution a pipeline reads to
    CHOOSE the session gap (q_sessionize_gaps' 30 minutes) and the
    watermark delay (streaming jobs' 1 hour) instead of guessing;
    quantiles would need the rank-vs-value percentile contract, fixed
    thresholds are exact integers.

    Scale: ONE user_id exchange shared by the lag window and the
    groupBy (same partitioning, the second sort is free); conditional
    counts combine map-side.  Single-event users emit n_gaps=0 with
    max_gap_us=-1 (COALESCE both sides — an all-NULL MAX is engine-
    agnostically NULL, but nullable int columns canonicalize
    differently in the driver compare)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    gap = F.col("gap_us")

    def bucket(name, cond):
        return F.coalesce(
            F.sum(F.when(cond, 1)), F.lit(0)
        ).cast("long").alias(name)

    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        bucket("n_lt_1s", gap < 1_000_000),
        bucket("n_1s_1m", (gap >= 1_000_000) & (gap < 60_000_000)),
        bucket("n_1m_30m", (gap >= 60_000_000) & (gap < 1_800_000_000)),
        bucket("n_30m_1h", (gap >= 1_800_000_000) & (gap < 3_600_000_000)),
        bucket("n_ge_1h", gap >= 3_600_000_000),
        F.coalesce(F.max(gap), F.lit(-1)).cast("long").alias("max_gap_us"),
    )


@register(
    "q_out_of_order_ratio",
    family="window",
    oracle="""
        -- event-time disorder per user: how far events arrive BEHIND
        -- the running event-time high-water mark, in ARRIVAL order
        -- (event_id is the monotone ingest sequence).  This is the
        -- measurement that justifies a watermark delay: the max
        -- lateness bound and the fraction of rows that would be late
        -- under a zero-delay watermark.
        WITH m AS (
            SELECT user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                   MAX(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                       PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS hwm_us
            FROM events
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COALESCE(SUM(CASE WHEN ts_us < hwm_us THEN 1 END), 0)
                    AS BIGINT) AS n_out_of_order,
               CAST(COALESCE(MAX(CASE WHEN ts_us < hwm_us
                    THEN hwm_us - ts_us END), -1) AS BIGINT) AS max_late_us,
               CAST((1000000 * COALESCE(SUM(CASE WHEN ts_us < hwm_us
                    THEN 1 END), 0)) // COUNT(*) AS BIGINT) AS ooo_ppm
        FROM m
        GROUP BY user_id
    """,
)
def q_out_of_order_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder accounting per user (r13): in ARRIVAL order
    (event_id), count events whose timestamp sits BEHIND the running
    event-time high-water mark and the worst lateness in exact
    microseconds — i.e. exactly what a streaming watermark of delay D
    would drop (rows with hwm - ts > D).  The r13 streaming-corpus leg
    replays hostile events through the watermarked paths; this is its
    batch-side measurement twin.

    Scale: one user_id exchange, one running-max window, counts-only
    aggregation (map-side combine); ppm ratio is integer division —
    exact at any SF (1e6 * count fits int64 to ~9e12 rows/user)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    us = F.unix_micros(F.col("ts"))
    m = ev.select(
        "user_id",
        us.alias("ts_us"),
        F.max(us).over(w).alias("hwm_us"),
    )
    late = F.col("ts_us") < F.col("hwm_us")
    return m.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.coalesce(F.sum(F.when(late, 1)), F.lit(0))
        .cast("long")
        .alias("n_out_of_order"),
        F.coalesce(
            F.max(F.when(late, F.col("hwm_us") - F.col("ts_us"))), F.lit(-1)
        )
        .cast("long")
        .alias("max_late_us"),
        F.expr(
            "(1000000 * coalesce(sum(case when ts_us < hwm_us then 1 end), 0))"
            " div count(1)"
        ).alias("ooo_ppm"),
    )
