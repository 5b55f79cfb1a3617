"""Distributed exact global ranking.

``ROW_NUMBER() OVER (ORDER BY ...)`` with no PARTITION BY compiles to
``Exchange SinglePartition`` + ``WindowExec`` — every row funnels
through ONE task, the canonical 100-TB non-starter.  Ranks over
provably bounded tables (top-k results, rollups) can afford that;
ranks over USER- or ROW-scaled tables (RFM quintiles, qcut,
corpus-wide scores) run here instead, the way dask-cudf ranks from a
frame's known ``divisions`` (``_range_offsets``):

1. With P = ``spark.sql.shuffle.partitions`` > 1, one small job samples
   the order keys (P x ``rangeExchange.sampleSizePerPartition`` rows,
   as Spark's own range exchange does), Spark sorts the sample in the
   caller's order, and P-1 evenly spaced rows become the bounds.
   P = 1 needs no bounds and no job.
2. ``__pid`` = the number of bounds a row sorts strictly after: a pure,
   order-monotone expression over the bounds as literal arrays (a
   binary search in log P steps).  Every consumer computes the same
   ``__pid``, so no evaluation is pinned and the plan keeps its lineage.
3. Per-``__pid`` rollups (<= P rows) give exclusive prefix offsets,
   broadcast back; a window partitioned by ``__pid`` plus the offset is
   the exact global value.

The ranked rows cross one wide shuffle (the window's ``__pid`` hash
exchange); the rollup shuffles only partial aggregates.  Callers must
pass a TOTAL order (include tiebreaker keys) for deterministic output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

__all__ = [
    "global_row_number",
    "global_ntile",
    "global_cumsum",
    "global_rank_methods",
]


def _sort_keys(df: DataFrame, order_cols: list[Column]) -> list[tuple]:
    """(key, descending, nulls_last) per sort Column, read from its sort
    node; a bare Column sorts ascending, nulls first, as in Spark."""
    jvm_column = df.sparkSession._jvm.org.apache.spark.sql.Column
    keys = []
    for c in order_cols:
        node = c._jc.node()
        if node.getClass().getSimpleName() != "SortOrder":
            keys.append((c, False, False))
            continue
        desc = "Descending" in str(node.sortDirection())
        nulls_last = "NullsLast" in str(node.nullOrdering())
        keys.append((Column(jvm_column(node.child())), desc, nulls_last))
    return keys


def _bounds(
    df: DataFrame, order_cols: list[Column], keys: list, parts: int
) -> list[Column]:
    """One literal array per order key holding the P-1 bounds: evenly
    spaced rows of a random sample of the keys, sorted by Spark in the
    caller's order (empty for an empty sample).  Timestamps travel as
    epoch microseconds: a Python datetime would round-trip through the
    driver's local zone."""
    conf = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    size = parts * int(df.sparkSession.conf.get(conf))
    sample = (
        df.orderBy(F.rand(0))
        .limit(size)
        .orderBy(*order_cols)
        .select(*[k for k, _, _ in keys])
    )
    types = [f.dataType for f in sample.schema.fields]
    ts = [isinstance(t, TimestampType) for t in types]
    picks = [sample[i] for i in range(len(ts))]
    rows = sample.select(
        *[F.unix_micros(c) if is_ts else c for c, is_ts in zip(picks, ts)]
    ).collect()
    if not rows:
        return []
    picked = [rows[i * len(rows) // parts] for i in range(1, parts)]

    def lit(v, i: int) -> Column:
        if ts[i]:
            return F.timestamp_micros(F.lit(v))
        return F.lit(v).cast(types[i])

    return [F.array(*[lit(r[i], i) for r in picked]) for i in range(len(ts))]


def _after(keys: list, bound: list[Column]) -> Column:
    """The row sorts strictly after ``bound``, lexicographically, each
    key in its own direction and null order.  Spark's ``>`` and ``<=>``
    put NaN above every number and equal to itself, as its sort does."""
    expr = None
    for (k, desc, nulls_last), b in reversed(list(zip(keys, bound))):
        cmp = k < b if desc else k > b
        if nulls_last:  # a null bound is after every row
            gt = b.isNotNull() & (k.isNull() | cmp)
        else:  # a null bound is before every non-null key
            gt = F.coalesce(cmp, b.isNull() & k.isNotNull())
        eq = k.eqNullSafe(b)
        expr = gt if expr is None else gt | (eq & expr)
    return expr


def _with_pid(
    df: DataFrame, keys: list, arrays: list[Column], n_bounds: int
) -> DataFrame:
    """``df`` plus ``__pid``, the number of bounds the row sorts strictly
    after, by binary lifting: step s adds s when the row sorts after
    bound ``__pid + s``.  Each step is one small projection, so the plan
    grows with log P; a CASE tree over every bound outgrows whole-stage
    codegen near P = 128."""
    names = [f"__b{i}" for i in range(len(arrays))]
    out = df.withColumns(dict(zip(names, arrays), __pid=F.lit(0)))
    step = (1 << n_bounds.bit_length()) >> 1
    while step:
        idx = F.col("__pid") + step
        after = _after(keys, [F.element_at(b, idx) for b in names])
        # the outer CASE keeps element_at in range (ANSI raises past it)
        hit = F.when(idx <= n_bounds, F.when(after, step).otherwise(0))
        out = out.withColumn("__pid", F.col("__pid") + hit.otherwise(0))
        step >>= 1
    return out.drop(*names)


def _range_offsets(
    df: DataFrame, order_cols: list[Column], aggs: dict[str, Column]
) -> tuple[DataFrame, WindowSpec]:
    """(joined, w): ``joined`` is ``df`` + ``__pid`` + for each of
    ``aggs`` (name -> aggregate) its exclusive prefix over the lower
    ``__pid``s under ``name`` and its grand total under ``name_all``;
    ``w`` is the window partitioned by ``__pid`` in ``order_cols``
    order."""
    keys = _sort_keys(df, order_cols)
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    arrays = _bounds(df, order_cols, keys, parts) if parts > 1 else []
    ranged = _with_pid(df, keys, arrays, parts - 1 if arrays else 0)
    per = ranged.groupBy("__pid").agg(*[c.alias(n) for n, c in aggs.items()])
    # exclusive prefix sums over <= P rows: the one global window left
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    prefix = [
        F.coalesce(F.sum(n).over(w_off), F.lit(0)).alias(n) for n in aggs
    ]
    # the offsets reach the rows as ONE broadcast row holding a __pid map,
    # not through an equi-join on __pid: join-key lineage analysis
    # (dynamic pruning, runtime filters) expands the lifting steps
    # exponentially
    offsets = per.select(
        F.struct("__pid", F.struct(*prefix)).alias("e"), *aggs
    ).agg(
        F.map_from_entries(F.collect_list("e")).alias("__offs"),
        *[F.sum(n).alias(f"{n}_all") for n in aggs],
    )
    off = F.element_at("__offs", F.col("__pid"))
    joined = (
        ranged.crossJoin(F.broadcast(offsets))
        .withColumns({n: off[n] for n in aggs})
        .drop("__offs")
    )
    return joined, Window.partitionBy("__pid").orderBy(*order_cols)


def _row_numbers(
    df: DataFrame, order_cols: list[Column], out: str
) -> DataFrame:
    """``df`` plus its global row number in ``out`` and its row count in
    ``__n_all``."""
    joined, w = _range_offsets(df, order_cols, {"__n": F.count("*")})
    rank = (F.row_number().over(w) + F.col("__n")).cast("long")
    return joined.withColumn(out, rank).drop("__pid", "__n")


def global_row_number(
    df: DataFrame, order_cols: list[Column], out: str = "rank"
) -> DataFrame:
    """Exact ``ROW_NUMBER() OVER (ORDER BY order_cols)`` as a fully
    distributed plan (no Exchange SinglePartition).  ``order_cols``
    must be a total order for deterministic output."""
    return _row_numbers(df, order_cols, out).drop("__n_all")


def global_ntile(
    df: DataFrame, n: int, order_cols: list[Column], out: str = "tile"
) -> DataFrame:
    """Exact ``NTILE(n) OVER (ORDER BY order_cols)`` distributed the
    same way.  Implements the SQL-standard tile rule from the global
    rank and total count N: with q = N div n, r = N mod n, the first
    r tiles hold q+1 rows and the rest hold q — bit-identical to
    Spark's and DuckDB's NTILE, verified by the oracle hash gate."""
    ranked = _row_numbers(df, order_cols, "__rk")
    q = F.expr(f"__n_all div {n}")  # base tile size
    r = F.col("__n_all") % n  # this many leading tiles hold q+1 rows
    big = r * (q + 1)  # rows covered by the larger tiles
    tile = F.when(
        F.col("__rk") <= big,
        F.ceil(F.col("__rk") / (q + 1)),
    ).otherwise(r + F.ceil((F.col("__rk") - big) / F.greatest(q, F.lit(1))))
    return ranked.withColumn(out, tile.cast("int")).drop("__rk", "__n_all")


def global_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    sum_col: str,
    out: str = "cumsum",
) -> DataFrame:
    """Exact global running sum of ``sum_col`` in ``order_cols`` order,
    distributed the same two-phase way: per-``__pid`` sums -> bounded
    prefix offsets -> partition-local cumulative window + offset."""
    joined, w = _range_offsets(df, order_cols, {"__s": F.sum(sum_col)})
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    cum = (F.sum(sum_col).over(w_cum) + F.col("__s")).cast("long")
    return joined.withColumn(out, cum).drop("__pid", "__s", "__s_all")


def global_rank_methods(
    df: DataFrame,
    value_col: str,
    ascending: bool = True,
    prefix: str = "rank_",
) -> DataFrame:
    """Tie-aware GLOBAL ranks — cudf ``DataFrame.rank``'s four methods
    (upstream: cpp/src/sorts/rank.cu RANK_METHOD) with no partition
    key, fully distributed.  Ranks only the DISTINCT values (with tie
    counts), derives every method from the running tie count, and
    equi-joins the per-value ranks back onto the rows:

      dense = global row number of the distinct value
      max   = inclusive running sum of tie counts
      min   = max - ties + 1
      avg   = (min + max) / 2  (exact: .5 fractions are representable)

    NULL values follow the pandas/cudf ``rank`` convention: the row is
    KEPT with null ranks and does not consume a rank position (ranks
    are computed over non-null values only).  Before round 9 the final
    equi-join silently DROPPED null-valued rows — the null-injection
    replay caught it.

    Adds ``<prefix>min/max/avg/dense`` columns.  Ties make min/max/avg
    diverge, which is the whole point of the method family; the
    distinct table is what shuffles (bounded by value cardinality —
    which for continuous columns approaches data size, so the dense
    row-number and the tie-count running sum are FUSED into a single
    ranged pass: one ``__pid`` exchange, both prefix offsets from the
    same bounded per-``__pid`` rollup); the full data moves only
    through the final equi-join."""
    order = [F.asc(value_col) if ascending else F.desc(value_col)]
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(F.count("*").alias("__ties"))
    )
    aggs = {"__n": F.count("*"), "__s": F.sum("__ties")}
    joined, w = _range_offsets(g, order, aggs)
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    g2 = joined.select(
        value_col,
        "__ties",
        (F.row_number().over(w) + F.col("__n")).cast("long").alias("__dense"),
        (F.sum("__ties").over(w_cum) + F.col("__s"))
        .cast("long")
        .alias("__cmax"),
    )
    ranks = g2.select(
        value_col,
        (F.col("__cmax") - F.col("__ties") + 1).alias(f"{prefix}min"),
        F.col("__cmax").alias(f"{prefix}max"),
        (
            (2 * F.col("__cmax") - F.col("__ties") + 1) / 2.0
        ).alias(f"{prefix}avg"),
        F.col("__dense").alias(f"{prefix}dense"),
    )
    # LEFT join keeps null-valued rows (their rank columns stay null);
    # non-null keys always hit exactly one ranks row
    return df.join(ranks, value_col, "left")
