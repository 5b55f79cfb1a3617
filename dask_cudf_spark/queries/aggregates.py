"""Aggregation family (SURVEY.md §2.4).

Reference: dask_cudf's partial->tree-combine->final groupby pipeline
(upstream: python/dask_cudf/dask_cudf/groupby.py, groupby_agg) over cudf
hash groupby (cpp/src/groupby/hash/).  Spark's partial/final
HashAggregate is the same algorithm built-in; every query here should
plan as HashAggregate(partial) -> Exchange -> HashAggregate(final) with
map-side combine — verified in tests/test_plans.py.

Float discipline: see functions/det.py (scaled-integer sums).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import (
    avg_from_cents,
    scaled_int,
    scaled_sum,
    sql_avg_from_cents,
    sql_scaled_sum,
)
from ..registry import register
from ..sources import load_table


@register(
    "q_groupby_sum",
    family="aggregate",
    oracle=f"""
        SELECT
            l_returnflag,
            l_linestatus,
            CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty,
            {sql_scaled_sum("l_extendedprice", 100)} AS sum_base_price,
            {sql_scaled_sum("l_extendedprice * (1 - l_discount)", 10000)} AS sum_disc_price,
            {sql_scaled_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 1000000)} AS sum_charge,
            (CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) AS DOUBLE) / COUNT(*)) AS avg_qty,
            {sql_avg_from_cents("l_extendedprice")} AS avg_price,
            {sql_avg_from_cents("l_discount")} AS avg_disc,
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary — scan+filter+multi-agg
    (reference groupby.agg with sum/mean/count; upstream groupby.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("double").alias("sum_qty"),
            scaled_sum("l_extendedprice", 100).alias("sum_base_price"),
            scaled_sum(disc_price, 10000).alias("sum_disc_price"),
            scaled_sum(charge, 1000000).alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("long")).cast("double") / F.count("*")).alias(
                "avg_qty"
            ),
            avg_from_cents("l_extendedprice").alias("avg_price"),
            avg_from_cents("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_groupby_mean",
    family="aggregate",
    oracle=f"""
        SELECT
            c_mktsegment,
            {sql_avg_from_cents("c_acctbal")} AS avg_bal,
            COUNT(*) AS n_cust
        FROM customer
        GROUP BY c_mktsegment
    """,
)
def q_groupby_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean via sum/count recombine (reference groupby.py _finalize_gb_agg)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        avg_from_cents("c_acctbal").alias("avg_bal"),
        F.count("*").alias("n_cust"),
    )


@register(
    "q_groupby_std",
    family="aggregate",
    oracle="""
        SELECT
            l_returnflag,
            ROUND(stddev_samp(l_quantity), 6) AS std_qty,
            ROUND(var_samp(l_quantity), 6) AS var_qty,
            ROUND(var_pop(l_quantity), 6) AS var_qty_pop
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_groupby_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """var/std with ddof recombine (reference groupby.py _var_agg; ddof=1
    pandas default = _samp, ddof=0 = _pop).  Rounded 6dp: variance
    recombination order differs across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_qty_pop"),
    )


@register(
    "q_groupby_multi",
    family="aggregate",
    oracle=f"""
        SELECT
            l_returnflag,
            l_linestatus,
            MIN(l_quantity) AS min_qty,
            MAX(l_quantity) AS max_qty,
            COUNT(*) AS n_rows,
            COUNT(DISTINCT l_partkey) AS n_parts,
            {sql_scaled_sum("l_extendedprice", 100)} AS sum_price,
            MIN(l_shipdate) AS first_ship,
            MAX(l_shipdate) AS last_ship
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key multi-agg dict form (reference
    groupby(keys).agg({col: [fns]}); upstream CudfDataFrameGroupBy.aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count("*").alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        scaled_sum("l_extendedprice", 100).alias("sum_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@register(
    "q_groupby_nunique",
    family="aggregate",
    oracle="""
        SELECT
            o_orderpriority,
            COUNT(DISTINCT o_custkey) AS n_cust,
            COUNT(DISTINCT o_orderstatus) AS n_status
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def q_groupby_nunique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nunique per group (reference groupby.nunique via drop_duplicates
    partials) — Spark plans expand + two-phase distinct aggregation."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderstatus").alias("n_status"),
    )


@register(
    "q_groupby_collect",
    family="aggregate",
    oracle="""
        SELECT
            l_orderkey,
            -- FILTER + COALESCE (r12 relational corpus, seed 9001):
            -- Spark's collect_list SKIPS null elements and an all-null
            -- group yields [] -> '' after array_join, while DuckDB's
            -- list() keeps nulls and yields NULL on the empty case
            COALESCE(array_to_string(list_sort(
                list(l_linenumber) FILTER (WHERE l_linenumber IS NOT NULL)
            ), ','), '') AS line_numbers,
            COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_orderkey <= 200
        GROUP BY l_orderkey
    """,
)
def q_groupby_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect-list agg (reference cudf 'collect'); array_sort + join for
    a deterministic, hashable representation."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("line_numbers"),
        F.count("*").alias("n_lines"),
    )


@register(
    "q_groupby_minmaxby",
    family="aggregate",
    oracle="""
        SELECT
            o_orderpriority,
            MIN(CASE WHEN o_totalprice IS NOT NULL THEN
                struct_pack(p := o_totalprice, k := o_orderkey) END)['k']
                AS cheapest_order,
            MAX(CASE WHEN o_totalprice IS NOT NULL THEN
                struct_pack(p := o_totalprice, k := o_orderkey) END)['k']
                AS priciest_order,
            MIN(o_totalprice) AS min_price,
            MAX(o_totalprice) AS max_price
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def q_groupby_minmaxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """idxmin/idxmax (reference cudf argmin/argmax aggs) as min_by/max_by
    — also the deterministic stand-in for first/last (SURVEY §5.3).

    The ordering key is a (price, orderkey) STRUCT, not the bare price:
    min_by over a tied ordering value picks an arbitrary row, and the
    r10 zero-injection leg produced exactly such ties (duplicate 0.0
    prices) with each engine picking a different orderkey.  The struct
    makes the ordering TOTAL (ties break to the lower/higher key on
    both engines' lexicographic struct compare); the IS NOT NULL guard
    preserves plain min_by's skip-null-ordering semantics, since a
    struct wrapping a null price would otherwise participate and sort
    first.  DuckDB 1.0's min_by rejects STRUCT ordering, so the oracle
    uses the equivalent MIN(struct)-extract."""
    o = load_table(spark, sf_dir, "orders")
    by = F.when(
        F.col("o_totalprice").isNotNull(),
        F.struct("o_totalprice", "o_orderkey"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.min_by("o_orderkey", by).alias("cheapest_order"),
        F.max_by("o_orderkey", by).alias("priciest_order"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "q_reduce_stats",
    family="aggregate",
    oracle=f"""
        SELECT
            COUNT(*) AS n_rows,
            CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) AS DOUBLE) AS total_qty,
            MIN(l_extendedprice) AS min_price,
            MAX(l_extendedprice) AS max_price,
            {sql_avg_from_cents("l_extendedprice")} AS avg_price,
            COUNT(DISTINCT l_suppkey) AS n_supp
        FROM lineitem
    """,
)
def q_reduce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-frame reductions (reference dask tree reductions: df.sum()
    etc.) — single global aggregate, partial combine per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).cast("double").alias("total_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        avg_from_cents("l_extendedprice").alias("avg_price"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )


@register(
    "q_value_counts",
    family="aggregate",
    oracle="""
        SELECT event_type, COUNT(*) AS count
        FROM events
        GROUP BY event_type
    """,
)
def q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_counts (reference cudf/dask idiom groupby-size sort desc)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("count")).orderBy(
        F.desc("count"), "event_type"
    )


@register(
    "q_distinct",
    family="aggregate",
    oracle="""
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates (reference cpp/src/stream_compaction/distinct.cu;
    dask tree version) — Spark plans it as a grouping aggregate."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@register(
    "q_drop_dup_keep_first",
    family="aggregate",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate
        FROM (
            SELECT o_custkey, o_orderkey, o_orderdate,
                   ROW_NUMBER() OVER (
                       -- NULLS LAST pinned on both sides: an undated
                       -- order must not win "first" (round-9 null leg)
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate NULLS LAST, o_orderkey) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
)
def q_drop_dup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates(subset=, keep='first') with a defined order —
    the window row_number idiom (SURVEY §2.4)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


@register(
    "q_groupby_quantile",
    family="aggregate",
    oracle="""
        SELECT
            l_returnflag,
            quantile_cont(l_quantity, 0.5) AS qty_median,
            quantile_cont(l_quantity, 0.9) AS qty_p90
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_groupby_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentile per group (reference cudf groupby
    quantile, cpp/src/groupby/sort/group_quantiles.cu).  Spark
    `percentile` and DuckDB `quantile_cont` both linear-interpolate;
    l_quantity is integral so midpoints are exact binary fractions."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("qty_median"),
        F.expr("percentile(l_quantity, 0.9)").alias("qty_p90"),
    )


@register(
    "q_approx_quantile",
    family="aggregate",
    oracle="""
        SELECT l_returnflag,
               TRUE AS p50_rank_ok,
               TRUE AS p99_rank_ok
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (reference dask percentile / cudf approx)
    via percentile_approx — the 100TB-scale path (single-pass mergeable
    sketch, no global sort).  Sketch values are engine-specific, so the
    oracle-checkable contract is the sketch's OWN guarantee, asserted
    Spark-side and stated as TRUE by the oracle.

    The contract is the RANK bound — the only bound percentile_approx
    actually promises: the returned value is an element of the group
    whose rank r satisfies |r - q*n| <= eps*n (eps = 1/accuracy), i.e.
    count(x < a) <= (q + eps')*n AND count(x <= a) >= (q - eps')*n.
    The previous value-relative band (|a - e| <= 1% of the INTERPOLATED
    exact percentile) was a clean-data artifact: the r12 relational
    corpus broke it on small hostile groups, where interpolation falls
    between widely-spaced elements and any element is >1% away — a
    false alarm the sketch never promised to avoid (seed 9000).
    eps' adds 2/n definitional slop for boundary rounding.

    Scale: sketch agg (one shuffle) + one co-partitioned join back +
    rank-count agg — all keyed on the group column; nothing collects."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50a"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99a"),
    )
    # null-SAFE join back (NULL is a real group key here — a plain
    # equi-join would strand the NULL group without its sketch row and
    # fail the contract vacuously)
    agg_r = agg.withColumnRenamed("l_returnflag", "__rf")
    joined = li.select("l_returnflag", "l_extendedprice").join(
        agg_r, F.col("l_returnflag").eqNullSafe(F.col("__rf")), "left"
    ).drop("__rf")
    counts = joined.groupBy("l_returnflag").agg(
        F.count(x).alias("n"),
        F.first("p50a").alias("p50a"),
        F.first("p99a").alias("p99a"),
        F.count(F.when(x < F.col("p50a"), 1)).alias("lt50"),
        F.count(F.when(x <= F.col("p50a"), 1)).alias("le50"),
        F.count(F.when(x < F.col("p99a"), 1)).alias("lt99"),
        F.count(F.when(x <= F.col("p99a"), 1)).alias("le99"),
    )

    def rank_ok(q: float, lt: str, le: str):
        n = F.col("n").cast("double")
        eps = F.lit(1e-4) + F.lit(2.0) / n
        cond = (F.col(lt) <= (F.lit(q) + eps) * n) & (
            F.col(le) >= (F.lit(q) - eps) * n
        )
        # empty group (all-null values): sketch returns NULL -> the
        # contract is vacuously met, matching the oracle's constant TRUE
        return F.when(F.col("n") == 0, F.lit(True)).otherwise(
            F.coalesce(cond, F.lit(False))
        )

    return counts.select(
        "l_returnflag",
        rank_ok(0.5, "lt50", "le50").alias("p50_rank_ok"),
        rank_ok(0.99, "lt99", "le99").alias("p99_rank_ok"),
    )


@register(
    "q_approx_nunique",
    family="aggregate",
    oracle="""
        SELECT l_returnflag,
               TRUE AS approx_within_5pct
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_approx_nunique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nunique_approx (reference dask HyperLogLog) -> approx_count_distinct.
    The scale path for distinct counting: mergeable sketch, no shuffle of
    distinct values.  Like q_approx_quantile, the oracle checks the
    ACCURACY CONTRACT (rsd=0.01 estimate within 5% of exact), not the
    engine-specific estimate itself."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_n"),
        F.countDistinct("l_partkey").alias("exact_n"),
    )
    # max(5% relative, 2 absolute): rsd is a STANDARD DEVIATION, not a
    # hard bound, and at tiny cardinalities one in-sketch hash
    # collision is an off-by-one that no relative band survives
    # (r12 relational corpus, seed 9128: approx 16 vs exact 17 in a
    # 17-distinct hostile group -> 1 > 0.85).  Groups with 0 distinct
    # values (all-null) pass vacuously: |0 - 0| <= 2.
    return agg.select(
        "l_returnflag",
        (
            F.abs(F.col("approx_n") - F.col("exact_n"))
            <= F.greatest(0.05 * F.col("exact_n"), F.lit(2.0))
        ).alias("approx_within_5pct"),
    )


@register(
    "q_corr_cov",
    family="aggregate",
    oracle="""
        SELECT
            ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
            ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_cov
        FROM lineitem
    """,
)
def q_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson corr / sample covariance (reference cudf
    reductions + dask recombine).  Rounded: recombination order differs."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_cov"),
    )


@register(
    "q_cube_rollup",
    family="aggregate",
    oracle="""
        SELECT
            COALESCE(l_returnflag, 'ALL') AS returnflag,
            COALESCE(l_linestatus, 'ALL') AS linestatus,
            COUNT(*) AS n_rows,
            CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — absent in the reference (pandas model);
    free upside in our engine (SURVEY §2.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).cast("double").alias("sum_qty"),
    ).select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "n_rows",
        "sum_qty",
    )


@register(
    "q_udaf_grouped",
    family="udf",
    oracle=f"""
        SELECT
            l_returnflag,
            {sql_scaled_sum("l_extendedprice * (1 - l_discount)", 10000)} AS revenue,
            COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby.apply(udf) (reference dask groupby apply -> one partition
    per group) as applyInPandas.  Inside the UDF we sum scaled int64 —
    exact, so this *is* oracle-checkable despite being a Python UDF.
    Scale note: Arrow-batched; each group must fit in executor memory —
    fine for bounded group counts, use built-in aggs otherwise."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        scaled_int(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000
        ).alias("rev_scaled"),
    )

    def agg_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # min_count=1: SQL SUM semantics — all-null group -> NULL, not
        # pandas' default 0.0 (the r10 100%-null leg divergence)
        s = pdf["rev_scaled"].sum(min_count=1)
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "revenue": [None if pd.isna(s) else float(s) / 10000.0],
                "n_rows": [len(pdf)],
            }
        )

    return li.groupBy("l_returnflag").applyInPandas(
        agg_group, schema="l_returnflag string, revenue double, n_rows bigint"
    )


@register(
    "q_pivot_onehot",
    family="aggregate",
    oracle="""
        SELECT
            source,
            CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
            CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh,
            CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
            CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
            CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de
        FROM documents
        GROUP BY source
    """,
)
def q_pivot_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot / get_dummies (reference str.get_dummies, cudf
    one_hot_encoding) as the pivot idiom.  Explicit pivot values keep
    the schema static (no extra distinct-values job) — required for a
    deterministic plan and a single pass at scale."""
    d = load_table(spark, sf_dir, "documents")
    out = (
        d.groupBy("source")
        .pivot("lang", ["en", "zh", "fr", "es", "de"])
        .count()
    )
    return out.select(
        "source",
        *[
            F.coalesce(F.col(lang), F.lit(0)).cast("long").alias(f"n_{lang}")
            for lang in ["en", "zh", "fr", "es", "de"]
        ],
    )


@register(
    "q_bucketize_hist",
    family="aggregate",
    oracle="""
        SELECT
            CAST(FLOOR(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
            COUNT(*) AS n,
            ROUND(MIN(l_extendedprice), 2) AS lo,
            ROUND(MAX(l_extendedprice), 2) AS hi
        FROM lineitem
        GROUP BY 1
    """,
)
def q_bucketize_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """digitize/cut histogram (cudf digitize; pandas cut) via fixed-width
    bucket arithmetic — pure codegen expression, one shuffle on the
    (low-cardinality) bucket id."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 10000.0).cast("long")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


@register(
    "q_factorize",
    family="aggregate",
    oracle="""
        WITH codes AS (
            SELECT c_mktsegment,
                   DENSE_RANK() OVER (ORDER BY c_mktsegment NULLS LAST)
                       - 1 AS code
            FROM (SELECT DISTINCT c_mktsegment FROM customer)
        )
        SELECT c.c_custkey, c.c_mktsegment, CAST(k.code AS BIGINT) AS code
        FROM customer c JOIN codes k USING (c_mktsegment)
        WHERE c.c_custkey < 200
    """,
)
def q_factorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """factorize / categorical codes (cudf factorize): build the code
    table from the DISTINCT values (small), window-rank THAT, then
    broadcast-join codes back.  A global dense_rank over the full table
    would funnel every row through one partition; ranking only the
    distinct set keeps the window trivial and the join broadcast."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    codes = (
        c.select("c_mktsegment")
        .distinct()
        .withColumn(
            # NULLS LAST pinned on both sides: a null category must not
            # shift the non-null codes (Spark defaults nulls FIRST,
            # which renumbered every real segment +1 — round-9 leg)
            "code",
            (
                F.dense_rank().over(
                    Window.orderBy(F.asc_nulls_last("c_mktsegment"))
                )
                - 1
            ).cast("long"),
        )
    )
    return (
        c.filter(F.col("c_custkey") < 200)
        .join(F.broadcast(codes), on="c_mktsegment")
        .select("c_custkey", "c_mktsegment", "code")
    )


@register(
    "q_describe",
    family="aggregate",
    oracle="""
        SELECT 'l_quantity' AS col,
               COUNT(l_quantity) AS n,
               ROUND(AVG(l_quantity), 6) AS mean,
               ROUND(STDDEV_SAMP(l_quantity), 6) AS std,
               CAST(MIN(l_quantity) AS DOUBLE) AS min,
               CAST(MAX(l_quantity) AS DOUBLE) AS max
        FROM lineitem
        UNION ALL
        SELECT 'l_discount' AS col,
               COUNT(l_discount) AS n,
               ROUND(AVG(l_discount), 6) AS mean,
               ROUND(STDDEV_SAMP(l_discount), 6) AS std,
               CAST(MIN(l_discount) AS DOUBLE) AS min,
               CAST(MAX(l_discount) AS DOUBLE) AS max
        FROM lineitem
    """,
)
def q_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe() (dask/cudf describe -> count/mean/std/min/max per
    column), typed (df.summary() returns strings).  One aggregate scan
    per column batch; Catalyst shares the underlying scan."""
    li = load_table(spark, sf_dir, "lineitem")

    def stats(colname: str) -> DataFrame:
        c = F.col(colname)
        return li.agg(
            F.lit(colname).alias("col"),
            F.count(c).alias("n"),
            F.round(F.avg(c), 6).alias("mean"),
            F.round(F.stddev_samp(c), 6).alias("std"),
            F.min(c).cast("double").alias("min"),
            F.max(c).cast("double").alias("max"),
        )

    return stats("l_quantity").unionAll(stats("l_discount"))


@register(
    "q_skew_salted_sum",
    family="partitioning",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) AS BIGINT) AS sum_l_quantity
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_skew_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase sum (operators/skew.salted_sum): partial over
    (key, salt) bounds any hot key's per-task state to n_salts chunks;
    the recombine shuffles only n_keys x n_salts rows.  Identical result
    to a direct groupBy — the oracle is the direct form."""
    from ..operators.skew import salted_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    return salted_sum(
        li, ["l_returnflag"], "q", n_salts=16, salt_on="l_returnflag"
    ).withColumnRenamed("sum_q", "sum_l_quantity")


@register(
    "q_skew_salted_collect",
    family="partitioning",
    oracle="""
        SELECT l_returnflag,
               array_to_string(list_sort(list(l_orderkey)), ',') AS l_orderkey_csv
        FROM lineitem
        WHERE l_orderkey < 500
        GROUP BY l_returnflag
    """,
)
def q_skew_salted_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe collect_list (operators/skew.salted_collect): per-salt
    chunks flatten after the shuffle, so no task buffers a hot key's
    whole list.  The sorted list is array_join'd to a comma string so
    the result is hashable by row-wise comparators (same idiom as
    q_groupby_collect)."""
    from ..operators.skew import salted_collect

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    collected = salted_collect(
        li, ["l_returnflag"], "l_orderkey", n_salts=8, salt_on="l_orderkey"
    )
    return collected.select(
        "l_returnflag",
        F.array_join(
            F.transform(F.col("l_orderkey_list"), lambda x: x.cast("string")),
            ",",
        ).alias("l_orderkey_csv"),
    )


@register(
    "q_skew_salted_nunique",
    family="partitioning",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_l_suppkey
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_skew_salted_nunique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct count (operators/skew.
    salted_count_distinct): value-hash salting splits a hot key's
    distinct set across tasks with no double counting."""
    from ..operators.skew import salted_count_distinct

    li = load_table(spark, sf_dir, "lineitem")
    return salted_count_distinct(
        li, ["l_returnflag"], "l_suppkey", n_salts=16
    ).withColumn(
        "n_distinct_l_suppkey", F.col("n_distinct_l_suppkey").cast("long")
    )


@register(
    "q_grouping_sets",
    family="aggregate",
    oracle="""
        SELECT
            COALESCE(l_returnflag, 'ALL') AS rf,
            COALESCE(l_linestatus, 'ALL') AS ls,
            CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
            COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (absent in the reference's pandas model,
    SURVEY.md §2.4 'free upside'): three aggregation grains in ONE scan
    + one shuffle, vs three separate groupBys in the reference idiom."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT
            COALESCE(l_returnflag, 'ALL') AS rf,
            COALESCE(l_linestatus, 'ALL') AS ls,
            SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
            COUNT(*) AS n
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """
    )


@register(
    "q_mode_bool_agg",
    family="aggregate",
    oracle="""
        WITH per AS (
            SELECT
                event_type,
                CAST(hour(ts) AS BIGINT) AS hr,
                COUNT(*) AS cnt,
                bool_and(value > 0)   AS ba,
                bool_or(value > 500)  AS bo
            FROM events
            GROUP BY event_type, hour(ts)
        ),
        md AS (
            SELECT event_type, hr AS mode_hour FROM (
                SELECT event_type, hr,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY cnt DESC, hr DESC) AS rn
                FROM per
            ) WHERE rn = 1
        )
        SELECT
            a.event_type,
            m.mode_hour,
            a.all_positive,
            a.any_large
        FROM (
            SELECT event_type,
                   bool_and(ba) AS all_positive,
                   bool_or(bo)  AS any_large
            FROM per GROUP BY event_type
        ) a JOIN md m
            -- null-safe: a NULL event_type is a real group in both
            -- engines; USING would drop it (round-9 null leg)
            ON a.event_type IS NOT DISTINCT FROM m.event_type
    """,
)
def q_mode_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode + bool_and/bool_or (pandas Series.mode /
    groupby.all/any; cudf groupby all/any reductions).

    Spark's built-in F.mode is tie-nondeterministic, so the mode is
    computed as a two-level aggregation with an explicit tiebreak:
    count per (event_type, hour), then max(struct(cnt, hr)) picks the
    most frequent hour, ties resolved to the LARGEST hour — the same
    total order the oracle's ORDER BY cnt DESC, hr DESC encodes.
    bool_and/bool_or re-aggregate losslessly over the first level
    (all-of-alls, any-of-anys), so the whole query is one scan and two
    shuffles (the second over |event_type| x 24 rows — trivial at any
    scale).  Both levels plan as partial->final HashAggregate."""
    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.groupBy("event_type", F.hour("ts").cast("long").alias("hr"))
        .agg(
            F.count("*").alias("cnt"),
            F.bool_and(F.col("value") > 0).alias("ba"),
            F.bool_or(F.col("value") > 500).alias("bo"),
        )
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.max(F.struct("cnt", "hr")).getField("hr").alias("mode_hour"),
            F.bool_and("ba").alias("all_positive"),
            F.bool_or("bo").alias("any_large"),
        )
        .select("event_type", "mode_hour", "all_positive", "any_large")
    )


@register(
    "q_crosstab",
    family="aggregate",
    oracle="""
        SELECT
            lang,
            CAST(SUM(CASE WHEN n_chars < 220 THEN 1 ELSE 0 END) AS BIGINT)
                AS short_docs,
            CAST(SUM(CASE WHEN n_chars >= 220 AND n_chars < 380 THEN 1 ELSE 0 END)
                 AS BIGINT) AS medium_docs,
            CAST(SUM(CASE WHEN n_chars >= 380 THEN 1 ELSE 0 END) AS BIGINT)
                AS long_docs,
            COUNT(*) AS all_docs
        FROM documents
        GROUP BY lang
    """,
)
def q_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas/cudf crosstab (upstream: cudf.crosstab -> pivot_table
    count): contingency table of lang x document-length band with a row
    margin.  Expressed as conditional-sum pivoting (the scalable idiom:
    one map-side-combined shuffle into |langs| groups), not a pivot()
    call — identical output, and the band predicates fold into
    whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    short = F.col("n_chars") < 220
    medium = (F.col("n_chars") >= 220) & (F.col("n_chars") < 380)
    return docs.groupBy("lang").agg(
        F.sum(F.when(short, 1).otherwise(0)).alias("short_docs"),
        F.sum(F.when(medium, 1).otherwise(0)).alias("medium_docs"),
        F.sum(F.when(~short & ~medium, 1).otherwise(0)).alias("long_docs"),
        F.count("*").alias("all_docs"),
    )


@register(
    "q_cogroup_udf",
    family="udf",
    oracle="""
        SELECT c_custkey,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_s2,
               CAST(COUNT(o_custkey) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                      AS BIGINT)), 0) AS BIGINT)
                   AS total_spend_s2
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        WHERE c_custkey < 500
        GROUP BY c_custkey, c_acctbal
    """,
)
def q_cogroup_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map UDF (dask's align-two-frames-then-apply;
    upstream: dask map_partitions over aligned frames): customer and
    orders are co-partitioned on the key and each (cust_pdf, orders_pdf)
    pair is handed to ONE Python function — the escape hatch when
    per-key logic needs both sides at once and can't be a join+agg.
    Here the function computes order count + scaled spend so the result
    IS oracle-checkable as a LEFT JOIN aggregate.

    Scale: groupBy(...).cogroup(...).applyInPandas is exactly one hash
    shuffle per side (same as the equivalent join), Arrow-batched per
    key group; the closure is self-contained (numpy/pandas only, no
    module-level engine imports) so it pickles by value for workers
    that never saw this repo's sys.path."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .select("c_custkey", "c_acctbal")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 500)
        .select("o_custkey", "o_totalprice")
    )

    def merge(key, cpdf, opdf):
        import numpy as np
        import pandas as pd

        # LEFT-join semantics (r12 relational corpus, seed 9001):
        # cogroup is a FULL-OUTER key alignment, so a dangling
        # orders-side FK (no such customer) still produces a group —
        # with an EMPTY cpdf.  The declared contract of this query is
        # the LEFT JOIN aggregate, so customer-less groups emit nothing.
        if not len(cpdf):
            return pd.DataFrame(
                {
                    "c_custkey": pd.array([], dtype="int64"),
                    "acctbal_s2": pd.array([], dtype="Int64"),
                    "n_orders": pd.array([], dtype="int64"),
                    "total_spend_s2": pd.array([], dtype="int64"),
                }
            )
        # SQL null discipline (round-9 leg): SUM skips NULL rows
        # (never floors a NaN into int garbage); a NULL balance stays
        # NULL through the scaling
        prices = opdf["o_totalprice"].to_numpy(dtype="float64")
        prices = prices[~np.isnan(prices)] if len(opdf) else prices
        spend = (
            int(np.floor(prices * 100 + 0.5).astype("int64").sum())
            if len(prices)
            else 0
        )
        balv = cpdf["c_acctbal"].iloc[0] if len(cpdf) else None
        bal = (
            int(np.floor(float(balv) * 100 + 0.5))
            if balv is not None and pd.notna(balv)
            else None
        )
        return pd.DataFrame(
            {
                "c_custkey": [key[0]],
                "acctbal_s2": pd.array([bal], dtype="Int64"),
                "n_orders": [len(opdf)],
                "total_spend_s2": [spend],
            }
        )

    return (
        cust.groupBy("c_custkey")
        .cogroup(orders.groupBy("o_custkey"))
        .applyInPandas(
            merge,
            "c_custkey bigint, acctbal_s2 bigint, n_orders bigint, "
            "total_spend_s2 bigint",
        )
    )


@register(
    "q_skew_salted_join",
    family="partitioning",
    oracle="""
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_s2
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⋈dim join (operators/skew.salted_join): lineitem
    joins part on (partkey, salt) with the dim replicated 8x, then
    rolls up revenue per brand.  The dim side carries a shuffle_hash
    hint so the demo exercises the real salted SHUFFLE join even at
    test scale where Spark would otherwise broadcast — at 100 TB this
    is the shape that survives one partkey owning half the fact table
    when the dim is too big to broadcast and AQE's partition-splitting
    can't divide a single hot KEY.  Result is provably identical to
    the plain join (the oracle runs the unsalted SQL)."""
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand")
        .hint("shuffle_hash")
    )
    joined = salted_join(
        li,
        part,
        "l_partkey",
        "p_partkey",
        salt_on=F.concat_ws(
            ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
        ),
        n_salts=8,
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")).alias(
            "revenue_s2"
        ),
    )


@register(
    "q_mad_outliers",
    family="aggregate",
    oracle="""
        WITH s AS (
            SELECT user_id, event_id,
                   CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS v_s4
            FROM events
        ),
        m AS (
            SELECT user_id, event_id, v_s4,
                   CAST(2 * quantile_cont(v_s4, 0.5)
                        OVER (PARTITION BY user_id) AS BIGINT) AS med2
            FROM s
        ),
        d AS (
            SELECT user_id, event_id, med2,
                   abs(2 * v_s4 - med2) AS dev2
            FROM m
        ),
        md AS (
            SELECT user_id, med2, dev2,
                   CAST(2 * quantile_cont(dev2, 0.5)
                        OVER (PARTITION BY user_id) AS BIGINT) AS mad4
            FROM d
        )
        SELECT user_id,
               COUNT(*) AS n_events,
               MIN(med2) AS med2_s4,
               MIN(mad4) AS mad4_s4,
               CAST(SUM(CASE WHEN 4 * dev2 > 3 * mad4 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM md
        GROUP BY user_id
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation (the
    data-quality screen that, unlike z-scores, a few extreme values
    can't poison): per user, flag readings with |v - median| > 1.5 MAD
    and report the robust stats.  Entirely in scaled-int space — the
    median of int64s lands on .0/.5 so 2x it is exact, deviations stay
    integral, and with dev2 = 2|v-med| and mad4 = 4*MAD the 1.5x
    threshold compares as 4*dev2 > 3*mad4 with no division —
    bit-identical on both engines.

    Plan: two full-partition window percentiles + the final rollup all
    share ONE shuffle on user_id (Spark keeps the partitioning across
    the dependent window passes)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 10000 + 0.5).cast("long").alias("v_s4"),
    )
    w = Window.partitionBy("user_id")
    m = s.withColumn(
        "med2", (2 * F.expr("percentile(v_s4, 0.5)").over(w)).cast("long")
    )
    d = m.withColumn("dev2", F.abs(2 * F.col("v_s4") - F.col("med2")))
    md = d.withColumn(
        "mad4", (2 * F.expr("percentile(dev2, 0.5)").over(w)).cast("long")
    )
    return md.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.min("med2").alias("med2_s4"),
        F.min("mad4").alias("mad4_s4"),
        # exact CASE mirror of the oracle: a row whose deviation is
        # unknown (NULL value) is NOT a flagged outlier — it contributes
        # 0, so an all-null user reports 0 outliers, not NULL (a bare
        # sum(bool cast) skips nulls and returns NULL when every row is
        # null — the r10 100%-null leg divergence)
        F.sum(
            F.when(4 * F.col("dev2") > 3 * F.col("mad4"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )


@register(
    "q_decimal_agg",
    family="aggregate",
    oracle="""
        SELECT o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price,
               CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS min_price,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS max_price,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def q_decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point aggregation (cuDF Decimal32/64/128Dtype lattice,
    SURVEY §1): cast to DECIMAL(18,2) first, so the grouped SUM is exact
    integer arithmetic — no float accumulation-order nondeterminism —
    then one final cast to DOUBLE for the comparator.  This is the
    money-column pattern: at 100 TB a double SUM drifts with partitioning
    while a decimal SUM is bit-stable under any shuffle schedule.

    Scale: single groupBy with map-side partial aggregation; Spark
    widens the accumulator to DECIMAL(28,2) automatically (no overflow
    below ~1e26 total)."""
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.groupBy("o_orderpriority").agg(
        F.sum(dec).cast("double").alias("total_price"),
        F.min(dec).cast("double").alias("min_price"),
        F.max(dec).cast("double").alias("max_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "q_funnel_steps",
    family="aggregate",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(ts) FILTER (event_type = 'view')     AS t_view,
                   MIN(ts) FILTER (event_type = 'click')    AS t_click,
                   MIN(ts) FILTER (event_type = 'purchase') AS t_purchase
            FROM events
            GROUP BY user_id
        )
        SELECT COUNT(*) AS n_users,
               COUNT(t_view) AS n_view,
               COUNT(*) FILTER (t_click > t_view) AS n_view_then_click,
               COUNT(*) FILTER (t_click > t_view AND t_purchase > t_click)
                   AS n_full_funnel
        FROM per_user
    """,
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-funnel rollup: per user take the FIRST occurrence of
    each step (view -> click -> purchase) and count users whose first
    occurrences happen in funnel order.  The standard product-analytics
    query over an event stream.

    Scale: conditional MIN aggregates give one row per user after a
    single map-side-combined shuffle on user_id; the funnel comparison
    is then a driver-free global aggregate over that reduced set.  No
    windows, no self-joins (the naive formulation is a 3-way self-join
    on user_id), no UDFs."""
    ev = load_table(spark, sf_dir, "events")
    step = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        step("view").alias("t_view"),
        step("click").alias("t_click"),
        step("purchase").alias("t_purchase"),
    )
    vc = F.col("t_click") > F.col("t_view")
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(vc, 1)).alias("n_view_then_click"),
        F.count(F.when(vc & (F.col("t_purchase") > F.col("t_click")), 1)).alias(
            "n_full_funnel"
        ),
    )


@register(
    "q_retention_cohort",
    family="aggregate",
    oracle="""
        WITH wk AS (
            SELECT user_id, date_trunc('week', ts) AS week FROM events
        ),
        coh AS (
            SELECT DISTINCT
                   user_id,
                   MIN(week) OVER (PARTITION BY user_id) AS cohort_week,
                   week
            FROM wk
        )
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT)
                   AS week_offset,
               COUNT(*) AS n_users
        FROM coh
        GROUP BY cohort_week, week_offset
    """,
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the week of their
    FIRST event; each later active week contributes to that cohort's
    (week_offset, n_users) cell — the standard product-analytics
    retention triangle over an event stream.

    Scale: one shuffle on user_id serves BOTH the first-seen window min
    and the (user, week) de-dup (the distinct's keys are a superset of
    the window's partitioning, so no re-shuffle); the final matrix agg
    then moves only |users x active weeks| de-duplicated rows.  No
    self-join (the naive formulation joins events to a first-seen
    subquery on user_id).  Weeks stay TIMESTAMP on both engines (DATE
    output types hash differently across engines)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    coh = wk.withColumn(
        "cohort_week",
        F.min("week").over(Window.partitionBy("user_id")),
    ).distinct()
    return coh.groupBy(
        "cohort_week",
        F.floor(
            F.datediff(F.col("week"), F.col("cohort_week")) / 7
        ).alias("week_offset"),
    ).agg(F.count("*").alias("n_users"))


@register(
    "q_drift_chi2",
    family="aggregate",
    oracle="""
        WITH binned AS (
            SELECT event_type, CAST(FLOOR(value / 50) AS BIGINT) AS bin
            FROM events WHERE event_type IN ('view', 'click')
        ),
        o AS (
            SELECT bin,
                   CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT)
                       AS o_view,
                   CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)
                       AS o_click
            FROM binned GROUP BY bin
        ),
        tot AS (
            SELECT CAST(SUM(o_view) AS BIGINT) AS n_v,
                   CAST(SUM(o_click) AS BIGINT) AS n_c,
                   CAST(SUM(o_view) + SUM(o_click) AS BIGINT) AS n
            FROM o
        )
        SELECT bin, o_view, o_click,
               CAST(ROUND((
                   ((o_view - ((o_view + o_click) * n_v) / n)
                    * (o_view - ((o_view + o_click) * n_v) / n))
                   / (((o_view + o_click) * n_v) / n)
                   +
                   ((o_click - ((o_view + o_click) * n_c) / n)
                    * (o_click - ((o_view + o_click) * n_c) / n))
                   / (((o_view + o_click) * n_c) / n)
               ) * 1000000, 0) AS BIGINT) AS chi2_s6
        FROM o CROSS JOIN tot
    """,
)
def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check: per-bin chi-square homogeneity
    contributions between two event populations (the ML-ops data-drift
    test; the log-free cousin of PSI).  Expected counts come from the
    pooled marginals; each bin's contribution sum((o-e)^2/e) over the
    two groups is computed with the IDENTICAL arithmetic sequence on
    both engines (integer products, one double division, fixed group
    order) and scaled to a BIGINT, so the oracle hash is exact and the
    total is an exact integer sum downstream.

    Scale: binning is map-side; ONE (bin) shuffle with map-side partial
    counts builds the contingency table (|bins| rows); the marginal
    totals broadcast back as a 1-row literal.  No window, no
    self-join.  Headroom: the integer product row_total * col_total
    stays under 2^63 while N < ~3e9 rows in the two groups; beyond
    that, cast the marginals to DECIMAL before the multiply — same
    expressions, wider type."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    binned = ev.select(
        "event_type",
        F.floor(F.col("value") / 50).cast("long").alias("bin"),
    )
    o = binned.groupBy("bin").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("o_view"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("o_click"),
    )
    tot = o.agg(
        F.sum("o_view").alias("n_v"),
        F.sum("o_click").alias("n_c"),
        (F.sum("o_view") + F.sum("o_click")).alias("n"),
    )
    joined = o.crossJoin(F.broadcast(tot))
    e_v = (F.col("o_view") + F.col("o_click")) * F.col("n_v") / F.col("n")
    e_c = (F.col("o_view") + F.col("o_click")) * F.col("n_c") / F.col("n")
    contrib = (
        # try_divide: a population with ZERO views (or clicks) makes an
        # expected count 0 — NULL like the twin's /0, never an ANSI
        # raise (r14 ANSI program; latent, found by the division audit)
        F.try_divide(
            (F.col("o_view") - e_v) * (F.col("o_view") - e_v), e_v
        )
        + F.try_divide(
            (F.col("o_click") - e_c) * (F.col("o_click") - e_c), e_c
        )
    )
    return joined.select(
        "bin",
        "o_view",
        "o_click",
        F.round(contrib * 1000000, 0).cast("long").alias("chi2_s6"),
    )


@register(
    "q_basket_pairs",
    family="aggregate",
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT user_id,
                   CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT) AS item
            FROM events
        ),
        freq AS (
            SELECT item, COUNT(*) AS item_support FROM baskets
            GROUP BY item HAVING COUNT(*) >= 5
        ),
        pruned AS (
            SELECT b.user_id, b.item FROM baskets b JOIN freq USING (item)
        )
        SELECT item_a, item_b, support, rank FROM (
            SELECT a.item AS item_a, b.item AS item_b,
                   COUNT(*) AS support,
                   ROW_NUMBER() OVER (
                       ORDER BY COUNT(*) DESC, a.item, b.item
                   ) AS rank
            FROM pruned a JOIN pruned b
              ON a.user_id = b.user_id AND a.item < b.item
            GROUP BY a.item, b.item
        ) WHERE rank <= 20
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket 2-itemset mining with Apriori pruning (Agrawal &
    Srikant 1994): items are the props.k JSON field, a basket is a
    user's DISTINCT item set, and — the Apriori step — only items whose
    own support clears the threshold enter pair generation, so the
    within-basket self-join runs over pruned baskets, never raw events.
    Top-20 pairs by support, deterministic tie-break.

    Scale: the basket dedup repartitions on user_id (a subset of the
    dedup keys, so the distinct adds no second exchange) and the
    broadcast prune preserves that partitioning, so the pair join runs
    WITHOUT a join exchange — the plan's only data-sized shuffles are
    the per-reference basket builds (the subplan is referenced three
    times: freq + both pair sides; a production pipeline would
    ``persist()`` the deduped baskets to collapse those to one) and the
    final support rollup; top-20 is TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    # hash-partition on user_id ONLY, then dedup: HashPartitioning on a
    # subset of the distinct keys satisfies its ClusteredDistribution,
    # so the dedup adds no second exchange AND the downstream pair join
    # on user_id reuses the same partitioning — one corpus shuffle total
    baskets = (
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .repartition("user_id")
        .dropDuplicates(["user_id", "item"])
        # referenced three times (freq + both pair sides): the lazy
        # localCheckpoint materializes the deduped baskets ONCE and the
        # checkpointed RDD keeps its user_id HashPartitioning, so the
        # pair join still runs without a join exchange (r4 VERDICT
        # item 5 — sh=7 digest collapses).
        .localCheckpoint(eager=False)
    )
    freq = (
        baskets.groupBy("item")
        .agg(F.count("*").alias("item_support"))
        .filter(F.col("item_support") >= 5)
        .select("item")
    )
    pruned = baskets.join(F.broadcast(freq), "item").select("user_id", "item")
    a = pruned.select("user_id", F.col("item").alias("item_a"))
    b = pruned.select("user_id", F.col("item").alias("item_b"))
    from pyspark.sql import Window

    pairs = (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
    )
    top = pairs.orderBy(
        F.desc("support"), F.asc("item_a"), F.asc("item_b")
    ).limit(20)
    w = Window.orderBy(F.desc("support"), F.asc("item_a"), F.asc("item_b"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("item_a", "item_b", "support", "rank")


@register(
    "q_trend_slope",
    family="aggregate",
    oracle="""
        WITH base AS (
            SELECT user_id,
                   CAST((epoch_us(ts) - MIN(epoch_us(ts)) OVER w)
                        // 1000000 AS BIGINT) AS x,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS y
            FROM events
            WINDOW w AS (PARTITION BY user_id)
        ),
        agg AS (
            SELECT user_id, COUNT(*) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM base GROUP BY user_id
        )
        SELECT user_id, n,
               CAST(TRUNC(
                   CAST(n * sxy - sx * sy AS DOUBLE) * 1000000
                   / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0)
               ) AS BIGINT) AS slope_s6
        FROM agg
    """,
)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trend detection: the exact least-squares slope of event
    value over time, slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²), from five
    integer sufficient statistics — the monitoring analytic engines
    expose as regr_slope, here with x re-based to each user's first
    event (seconds) and y in cents so every sum is an exact BIGINT.
    The single division runs on identical int64→double conversions on
    both engines (IEEE-deterministic), 1e6-scaled and truncated, so the
    oracle hash is stable; a degenerate user (all events at one
    instant) yields NULL via the zero denominator.

    Scale: one shuffle on user_id shared by the re-basing window min
    and the sufficient-statistics rollup (co-partitioned); the slope
    arithmetic is map-side on |users| rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    base = ev.select(
        "user_id",
        (
            (F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(w))
            / 1000000
        )
        .cast("long")
        .alias("x"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    agg = base.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return agg.select(
        "user_id",
        "n",
        (num * 1000000 / F.nullif(den, F.lit(0.0)))
        .cast("long")
        .alias("slope_s6"),
    )


@register(
    "q_hhi_concentration",
    family="aggregate",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_mktsegment AS segment, o.o_custkey,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS v_c
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        tot AS (
            SELECT segment, CAST(SUM(v_c) AS BIGINT) AS total
            FROM per_cust GROUP BY segment
        )
        SELECT p.segment,
               COUNT(*) AS n_customers,
               CAST(SUM(((1000000 * p.v_c) // t.total)
                        * ((1000000 * p.v_c) // t.total)) AS BIGINT)
                   AS hhi_s12
        FROM per_cust p JOIN tot t USING (segment)
        GROUP BY p.segment
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index per market segment:
    each customer's revenue share in ppm (integer floor — all values
    non-negative, so Spark `div` and DuckDB `//` agree), HHI = sum of
    squared shares — the antitrust/market-structure analytic, and a
    useful skew DIAGNOSTIC for partitioning keys (an HHI near 1e12
    means one key owns the data).  Exact BIGINTs end to end.

    Scale: revenue rolls up on (segment, custkey) in one shuffle; the
    customer dimension joins broadcast; segment totals are |segments|
    rows broadcast back; the final rollup moves |customers| reduced
    rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    per_cust = (
        o.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .join(F.broadcast(c), "o_custkey")
        .groupBy("segment", "o_custkey")
        .agg(F.sum("cents").alias("v_c"))
    )
    tot = per_cust.groupBy(F.col("segment").alias("tseg")).agg(
        F.sum("v_c").alias("total")
    )
    # nullif: a hostile all-zero-revenue segment must yield NULL
    # shares (non-ANSI div-by-zero semantics), not an ANSI raise
    # (r14 exhaustive ANSI x relational cell, seeds 46204/10/18)
    share = F.expr("(1000000 * v_c) div nullif(total, 0)")
    return (
        per_cust.join(
            F.broadcast(tot), per_cust["segment"] == tot["tseg"]
        )
        .select("segment", (share * share).alias("sq"))
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("sq").alias("hhi_s12"),
        )
    )


@register(
    "q_gini_coefficient",
    family="aggregate",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        ranked AS (
            SELECT segment, v,
                   ROW_NUMBER() OVER (
                       PARTITION BY segment ORDER BY v, segment
                   ) AS i
            -- a customer whose every order price is NULL has no
            -- revenue OBSERVATION: excluded from the inequality curve
            -- (round-9 30-percent null leg: a null v otherwise takes a
            -- rank and shifts every real customer's i)
            FROM per_cust WHERE v IS NOT NULL
        )
        SELECT segment,
               COUNT(*) AS n,
               CAST(TRUNC(
                   CAST(2 * SUM(i * v) - (COUNT(*) + 1) * SUM(v) AS DOUBLE)
                   * 1000000
                   / CAST(COUNT(*) * SUM(v) AS DOUBLE)
               ) AS BIGINT) AS gini_s6
        FROM ranked GROUP BY segment
    """,
)
def q_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini inequality coefficient of customer revenue per market
    segment, from the rank formula G = (2·Σi·v_i − (n+1)·Σv)/(n·Σv)
    over ascending-sorted values — the distributional companion to
    q_hhi_concentration (HHI sees the head; Gini sees the whole curve).
    Every sum is a BIGINT (cents × dense ranks); the single division
    runs on identical int64→double conversions, 1e6-scaled, truncated.
    Ties order by value only — tied values contribute symmetrically, so
    any stable rank assignment yields the same sums.

    Scale: one (segment, custkey) rollup shuffle; the rank window
    re-shuffles |customers| reduced rows on segment; the final rollup
    is |segments| rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    per_cust = (
        o.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .join(F.broadcast(c), "o_custkey")
        .groupBy("segment", "o_custkey")
        .agg(F.sum("cents").alias("v"))
    )
    w = Window.partitionBy("segment").orderBy("v", "segment")
    # unknown revenue is not an observation (see the oracle comment)
    ranked = per_cust.filter(F.col("v").isNotNull()).select(
        "segment", "v", F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.sum(F.col("i") * F.col("v")).alias("siv"),
        F.sum("v").alias("sv"),
    )
    num = (2 * F.col("siv") - (F.col("n") + 1) * F.col("sv")).cast("double")
    den = (F.col("n") * F.col("sv")).cast("double")
    return agg.select(
        "segment",
        "n",
        # try_divide: an all-zero-revenue segment makes den = 0 — must
        # NULL like the twin, not raise under ANSI (r14 ANSI x rel cell)
        F.try_divide(num * 1000000, den).cast("long").alias("gini_s6"),
    )


@register(
    "q_abtest_ztest",
    family="aggregate",
    oracle="""
        WITH arms AS (
            SELECT user_id % 2 AS arm,
                   COUNT(*) AS n_events,
                   CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                       AS conv
            FROM events GROUP BY user_id % 2
        ),
        wide AS (
            SELECT
                MIN(CASE WHEN arm = 0 THEN n_events END) AS n0,
                MIN(CASE WHEN arm = 0 THEN conv END) AS c0,
                MIN(CASE WHEN arm = 1 THEN n_events END) AS n1,
                MIN(CASE WHEN arm = 1 THEN conv END) AS c1
            FROM arms
        )
        SELECT n0, c0, n1, c1,
               CAST(TRUNC((CAST(c0 AS DOUBLE) / n0
                           - CAST(c1 AS DOUBLE) / n1) * 1000000)
                    AS BIGINT) AS rate_diff_s6,
               CAST(TRUNC(
                   (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
                   / sqrt(
                       (CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                       * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                       * (1.0 / n0 + 1.0 / n1)
                   ) * 1000000) AS BIGINT) AS z_s6
        FROM wide
    """,
)
def q_abtest_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: two-proportion pooled z-test on purchase
    conversion between the user_id%2 assignment arms — the product-
    experimentation analytic.  Every input is an integer count; the
    float chain (two divisions, one multiply, one IEEE-correctly-
    rounded sqrt) is the identical expression sequence on both engines,
    and the statistic is emitted as a TRUNCATED scaled BIGINT (r4
    ADVICE fix: Spark F.round's BigDecimal HALF_UP and DuckDB ROUND's
    half-away-from-zero can disagree at representation boundaries;
    trunc-toward-zero on the same IEEE double is the same function in
    both engines — the q_trend_slope discipline).

    Scale: one groupBy on the arm (2 groups, map-side combined); the
    pivot and test statistic are driver-free single-row expressions."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("conv"),
    )
    wide = arms.agg(
        F.min(F.when(F.col("arm") == 0, F.col("n_events"))).alias("n0"),
        F.min(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.min(F.when(F.col("arm") == 1, F.col("n_events"))).alias("n1"),
        F.min(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    se = F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        ((p0 - p1) * 1000000).cast("long").alias("rate_diff_s6"),
        # se == 0 when conversions are all-0 or all-1 (the degenerate
        # experiment a 100%-null event_type column produces): the
        # statistic is undefined -> NULL, matching DuckDB's
        # NULL-on-division-by-zero.  The guard also keeps the query
        # alive under ANSI sessions, where Spark 4 raises DIVIDE_BY_ZERO
        # even for DOUBLE division (r10 100%-null leg finding).
        F.when(se != 0, (p0 - p1) / se * 1000000)
        .cast("long")
        .alias("z_s6"),
    )


@register(
    "q_lorenz_deciles",
    family="aggregate",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        tiled AS (
            SELECT segment, v,
                   NTILE(10) OVER (
                       PARTITION BY segment ORDER BY v, segment
                   ) AS decile
            -- unknown revenue is not an observation (round-9 null leg,
            -- same rule as q_gini_coefficient)
            FROM per_cust WHERE v IS NOT NULL
        ),
        dec AS (
            SELECT segment, decile,
                   CAST(SUM(v) AS BIGINT) AS dv, COUNT(*) AS n_cust
            FROM tiled GROUP BY segment, decile
        )
        SELECT segment, decile, n_cust,
               (1000000 * CAST(SUM(dv) OVER (
                    PARTITION BY segment ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT))
               // CAST(SUM(dv) OVER (PARTITION BY segment) AS BIGINT)
                   AS cum_share_ppm
        FROM dec
    """,
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve in deciles: customers sorted by revenue ascending,
    cumulative revenue share (ppm) at each decile — the curve the Gini
    coefficient integrates, and the standard whale-distribution readout
    ('the top decile holds X% of revenue').  NTILE ties sit inside
    equal-value runs, so decile SUMS are assignment-invariant the same
    way Gini's rank sums are; shares are non-negative integer floors
    (Spark div == DuckDB //).

    Scale: one (segment, custkey) rollup; the decile window and both
    cumulative windows share the segment partitioning (one more
    shuffle of |customers| reduced rows)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    per_cust = (
        o.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .join(F.broadcast(c), "o_custkey")
        .groupBy("segment", "o_custkey")
        .agg(F.sum("cents").alias("v"))
    )
    wt = Window.partitionBy("segment").orderBy("v", "segment")
    dec = (
        per_cust.filter(F.col("v").isNotNull())  # see the oracle comment
        .select(
            "segment", "v", F.ntile(10).over(wt).alias("decile")
        )
        .groupBy("segment", "decile")
        .agg(F.sum("v").alias("dv"), F.count("*").alias("n_cust"))
    )
    wc = (
        Window.partitionBy("segment")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("segment")
    return (
        dec.withColumn("cum", F.sum("dv").over(wc))
        .withColumn("tot", F.sum("dv").over(wall))
        .select(
            "segment",
            "decile",
            "n_cust",
            # nullif: same ANSI-raise class as hhi/gini (r14 cell)
            F.expr("(1000000 * cum) div nullif(tot, 0)").alias(
                "cum_share_ppm"
            ),
        )
    )


@register(
    "q_rfm_segmentation",
    family="aggregate",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(date_diff('second', MAX(ts),
                                  TIMESTAMP '2024-02-01 00:00:00')
                        AS BIGINT) AS recency_s,
                   COUNT(*) AS frequency,
                   CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS monetary_c
            FROM events GROUP BY user_id
        ),
        scored AS (
            SELECT user_id,
                   NTILE(5) OVER (ORDER BY recency_s DESC, user_id) AS r,
                   NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS f,
                   NTILE(5) OVER (ORDER BY monetary_c ASC, user_id) AS m
            FROM per_user
        )
        SELECT r * 100 + f * 10 + m AS rfm_code,
               COUNT(*) AS n_users
        FROM scored GROUP BY rfm_code
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (Hughes 1994, the classic marketing
    quantization): per user compute Recency (seconds before a fixed
    as-of literal), Frequency (event count), Monetary (cents), quintile
    each (higher quintile = better: least-recent gets r=1), and roll up
    the population per 3-digit RFM code — the segmentation table a
    campaign engine keys on.

    Determinism: all three measures are exact BIGINTs; each NTILE
    orders by (measure, user_id) so quintile ASSIGNMENT is fully
    deterministic (not just invariant) — the per-code counts hash
    exactly.

    Scale: one user_id rollup shuffle; the three quintiles each run as
    the DISTRIBUTED exact ntile (operators/ranking.py: sampled range
    bounds + bounded prefix offsets + partition-local window; the
    single-partition NTILE funnel this replaced cannot hold a
    100-TB-scale user table), recombined by user_id equi-joins; the
    code rollup is <= 125 rows."""
    from ..operators.ranking import global_ntile

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.lit("2024-02-01 00:00:00").cast("timestamp").cast("long")
            - F.max(F.col("ts").cast("long"))
        ).alias("recency_s"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
            "monetary_c"
        ),
    # the three quintile pipelines below each consume per_user; without
    # a barrier each re-ran the events scan + user rollup (r15, guide
    # §1.2 — no common-subtree elimination in Catalyst)
    ).localCheckpoint(eager=False)
    r = global_ntile(
        per_user, 5, [F.desc("recency_s"), F.asc("user_id")], out="r"
    ).select("user_id", "r")
    f = global_ntile(
        per_user, 5, [F.asc("frequency"), F.asc("user_id")], out="f"
    ).select("user_id", "f")
    m = global_ntile(
        per_user, 5, [F.asc("monetary_c"), F.asc("user_id")], out="m"
    ).select("user_id", "m")
    scored = r.join(f, "user_id").join(m, "user_id")
    return scored.groupBy(
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).alias("rfm_code")
    ).agg(F.count("*").alias("n_users"))


@register(
    "q_cohort_ltv",
    family="aggregate",
    oracle="""
        WITH wk AS (
            SELECT user_id, date_trunc('week', ts) AS week,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ),
        coh AS (
            SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        cell AS (
            SELECT c.cohort_week,
                   CAST(date_diff('day', c.cohort_week, w.week) // 7
                        AS BIGINT) AS week_offset,
                   CAST(SUM(w.cents) AS BIGINT) AS revenue_c
            FROM wk w JOIN coh c USING (user_id)
            GROUP BY c.cohort_week, week_offset
        ),
        size_ AS (
            SELECT cohort_week, COUNT(*) AS n_users FROM coh
            GROUP BY cohort_week
        )
        SELECT cell.cohort_week, cell.week_offset, s.n_users,
               CAST(SUM(cell.revenue_c) OVER (
                   PARTITION BY cell.cohort_week ORDER BY cell.week_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_revenue_c,
               CAST(SUM(cell.revenue_c) OVER (
                   PARTITION BY cell.cohort_week ORDER BY cell.week_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) // s.n_users AS ltv_per_user_c
        FROM cell JOIN size_ s USING (cohort_week)
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative purchase revenue per
    first-event-week cohort across week offsets, absolute and per
    cohort member — the growth-accounting companion to
    q_retention_cohort (retention counts WHO comes back; LTV counts
    what they SPEND).  Cents discipline end to end; per-user LTV is a
    non-negative integer floor (Spark div == DuckDB //).

    Scale: one user_id shuffle for first-seen, one (cohort, offset)
    revenue rollup, then the cumulative window runs over the tiny
    cohort-by-offset matrix; cohort sizes broadcast."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # coh feeds both the cell join and the cohort-size rollup; the lazy
    # localCheckpoint computes the user_id shuffle once (r4 VERDICT
    # item 5 — sh=5 digest collapses).
    coh = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
        .localCheckpoint(eager=False)
    )
    wk = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    cell = (
        wk.join(coh, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).alias("week_offset"),
        )
        .agg(F.sum("cents").alias("revenue_c"))
    )
    size = coh.groupBy("cohort_week").agg(F.count("*").alias("n_users"))
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cell.join(F.broadcast(size), "cohort_week")
        .withColumn("cum_revenue_c", F.sum("revenue_c").over(wcum))
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            "cum_revenue_c",
            F.expr("cum_revenue_c div n_users").alias("ltv_per_user_c"),
        )
    )


@register(
    "q_pareto_coverage",
    family="aggregate",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_mktsegment AS segment,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        ranked AS (
            SELECT segment, v,
                   ROW_NUMBER() OVER (
                       PARTITION BY segment ORDER BY v DESC, segment
                   ) AS rnk,
                   CAST(SUM(v) OVER (
                       PARTITION BY segment ORDER BY v DESC, segment
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum,
                   CAST(SUM(v) OVER (PARTITION BY segment) AS BIGINT) AS tot
            FROM per_cust
        )
        SELECT segment,
               COUNT(*) AS n_customers,
               CAST(MIN(CASE WHEN 10 * cum >= 8 * tot THEN rnk END)
                    AS BIGINT) AS n_for_80pct,
               (1000000 * CAST(MIN(CASE WHEN 10 * cum >= 8 * tot
                                        THEN rnk END) AS BIGINT))
                   // COUNT(*) AS share_of_base_ppm
        FROM ranked GROUP BY segment
    """,
)
def q_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage: the smallest number of top customers whose
    cumulative revenue reaches 80% of each segment — the '80/20'
    readout completing the concentration trio (HHI: squared shares;
    Gini/Lorenz: the whole curve; Pareto-N: the actionable head
    count).  The 80% test is pure integers (10·cum >= 8·total — no
    percentage floats at all); descending ties order by value only, and
    equal values are interchangeable in every cumulative sum crossing,
    so the threshold rank is assignment-invariant.

    Scale: one (segment, custkey) rollup; rank + both cumulative
    windows share one segment partitioning over reduced rows; the
    final rollup is |segments| rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    per_cust = (
        o.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .join(F.broadcast(c), "o_custkey")
        .groupBy("segment", "o_custkey")
        .agg(F.sum("cents").alias("v"))
    )
    wr = Window.partitionBy("segment").orderBy(F.desc("v"), F.asc("segment"))
    wc = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("segment")
    ranked = per_cust.select(
        "segment",
        F.row_number().over(wr).cast("long").alias("rnk"),
        F.sum("v").over(wc).alias("cum"),
        F.sum("v").over(wall).alias("tot"),
    )
    hit = F.when(10 * F.col("cum") >= 8 * F.col("tot"), F.col("rnk"))
    return ranked.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        F.min(hit).alias("n_for_80pct"),
        F.expr(
            "(1000000 * min(CASE WHEN 10 * cum >= 8 * tot THEN rnk END))"
            " div count(1)"
        ).alias("share_of_base_ppm"),
    )


@register(
    "q_kaplan_meier",
    family="aggregate",
    oracle="""
        WITH horizon AS (
            SELECT CAST(MAX(ts) AS TIMESTAMP) AS max_ts FROM events
        ),
        per_user AS (
            SELECT user_id,
                   CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
                       // 604800 AS lifetime_w,
                   CASE WHEN date_diff('second',
                                       CAST(MAX(ts) AS TIMESTAMP),
                                       h.max_ts) < 604800
                        THEN 1 ELSE 0 END AS censored
            FROM events CROSS JOIN horizon h
            GROUP BY user_id, h.max_ts
        ),
        weeks AS (
            SELECT lifetime_w AS week,
                   CAST(SUM(1 - censored) AS BIGINT) AS n_churned,
                   CAST(SUM(censored) AS BIGINT) AS n_censored
            FROM per_user GROUP BY lifetime_w
        )
        SELECT CAST(week AS BIGINT) AS week,
               CAST((SELECT COUNT(*) FROM per_user)
                    - COALESCE(SUM(n_churned + n_censored) OVER (
                          ORDER BY week
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_at_risk,
               n_churned,
               n_censored,
               CAST((1000000 * n_churned)
                   // ((SELECT COUNT(*) FROM per_user)
                       - COALESCE(SUM(n_churned + n_censored) OVER (
                             ORDER BY week
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0))
                   AS BIGINT) AS hazard_ppm
        FROM weeks
        ORDER BY week
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival lifetable (Kaplan & Meier 1958) over user
    activity spans: per-week at-risk counts, churn events, censoring
    (users still active in the final observation week), and the
    discrete hazard d/n in ppm — the churn-analysis table whose
    cumulative product is the KM survival curve.  The curve itself is
    a running product of rationals, so the engine emits the exact
    integer LIFETABLE (the sufficient statistic) and leaves the
    cumulative product to the consumer — the same no-transcendental
    discipline as q_lexical_diversity.

    Scale: one user_id shuffle builds (lifetime, censored) per user;
    the lifetable is |weeks| rows, so the reverse-cumulative at-risk
    window is driver-trivial.  The observation horizon is a single-row
    broadcast."""
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("max_ts"))
    per_user = (
        ev.crossJoin(F.broadcast(horizon))
        .groupBy("user_id")
        .agg(
            F.expr(
                "(CAST(max(ts) AS LONG) - CAST(min(ts) AS LONG))"
                " div 604800"
            ).alias("lifetime_w"),
            F.max(
                F.when(
                    F.col("max_ts").cast("long") - F.col("ts").cast("long")
                    < 604800,
                    1,
                ).otherwise(0)
            ).alias("censored"),
        )
    )
    weeks = per_user.groupBy(F.col("lifetime_w").alias("week")).agg(
        F.sum(1 - F.col("censored")).cast("long").alias("n_churned"),
        F.sum("censored").cast("long").alias("n_censored"),
    )
    total = per_user.count()
    from pyspark.sql import Window

    w_prev = Window.orderBy("week").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        weeks.withColumn(
            "n_at_risk",
            (
                F.lit(total)
                - F.coalesce(
                    F.sum(F.col("n_churned") + F.col("n_censored")).over(
                        w_prev
                    ),
                    F.lit(0),
                )
            ).cast("long"),
        )
        .select(
            "week",
            "n_at_risk",
            "n_churned",
            "n_censored",
            F.expr("(1000000 * n_churned) div n_at_risk").alias(
                "hazard_ppm"
            ),
        )
        .orderBy("week")
    )


@register(
    "q_pagerank_items",
    family="aggregate",
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT user_id,
                   CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT) AS item
            FROM events
        ),
        freq AS (
            SELECT item FROM baskets GROUP BY item HAVING COUNT(*) >= 5
        ),
        pruned AS (
            SELECT b.user_id, b.item FROM baskets b JOIN freq USING (item)
        ),
        edges AS (
            SELECT DISTINCT a.item AS src, b.item AS dst
            FROM pruned a JOIN pruned b
              ON a.user_id = b.user_id AND a.item <> b.item
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
        ),
        r0 AS (SELECT src AS item, CAST(1000000 AS BIGINT) AS r FROM deg),
        r1 AS (
            SELECT e.dst AS item,
                   CAST(150000 + SUM((850000 * r.r) // (1000000 * dg.d))
                        AS BIGINT) AS r
            FROM edges e
            JOIN r0 r ON r.item = e.src
            JOIN deg dg ON dg.src = e.src
            GROUP BY e.dst
        ),
        r2 AS (
            SELECT e.dst AS item,
                   CAST(150000 + SUM((850000 * r.r) // (1000000 * dg.d))
                        AS BIGINT) AS r
            FROM edges e
            JOIN r1 r ON r.item = e.src
            JOIN deg dg ON dg.src = e.src
            GROUP BY e.dst
        ),
        r3 AS (
            SELECT e.dst AS item,
                   CAST(150000 + SUM((850000 * r.r) // (1000000 * dg.d))
                        AS BIGINT) AS r
            FROM edges e
            JOIN r2 r ON r.item = e.src
            JOIN deg dg ON dg.src = e.src
            GROUP BY e.dst
        )
        SELECT item, r AS pr_ppm,
               CAST(ROW_NUMBER() OVER (ORDER BY r DESC, item) AS BIGINT)
                   AS rank
        FROM r3
        ORDER BY rank
        LIMIT 20
    """,
)
def q_pagerank_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Page et al. 1999) over the item co-occurrence graph —
    graph centrality as iterated relational algebra, no graph library:
    items are nodes, an edge links items that appear in the same
    user's basket (Apriori-pruned like q_basket_pairs), and three
    Jacobi iterations of r = 0.15 + 0.85 * sum(r_in/deg) run as
    join + groupBy rounds.  Every iteration is ppm-scaled integer
    arithmetic with per-edge floor division, so all three rounds and
    the final ranking replay bit-exactly in the oracle's unrolled
    CTEs — the fixed-point discipline applied to an iterative
    algorithm.

    Scale: the edge list shuffles once per iteration on dst (the
    standard distributed PageRank shape); degrees broadcast.  The
    iteration count is fixed (3) — production would loop to an
    epsilon, which pure SQL can't express but the Spark driver loop
    trivially extends.  Dangling nodes are absent by construction
    (every node has >= 1 edge).

    BROADCAST BOUND (r15 VERDICT item 7, stated explicitly): each
    iteration broadcasts the pre-joined (src, r, d) frame, which is
    |ITEMS|-scale — a DIMENSION bound (the item catalog), not a data
    bound.  That is the same posture `deg` already had before r15
    (broadcast every iteration), so the rewrite changed which
    |items|-frame moves, not its scale class.  The contract: this
    query assumes the item universe is catalog-like (10^6-10^8 keys,
    well under Spark's 8 GB / 512M-row broadcast cap).  An unbounded
    item universe (e.g. URLs as items) needs the shuffle-join form
    instead — drop the F.broadcast hints and let AQE pick from runtime
    stats; the plan-audit test (test_pagerank_broadcast_posture) pins
    the current build side so any silent strategy flip fails loudly."""
    ev = load_table(spark, sf_dir, "events")
    baskets = (
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .repartition("user_id")
        .dropDuplicates(["user_id", "item"])
        # three consumers (freq, both self-join sides) re-ran the
        # events scan + JSON parse + user_id shuffle + dedup — no
        # common-subtree elimination in Catalyst; one local checkpoint
        # makes them cache reads (r15, measured ~1.4x end to end).
        # user_id partitioning is preserved, so the self-join below
        # still needs no exchange.
        .localCheckpoint(eager=False)
    )
    freq = (
        baskets.groupBy("item")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 5)
        .select("item")
    )
    from pyspark.sql import Window

    # both self-join sides embed pruned — without a barrier the freq
    # shuffle+broadcast subtree appears twice and its AQE stage reuse
    # is timing-dependent (same flip class as deg above); the cache
    # preserves baskets' user_id partitioning so the self-join still
    # needs no exchange
    pruned = (
        baskets.join(F.broadcast(freq), "item")
        .select("user_id", "item")
        .localCheckpoint(eager=False)
    )
    a = pruned.select("user_id", F.col("item").alias("src"))
    b = pruned.select("user_id", F.col("item").alias("dst"))
    edges = (
        a.join(b, "user_id")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
        # edges drive all three iterations: materialize once
        .localCheckpoint(eager=False)
    )
    # |items|-row degree table, materialized ONCE: the three per-
    # iteration broadcast subtrees below otherwise carry identical
    # deg-aggregate pipelines whose AQE stage reuse is timing-
    # dependent — the executed plan alternated shapes run to run
    # (r15 bench plan-flip detector) and deg recomputed up to 3x
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    r = None
    for _ in range(3):
        # r and deg are both |items|-scale: pre-join them and BROADCAST
        # the combined (src, r, d) frame so the edge list — the only
        # data-scaled side — never moves (r15, guide §3.1/§2.4: the old
        # edges⋈r was a sort-merge join re-exchanging AND re-sorting
        # the checkpointed edges every iteration, because their (src,
        # dst) dedup partitioning does not satisfy a join on src; deg
        # was already broadcast, so the scale posture is unchanged).
        # Inner-join associativity on the same key makes this exact:
        # an edge survives iff src ∈ r and src ∈ deg either way.
        # Iteration 1's r is deg-derived, so its rd is deg + a literal
        # — joining deg with itself let AQE pick the build side by
        # materialization timing (bench plan-flip); the explicit inner
        # broadcast pins the build side in later iterations too.
        rd = F.broadcast(
            deg.select(
                "src", F.lit(1000000).cast("long").alias("r"), "d"
            )
            if r is None
            else r.join(F.broadcast(deg), "src")
        )
        r = (
            edges.join(rd, "src")
            .groupBy(F.col("dst").alias("item"))
            .agg(
                (
                    F.lit(150000)
                    + F.sum(
                        F.expr("(850000 * r) div (1000000 * d)")
                    )
                )
                .cast("long")
                .alias("r")
            )
            .withColumnRenamed("item", "src")
        )
    # top-20 FIRST via the distributed TakeOrderedAndProject, then
    # number the 20 survivors: the global-order row_number runs over a
    # provably 20-row input instead of the whole item catalog (round-9
    # single-partition-window sweep; rank = position in the same total
    # order, so limit-then-rank equals rank-then-limit exactly)
    top = r.orderBy(F.desc("r"), F.asc("src")).limit(20)
    w = Window.orderBy(F.desc("r"), F.asc("src"))
    return top.select(
        F.col("src").alias("item"),
        F.col("r").alias("pr_ppm"),
        F.row_number().over(w).cast("long").alias("rank"),
    ).orderBy("rank")


def _hll_oracle() -> str:
    from ..functions.text import _md5_long_sql

    h = _md5_long_sql("'h:' || CAST(o_custkey AS VARCHAR)")
    # bucket = low 6 bits; rho = 1 + leading zeros of the top 54 bits
    # of the 60-bit hash, i.e. 55 - bit_length(h >> 6) (h>>6 = 0 -> 55)
    return f"""
        WITH hashed AS (
            SELECT DISTINCT {h} AS hv FROM orders
        ),
        regs AS (
            SELECT hv % 64 AS bucket,
                   CAST(MAX(CASE WHEN hv // 64 = 0 THEN 55
                            ELSE 55 - length(bin(hv // 64)) END)
                        AS BIGINT) AS m
            FROM hashed GROUP BY hv % 64
        ),
        filled AS (
            SELECT b.bucket, COALESCE(r.m, 0) AS m
            FROM (SELECT UNNEST(range(64)) AS bucket) b
            LEFT JOIN regs r USING (bucket)
        ),
        est AS (
            SELECT CAST(SUM(CASE WHEN m <= 50
                                 THEN 1::BIGINT << (50 - CAST(m AS INT))
                                 ELSE 0 END) AS BIGINT) AS denom_s,
                   CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_zero
            FROM filled
        )
        SELECT
            (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
                AS exact_distinct,
            e.n_zero,
            CAST(3269086146126348288 // e.denom_s AS BIGINT)
                AS hll_raw_estimate
        FROM est e
    """


@register(
    "q_hll_sketch",
    family="aggregate",
    oracle=None,  # set below (needs a DuckDB bit_length macro)
)
def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog (Flajolet et al. 2007) built EXPLICITLY as
    relational algebra — the mergeable-register construction behind
    approx_count_distinct, exposed so register state can be stored,
    merged across partitions/days, and audited: 64 buckets keyed by
    the low 6 hash bits, register = max leading-zero rank, and the raw
    estimate alpha*m^2 / sum(2^-M) computed in EXACT integers (each
    2^-M term scaled by 2^50 becomes a shiftleft; alpha_64*m^2*2^50 ~
    0.709*4096*2^50 is held as the precomputed integer literal
    3269086146126348288 over the integer denominator).  The exact distinct count rides along
    for the accuracy audit.

    Scale: ONE groupBy into <= 64 register rows regardless of
    cardinality — the whole reason HLL exists; register tables from
    different partitions/time windows merge with MAX."""
    from ..functions.text import md5_long

    o = load_table(spark, sf_dir, "orders")
    h = md5_long(F.concat(F.lit("h:"), F.col("o_custkey").cast("string")))
    hashed = o.select(h.alias("hv")).distinct()
    # rho = 55 - bit_length(hv >> 6); bit_length via the binary-string
    # trick (length(bin(x)) counts from the highest set bit, identical
    # in both engines; Spark's bin() never left-pads)
    regs = hashed.groupBy((F.col("hv") % 64).alias("bucket")).agg(
        F.max(
            F.when(F.expr("hv div 64") == 0, F.lit(55)).otherwise(
                F.lit(55) - F.expr("length(bin(hv div 64))")
            )
        ).cast("long").alias("m")
    )
    buckets = o.sparkSession.range(64).select(
        F.col("id").cast("long").alias("bucket")
    )
    filled = buckets.join(F.broadcast(regs), "bucket", "left").select(
        "bucket", F.coalesce(F.col("m"), F.lit(0)).alias("m")
    )
    est = filled.agg(
        F.sum(
            F.when(
                F.col("m") <= 50,
                F.expr("shiftleft(CAST(1 AS LONG), 50 - CAST(m AS INT))"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("denom_s"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero"),
    )
    exact = o.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_distinct",
        "n_zero",
        F.expr(
            "CAST(3269086146126348288L div denom_s AS LONG)"
        ).alias("hll_raw_estimate"),
    )


_REG_HLL = __import__(
    "dask_cudf_spark.registry", fromlist=["REGISTRY"]
).REGISTRY
_REG_HLL["q_hll_sketch"].oracle = _hll_oracle()


@register(
    "q_dow_seasonality",
    family="aggregate",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
                   CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS all_c,
                   CAST(COUNT(*) AS BIGINT) AS all_d
            FROM daily
        )
        SELECT CAST(dow AS BIGINT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(cents) AS BIGINT) AS cents,
               (1000000 * CAST(SUM(cents) AS BIGINT) * t.all_d)
                   // (t.all_c * COUNT(*)) AS index_ppm
        FROM daily CROSS JOIN tot t
        GROUP BY dow, t.all_c, t.all_d
        ORDER BY dow
    """,
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index: mean daily purchase revenue per
    weekday relative to the overall daily mean, in ppm (index 1e6 =
    average day) — the companion readout to q_acf_daily_revenue's
    lag-7 autocorrelation, and the direct input to day-of-week
    normalization in forecasting.  Integer cents end to end; the
    index is a products-of-integers // products-of-integers floor.

    Scale: one (day, dow) rollup shuffle; everything after runs on
    the |days| table with a single-row broadcast total."""
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
    )
    tot = daily.agg(
        F.sum("cents").cast("long").alias("all_c"),
        F.count("*").cast("long").alias("all_d"),
    )
    return (
        daily.crossJoin(F.broadcast(tot))
        .groupBy("dow", "all_c", "all_d")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            F.col("dow").cast("long").alias("dow"),
            "n_days",
            "cents",
            F.expr(
                "(1000000 * cents * all_d) div (all_c * n_days)"
            ).alias("index_ppm"),
        )
        .orderBy("dow")
    )


@register(
    "q_benford_digits",
    family="aggregate",
    oracle="""
        WITH d AS (
            SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                               1, 1) AS BIGINT) AS digit
            FROM orders WHERE o_totalprice >= 1
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
        SELECT digit,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               (1000000 * CAST(COUNT(*) AS BIGINT)) // t.n
                   AS observed_ppm,
               CAST(FLOOR(1000000 * log10(1.0 + 1.0 / digit)) AS BIGINT)
                   AS benford_ppm
        FROM d CROSS JOIN tot t
        GROUP BY digit, t.n
        ORDER BY digit
    """,
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit (Newcomb 1881, Benford 1938; a
    standard financial-forensics screen): observed first-digit shares
    of order totals vs the log10(1 + 1/d) expectation, both in ppm.
    Digit extraction is string-on-integer (no float log on data); the
    expected share is log10 of the NINE literal rationals 1+1/d —
    constant-folded identically on both engines and floored to ppm.

    Scale: map-side digit extraction; a 9-row rollup."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.col("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    tot = d.agg(F.count("*").cast("long").alias("n"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("digit", "n")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .select(
            "digit",
            "n_orders",
            F.expr("(1000000 * n_orders) div n").alias("observed_ppm"),
            F.floor(
                F.lit(1000000) * F.log10(1.0 + 1.0 / F.col("digit"))
            )
            .cast("long")
            .alias("benford_ppm"),
        )
        .orderBy("digit")
    )


def _als_oracle() -> str:
    from ..functions.text import _md5_long_sql

    h = _md5_long_sql("'q:' || CAST(item AS VARCHAR)")
    return f"""
        WITH r AS (
            SELECT user_id,
                   CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT) AS item,
                   CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, item
        ),
        qf AS (
            SELECT item,
                   1 + {h} % 7 AS qx,
                   1 + ({h} // 8) % 5 AS qy
            FROM (SELECT DISTINCT item FROM r)
        ),
        norm AS (
            SELECT r.user_id,
                   CAST(SUM(q.qx * q.qx) + 100 AS BIGINT) AS a11,
                   CAST(SUM(q.qx * q.qy) AS BIGINT) AS a12,
                   CAST(SUM(q.qy * q.qy) + 100 AS BIGINT) AS a22,
                   CAST(SUM(r.cents * q.qx) AS BIGINT) AS b1,
                   CAST(SUM(r.cents * q.qy) AS BIGINT) AS b2,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM r JOIN qf q USING (item)
            GROUP BY r.user_id
        )
        SELECT user_id, n_items,
               (1000000 * (b1 * a22 - b2 * a12))
                   // (a11 * a22 - a12 * a12) AS ux_s6,
               (1000000 * (b2 * a11 - b1 * a12))
                   // (a11 * a22 - a12 * a12) AS uy_s6
        FROM norm
        ORDER BY user_id
        LIMIT 50
    """


@register(
    "q_als_user_step",
    family="aggregate",
    oracle=None,  # set below (generated md5-twin SQL)
)
def q_als_user_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact ALS half-step (Koren/Bell/Volinsky 2009; the
    alternating-least-squares recommender update) as relational
    algebra: with item factors held fixed (deterministic 2-dim hash
    seeds — a trained table in production), each user's factor solves
    the ridge normal equations (Q^T Q + lambda*I) u = Q^T r, done in
    closed form by Cramer's rule on the 2x2 system so EVERY number is
    an exact integer until the final scaled floor division — the
    k-means/Rocchio discipline applied to matrix factorization.

    Scale: one (user, item) rating rollup, a broadcast-sized item-
    factor join, then a single per-user aggregate builds all five
    normal-equation moments; no iteration crosses the driver except
    the factor table itself (exactly ALS's data flow: the other half-
    step is the same query with roles swapped)."""
    from ..functions.text import md5_long

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    r = (
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("user_id", "item")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    h = md5_long(F.concat(F.lit("q:"), F.col("item").cast("string")))
    qf = (
        r.select("item")
        .distinct()
        .select("item", h.alias("__h"))
        .select(
            "item",
            (1 + F.col("__h") % 7).alias("qx"),
            (1 + F.expr("__h div 8") % 5).alias("qy"),
        )
    )
    norm = (
        r.join(F.broadcast(qf), "item")
        .groupBy("user_id")
        .agg(
            (F.sum(F.col("qx") * F.col("qx")) + 100).cast("long").alias("a11"),
            F.sum(F.col("qx") * F.col("qy")).cast("long").alias("a12"),
            (F.sum(F.col("qy") * F.col("qy")) + 100).cast("long").alias("a22"),
            F.sum(F.col("cents") * F.col("qx")).cast("long").alias("b1"),
            F.sum(F.col("cents") * F.col("qy")).cast("long").alias("b2"),
            F.count("*").cast("long").alias("n_items"),
        )
    )
    return (
        norm.select(
            "user_id",
            "n_items",
            F.expr(
                "(1000000 * (b1 * a22 - b2 * a12))"
                " div (a11 * a22 - a12 * a12)"
            ).alias("ux_s6"),
            F.expr(
                "(1000000 * (b2 * a11 - b1 * a12))"
                " div (a11 * a22 - a12 * a12)"
            ).alias("uy_s6"),
        )
        .orderBy("user_id")
        .limit(50)
    )


_REG_ALS = __import__(
    "dask_cudf_spark.registry", fromlist=["REGISTRY"]
).REGISTRY
_REG_ALS["q_als_user_step"].oracle = _als_oracle()


def _bootstrap_oracle() -> str:
    from ..functions.text import _md5_long_sql

    h = _md5_long_sql(
        "'bs' || CAST(b.rep AS VARCHAR) || ':' || CAST(e.event_id AS VARCHAR)"
    )
    # Poisson(1) inverse CDF on u = hash / 2^60, capped at 5
    u = f"(CAST({h} AS DOUBLE) / 1152921504606846976.0)"
    w = (
        f"(CASE WHEN {u} < 0.36787944117144233 THEN 0 "
        f"WHEN {u} < 0.7357588823428846 THEN 1 "
        f"WHEN {u} < 0.9196986029286058 THEN 2 "
        f"WHEN {u} < 0.9810118431238462 THEN 3 "
        f"WHEN {u} < 0.9963401531726563 THEN 4 ELSE 5 END)"
    )
    return f"""
        WITH e AS (
            SELECT event_id,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ),
        reps AS (
            SELECT b.rep,
                   CAST(SUM({w} * e.cents) AS BIGINT)
                       // GREATEST(CAST(SUM({w}) AS BIGINT), 1)
                       AS mean_c
            FROM e CROSS JOIN (SELECT UNNEST(range(32)) AS rep) b
            GROUP BY b.rep
        ),
        ranked AS (
            SELECT mean_c,
                   ROW_NUMBER() OVER (ORDER BY mean_c, mean_c) AS rk
            FROM reps
        )
        SELECT
            (SELECT CAST(SUM(cents) AS BIGINT) // COUNT(*) FROM e)
                AS point_mean_c,
            CAST(32 AS BIGINT) AS n_replicates,
            (SELECT CAST(mean_c AS BIGINT) FROM ranked WHERE rk = 2)
                AS ci_low_c,
            (SELECT CAST(mean_c AS BIGINT) FROM ranked WHERE rk = 31)
                AS ci_high_c
    """


@register(
    "q_bootstrap_ci",
    family="aggregate",
    oracle=None,  # set below (generated md5-twin SQL)
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean purchase value
    (Efron 1979 via the streaming Poisson reformulation — Chamandy et
    al., 'Estimating Uncertainty for Massive Data Streams', Google
    2012): each of 32 replicates reweights every row by a
    Poisson(1)-distributed count drawn DETERMINISTICALLY from the
    seeded md5 of (replicate, event_id) through the inverse CDF, so
    resampling never materializes a resample and replays exactly in
    SQL.  The CI is rank-based (2nd / 31st order statistic of the
    replicate means ~ a 94% interval) and every statistic is an
    integer floor — no float percentile interpolation.

    Scale: the replicate dimension is a x32 map-side explode feeding
    ONE 32-group aggregate (map-side combined, so the shuffle carries
    32 x |partitions| rows regardless of corpus size) — the pattern
    that makes bootstrap FEASIBLE on data too big to resample."""
    from ..functions.text import md5_long

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    e = ev.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    reps = e.sparkSession.range(32).select(
        F.col("id").cast("long").alias("rep")
    )
    h = md5_long(
        F.concat(
            F.lit("bs"),
            F.col("rep").cast("string"),
            F.lit(":"),
            F.col("event_id").cast("string"),
        )
    )
    u = h.cast("double") / F.lit(1152921504606846976.0)
    w = (
        F.when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428846, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4)
        .otherwise(5)
    )
    rep_means = (
        e.crossJoin(F.broadcast(reps))
        .select("rep", (w * F.col("cents")).alias("wc"), w.alias("w"))
        .groupBy("rep")
        .agg(
            F.expr(
                "CAST(sum(wc) AS LONG) div greatest(CAST(sum(w) AS LONG), 1)"
            ).alias("mean_c")
        )
    )
    from pyspark.sql import Window

    ranked = rep_means.withColumn(
        "rk", F.row_number().over(Window.orderBy("mean_c"))
    )
    point = e.agg(
        F.expr("CAST(sum(cents) AS LONG) div count(1)").alias(
            "point_mean_c"
        )
    )
    # global aggregates, not filters: an aggregate ALWAYS yields one row
    # (NULL on empty input), so the final cross-join keeps its 1-row
    # shape even when zero purchases exist (100%-null event_type) — a
    # filter-based pick yields 0 rows there while the oracle's scalar
    # subqueries yield the NULL row (r10 100%-null leg divergence)
    lo = ranked.agg(
        F.min(F.when(F.col("rk") == 2, F.col("mean_c"))).alias("ci_low_c")
    )
    hi = ranked.agg(
        F.min(F.when(F.col("rk") == 31, F.col("mean_c"))).alias("ci_high_c")
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "point_mean_c",
            F.lit(32).cast("long").alias("n_replicates"),
            "ci_low_c",
            "ci_high_c",
        )
    )


_REG_BS = __import__(
    "dask_cudf_spark.registry", fromlist=["REGISTRY"]
).REGISTRY
_REG_BS["q_bootstrap_ci"].oracle = _bootstrap_oracle()


def _hll_merge_oracle() -> str:
    from ..functions.text import _md5_long_sql

    h = _md5_long_sql("'h:' || CAST(user_id AS VARCHAR)")
    rho = (
        f"CASE WHEN {h} // 64 = 0 THEN 55 "
        f"ELSE 55 - length(bin({h} // 64)) END"
    )
    return f"""
        WITH daily_regs AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   {h} % 64 AS bucket,
                   CAST(MAX({rho}) AS BIGINT) AS m
            FROM events
            GROUP BY 1, 2
        ),
        merged AS (
            SELECT bucket, CAST(MAX(m) AS BIGINT) AS m
            FROM daily_regs GROUP BY bucket
        ),
        direct AS (
            SELECT {h} % 64 AS bucket,
                   CAST(MAX({rho}) AS BIGINT) AS m
            FROM events
            GROUP BY 1
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM daily_regs) AS n_day_regs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM merged) AS n_merged_regs,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM merged x JOIN direct y
               ON x.bucket = y.bucket AND x.m = y.m) AS n_regs_equal,
            (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
                AS exact_users
    """


@register(
    "q_hll_merge",
    family="aggregate",
    oracle=None,  # set below (generated md5-twin SQL)
)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY — the property that makes register sketches
    the cardinality backbone of incremental pipelines: per-DAY
    register tables (the shape a daily rollup job persists) merged
    with MAX must equal the registers computed directly over the whole
    corpus, bucket for bucket.  The query materializes both sides and
    counts agreeing registers (n_regs_equal == n_merged_regs is the
    lossless-merge identity, hash-checked by the oracle), alongside
    the exact user count the merged sketch would estimate.

    Scale: daily registers are |days| x 64 rows (this is the entire
    state a year of daily jobs keeps for distinct-user reporting);
    the merge is a 64-group MAX."""
    from ..functions.text import md5_long

    ev = load_table(spark, sf_dir, "events")
    h = md5_long(F.concat(F.lit("h:"), F.col("user_id").cast("string")))
    base = ev.select(
        F.date_trunc("day", "ts").alias("day"), h.alias("hv")
    ).select(
        "day",
        (F.col("hv") % 64).alias("bucket"),
        F.when(F.expr("hv div 64") == 0, F.lit(55))
        .otherwise(F.lit(55) - F.expr("length(bin(hv div 64))"))
        .cast("long")
        .alias("rho"),
    ).localCheckpoint(eager=False)
    daily = base.groupBy("day", "bucket").agg(F.max("rho").alias("m"))
    merged = daily.groupBy("bucket").agg(
        F.max("m").cast("long").alias("m")
    )
    direct = base.groupBy("bucket").agg(F.max("rho").cast("long").alias("m"))
    n_day = daily.agg(F.count("*").cast("long").alias("n_day_regs"))
    n_merged = merged.agg(F.count("*").cast("long").alias("n_merged_regs"))
    n_equal = (
        merged.join(
            direct.select(
                F.col("bucket").alias("db"), F.col("m").alias("dm")
            ),
            (F.col("bucket") == F.col("db")) & (F.col("m") == F.col("dm")),
        )
        .agg(F.count("*").cast("long").alias("n_regs_equal"))
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        n_day.crossJoin(F.broadcast(n_merged))
        .crossJoin(F.broadcast(n_equal))
        .crossJoin(F.broadcast(exact))
    )


_REG_HLLM = __import__(
    "dask_cudf_spark.registry", fromlist=["REGISTRY"]
).REGISTRY
_REG_HLLM["q_hll_merge"].oracle = _hll_merge_oracle()


@register(
    "q_matview_incremental",
    family="partitioning",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS total_c,
               CAST(MIN(event_id) AS BIGINT) AS first_id,
               CAST(MAX(event_id) AS BIGINT) AS last_id
        FROM events
        GROUP BY event_type
    """,
)
def q_matview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance end to end
    (sources/matview.py, round 7): events load into a txlog table as
    THREE append commits, the per-event-type aggregate view refreshes
    after each — first build full, the next two INCREMENTAL
    (commit-sized delta scans; the query raises if incrementality was
    lost) — and the final view must equal the oracle's from-scratch
    groupBy over all events.  Exercises the real maintenance loop:
    append -> delta aggregate -> partial-merge -> overwrite-commit
    with the src_version watermark.

    Scale: each refresh reads ONLY its delta commit (at 100 TB: the
    day's appends, not the table) plus the |event_type|-row stored
    view; every aggregate is decomposable (sum/count/min/max), the
    exact property Spark's own partial aggregation relies on.

    Job overlap (r16, guide §2.6): the lifecycle is log-ordered but
    its HEAVY jobs are not all dependent — commit p+1's data write
    touches no log state, so it is staged from a driver thread WHILE
    refresh p runs (stage_commit_data; data dirs are invisible until
    a log record references them).  Each refresh still observes the
    log strictly after its own commit and strictly before the next
    (commit p+1's version file lands only after refresh p returned),
    so the full/incremental/incremental mode sequence is preserved
    by construction, not by timing."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from ..sources.matview import read_matview, refresh_matview
    from ..sources.txlog import commit, stage_commit_data

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="spark-graft-matview-")
    src, dst = f"{root}/src", f"{root}/view"
    aggs = {
        "n": ("count", None),
        "total_c": ("sum", "cents"),
        "first_id": ("min", "event_id"),
        "last_id": ("max", "event_id"),
    }
    lo = F.col("event_id") % 3
    parts = [ev.filter(lo == p) for p in range(3)]
    modes = []
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(stage_commit_data, parts[0], src)
        for part in range(3):
            staged = fut.result()
            fut = (
                pool.submit(stage_commit_data, parts[part + 1], src)
                if part + 1 < 3
                else None
            )
            commit(parts[part], src, "append", staged_dir=staged)
            modes.append(
                refresh_matview(spark, src, dst, ["event_type"], aggs)
            )
    if [m["mode"] for m in modes] != ["full", "incremental", "incremental"]:
        raise AssertionError(f"incrementality lost: {modes}")
    return read_matview(spark, dst).select(
        "event_type", "n", "total_c", "first_id", "last_id"
    )


@register(
    "q_txlog_change_feed",
    family="partitioning",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, o_custkey,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
                   o_orderstatus
            FROM orders
        )
        SELECT o_orderkey, o_custkey,
               cents + CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END
                   AS cents,
               o_orderstatus, 'insert' AS change_type
        FROM o WHERE o_orderkey % 5 = 4
        UNION ALL
        -- cents IS NOT NULL: bumping a NULL price leaves the row
        -- byte-identical (NULL + 1000 IS NULL), so the feed's
        -- null-safe copy suppression rightly emits NO update pair for
        -- it — the oracle must agree (round-9 null leg)
        SELECT o_orderkey, o_custkey, cents, o_orderstatus,
               'update_preimage' AS change_type
        FROM o WHERE o_orderkey % 5 <> 4 AND o_orderkey % 7 = 0
              AND cents IS NOT NULL
        UNION ALL
        SELECT o_orderkey, o_custkey, cents + 1000, o_orderstatus,
               'update_postimage' AS change_type
        FROM o WHERE o_orderkey % 5 <> 4 AND o_orderkey % 7 = 0
              AND cents IS NOT NULL
    """,
)
def q_txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed over the transaction-log table
    (sources/txlog.py::change_feed; the Delta ``table_changes`` /
    Iceberg changelog shape — upstream has no equivalent; lakehouse
    CDC is a Spark-ecosystem capability): 80% of orders commit as the
    base version, then one MERGE upserts the missing 20% (inserts) and
    bumps every key divisible by 7 by 1000 cents (updates).  The feed
    between the two versions must classify every row exactly —
    inserts with their post-merge values, updates as
    preimage/postimage pairs, and the merge's copy-on-write carried
    rows (non-matching rows of touched files, rewritten verbatim into
    the keep-dir) suppressed by the null-safe all-column comparison.
    The oracle reconstructs the same classification from raw orders
    alone.

    Scale: the feed reads ONLY dirs retired or added between the
    versions (immutability makes that set complete), then one
    full-outer shuffle join on the key — churn-proportional CDC, never
    a full-table diff."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from ..sources.txlog import (
        change_feed,
        commit,
        merge_by_key,
        stage_commit_data,
    )

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderstatus",
    )
    root = tempfile.mkdtemp(prefix="spark-graft-cdc-")
    path = f"{root}/t"
    updates = od.filter(
        (F.col("o_orderkey") % 5 == 4) | (F.col("o_orderkey") % 7 == 0)
    ).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("o_orderkey") % 7 == 0, F.lit(1000)).otherwise(
            F.lit(0)
        ),
    )
    # overlap the two independent data writes (r16, guide §2.6): the
    # merge's updates dir depends only on `od`, not on the log, so it
    # stages from a driver thread while the v0 base commit writes; the
    # merge's LOG record still lands strictly after v0's (merge_by_key
    # is only called once both are done)
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(stage_commit_data, updates, path)
        commit(od.filter(F.col("o_orderkey") % 5 != 4), path, "append")  # v0
        upd_dir = fut.result()
    v1 = merge_by_key(updates, path, "o_orderkey", staged_dir=upd_dir)
    return change_feed(
        spark, path, "o_orderkey", from_version=0, to_version=v1
    )


@register(
    "q_matview_cdc",
    family="partitioning",
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                        + CASE WHEN o_orderkey % 7 = 0 THEN 1000
                               ELSE 0 END) AS BIGINT) AS total_c
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def q_matview_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized view maintained THROUGH a MERGE via change-feed
    deltas (sources/matview.py CDC mode, r7b): 80% of orders build the
    view full, then one MERGE inserts the rest and bumps every
    key%7==0 by 1000 cents; the second refresh must run in 'cdc' mode
    (signed change-feed application, NOT a full recompute — the query
    raises if it fell back) and the resulting view must equal the
    oracle's from-scratch groupBy over the post-merge table
    reconstructed from raw orders.

    Scale: the cdc refresh reads only the merge's retired+added files
    (change_feed dir-diff) plus the |groups|-row stored view — at
    100 TB a merge touching 0.1% of files costs 0.1% of a rebuild,
    where the previous fallback re-aggregated the whole table."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from ..sources.matview import read_matview, refresh_matview
    from ..sources.txlog import commit, merge_by_key, stage_commit_data

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderstatus",
    )
    root = tempfile.mkdtemp(prefix="spark-graft-mvcdc-")
    src, dst = f"{root}/src", f"{root}/view"
    aggs = {"n": ("count", None), "total_c": ("sum", "cents")}
    updates = od.filter(
        (F.col("o_orderkey") % 5 == 4) | (F.col("o_orderkey") % 7 == 0)
    ).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("o_orderkey") % 7 == 0, F.lit(1000)).otherwise(
            F.lit(0)
        ),
    )
    # overlap (r16, guide §2.6): the merge's updates dir depends only
    # on `od`, so it stages from a driver thread while the base commit
    # writes AND the first (full) refresh runs; the merge's log record
    # lands strictly after refresh #1 read the src log (merge_by_key is
    # called only after m0 returned), so the full->cdc mode sequence is
    # preserved by construction
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(stage_commit_data, updates, src)
        commit(od.filter(F.col("o_orderkey") % 5 != 4), src, "append")
        m0 = refresh_matview(spark, src, dst, ["o_orderstatus"], aggs,
                             key="o_orderkey")
        upd_dir = fut.result()
    merge_by_key(updates, src, "o_orderkey", staged_dir=upd_dir)
    m1 = refresh_matview(spark, src, dst, ["o_orderstatus"], aggs,
                         key="o_orderkey")
    if [m0["mode"], m1["mode"]] != ["full", "cdc"]:
        raise AssertionError(f"cdc maintenance lost: {[m0, m1]}")
    return read_matview(spark, dst).select("o_orderstatus", "n", "total_c")


_NULL_AUDIT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@register(
    "q_null_audit",
    family="aggregate",
    oracle="""
        -- per-column null audit: COUNT(*) - COUNT(col); ppm is exact
        -- integer floor division over non-negative operands
        SELECT col, n_null,
               CAST(n_null * 1000000 // n AS BIGINT) AS null_ppm
        FROM (
            SELECT 'event_id' AS col,
                   CAST(COUNT(*) - COUNT(event_id) AS BIGINT) AS n_null,
                   COUNT(*) AS n FROM events
            UNION ALL
            SELECT 'ts', CAST(COUNT(*) - COUNT(ts) AS BIGINT), COUNT(*)
            FROM events
            UNION ALL
            SELECT 'user_id', CAST(COUNT(*) - COUNT(user_id) AS BIGINT),
                   COUNT(*) FROM events
            UNION ALL
            SELECT 'event_type',
                   CAST(COUNT(*) - COUNT(event_type) AS BIGINT), COUNT(*)
            FROM events
            UNION ALL
            SELECT 'value', CAST(COUNT(*) - COUNT(value) AS BIGINT),
                   COUNT(*) FROM events
            UNION ALL
            SELECT 'props', CAST(COUNT(*) - COUNT(props) AS BIGINT),
                   COUNT(*) FROM events
        )
    """,
)
def q_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null audit — the ingest data-quality gate a training
    pipeline runs BEFORE operators that assume non-null inputs
    (event-time windows, as-of joins, vector ops; see NULLS.md for why
    each declares its null contract).  One row per column: null count
    and null rate in exact ppm.

    Scale: ONE scan, one global aggregate of 2*|cols| partial counts
    (map-side combined to a single row — bytes cross the shuffle, not
    rows), then a driver-trivial stack() of the single aggregate row
    into per-column rows.  At 100 TB this is the cheapest full-table
    statement possible: no per-column passes, no shuffle of data."""
    ev = load_table(spark, sf_dir, "events")
    cols = _NULL_AUDIT_COLS
    agg = ev.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(c).alias(f"__c_{c}") for c in cols],
    )
    stack = ", ".join(f"'{c}', __n - __c_{c}" for c in cols)
    return agg.select(
        F.expr(f"stack({len(cols)}, {stack}) AS (col, n_null)"),
        "__n",
    ).select(
        "col",
        F.col("n_null").cast("long").alias("n_null"),
        # exact integer floor division (`div`), matching the oracle's
        # `//`: double division would round-to-nearest and lose
        # precision past 2^53 — it can cross an integer boundary once n
        # exceeds ~4e9 rows, i.e. exactly at the 100TB scale this audit
        # targets (r9 ADVICE item).
        F.expr("n_null * 1000000 div __n").cast("long").alias("null_ppm"),
    )


@register(
    "q_rollup_revenue",
    family="aggregate",
    oracle="""
        -- ROLLUP(lang, source): per-(lang,source) totals + per-lang
        -- subtotals + grand total, one statement.  GROUPING() flags are
        -- part of the public contract: g_*=1 marks a rolled-up
        -- (subtotal) cell, so a NULL key with g_*=0 is a real NULL data
        -- value, never ambiguous (NULLS.md "grouping-NULL vs data-NULL").
        SELECT CAST(GROUPING(lang) AS INTEGER) AS g_lang,
               CAST(GROUPING(source) AS INTEGER) AS g_source,
               lang, source,
               COUNT(n_chars) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY ROLLUP(lang, source)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals over the corpus: chars per (lang, source), per
    lang, and grand total — the SURVEY §2.4 grouping-sets row, exercised
    through the Frame facade (Frame.rollup -> GroupBy(mode='rollup')).

    NULL contract: a rolled-up key prints as NULL with its GROUPING()
    flag = 1; a NULL *data* key (fuzz corpora null out lang/source)
    prints as NULL with flag = 0 and aggregates as its own group on
    both engines.  The flags make the two cases disjoint, which is the
    whole reason they are in the output schema.

    Scale: Spark plans ONE Expand node (k+1 = 3 replicas emitted
    map-side) into the usual partial->final HashAggregate — a single
    shuffle whose key space is |lang|x|source| + |lang| + 1, i.e. the
    subtotal rows cost no extra pass over the 100-TB fact table."""
    from ..frame import Frame

    docs = load_table(spark, sf_dir, "documents")
    f = Frame(docs).rollup(["lang", "source"]).agg(
        {"n_chars": ["sum", "count"]}, grouping_flags=True
    )
    return f.spark.select(
        "g_lang",
        "g_source",
        "lang",
        "source",
        F.col("n_chars_count").alias("n_docs"),
        F.col("n_chars_sum").cast("long").alias("total_chars"),
    )


@register(
    "q_cube_orders",
    family="aggregate",
    oracle=f"""
        SELECT CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
               o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_scaled_sum("o_totalprice", 100)} AS total_price
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four marginal combinations in
    one statement (SURVEY §2.4 grouping-sets row, CUBE flavor).

    Money discipline: scaled-integer cents sum (functions/det.py) so
    the 2^k overlapping totals are bit-identical to the oracle's —
    cube rows re-aggregate the SAME input rows along different margins,
    which makes float-order drift k times more likely than in a plain
    groupby.

    Scale: one Expand (2^k=4 map-side replicas) -> one shuffle; never
    2^k scans.  k here is 2; the Expand multiplier caps the cost, so
    wide cubes (k>4) should prefer explicit grouping_sets of the
    margins actually consumed (16x map output is real at 100 TB)."""
    od = load_table(spark, sf_dir, "orders")
    return od.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        scaled_sum("o_totalprice", 100).alias("total_price"),
    )


@register(
    "q_grouping_sets_lineitem",
    family="aggregate",
    oracle="""
        SELECT CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
               l_returnflag, l_linestatus,
               CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_linestatus), ())
    """,
)
def q_grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube lower to:
    exactly the margins asked for ((flag,status), (status), grand
    total), nothing else.  Uses the native DataFrame.groupingSets API
    (Spark 4) that Frame.grouping_sets wraps.

    Scale: the Expand multiplier is |sets| = 3, independent of key
    cardinality — for a 100-TB fact table this is the knob that keeps
    multi-margin reporting one-pass without paying CUBE's 2^k."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q_fk_integrity_audit",
    family="aggregate",
    oracle="""
        -- relational ingest gate: one row per constraint check.
        -- NOT EXISTS (never NOT IN) for the dangling-FK probes: NOT IN
        -- over a column containing NULLs is three-valued-logic empty.
        SELECT 'lineitem_null_fk' AS chk,
               CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_bad,
               COUNT(*) AS n FROM lineitem
        UNION ALL
        SELECT 'lineitem_dangling_fk',
               CAST(SUM(CASE WHEN l_orderkey IS NOT NULL
                             AND NOT EXISTS (SELECT 1 FROM orders o
                                             WHERE o.o_orderkey = l.l_orderkey)
                        THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(l_orderkey) AS BIGINT) FROM lineitem l
        UNION ALL
        SELECT 'orders_dangling_custkey',
               CAST(SUM(CASE WHEN o_custkey IS NOT NULL
                             AND NOT EXISTS (SELECT 1 FROM customer c
                                             WHERE c.c_custkey = o.o_custkey)
                        THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(o_custkey) AS BIGINT) FROM orders o
        UNION ALL
        SELECT 'orders_dup_pk',
               CAST(COALESCE(SUM(cnt), 0) AS BIGINT),
               (SELECT COUNT(*) FROM orders)
        FROM (SELECT COUNT(*) AS cnt FROM orders
              WHERE o_orderkey IS NOT NULL
              GROUP BY o_orderkey HAVING COUNT(*) > 1)
        UNION ALL
        SELECT 'lineitem_negative_qty',
               CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(l_quantity) AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'lineitem_rate_domain',
               CAST(SUM(CASE WHEN (l_discount IS NOT NULL
                                   AND (l_discount < 0 OR l_discount > 1))
                              OR (l_tax IS NOT NULL
                                  AND (l_tax < 0 OR l_tax > 1))
                        THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(*) FROM lineitem
        UNION ALL
        SELECT 'orders_negative_total',
               CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(o_totalprice) AS BIGINT) FROM orders
    """,
)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational ingest gate — the fact-table companion to
    q_null_audit (per-column nulls) and q_embedding_audit (vector
    geometry): one row per referential/domain constraint with its
    violation count and denominator.  The r12 adversarial-relational
    corpus is exactly the data this gate exists for (NULL and dangling
    FKs, dup-key storms, negative quantities/totals, rates outside
    [0,1]) — every operator whose contract assumes clean keys
    (merge_by_key, as-of joins, windowed folds) should run behind it.

    Checks: NULL FK, dangling lineitem->orders FK, dangling
    orders->customer FK, duplicated orders PK (rows involved),
    negative quantity, discount/tax outside [0,1], negative total.

    Scale: the domain checks are conditional aggregates fused into ONE
    scan per table (map-side combined to single rows); each dangling-FK
    probe is one LEFT ANTI join on the key — shuffle-on-key, no
    fan-out, counts-only across the exchange; the dup-PK check is one
    keyed groupBy.  Nothing collects; output is |checks| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")

    li_domain = li.agg(
        F.count(F.lit(1)).alias("__n_all"),
        F.count("l_orderkey").alias("__n_fk"),
        F.count("l_quantity").alias("__n_qty"),
        F.sum(F.when(F.col("l_quantity") < 0, 1).otherwise(0))
        .cast("long").alias("__neg_qty"),
        F.sum(
            F.when(
                (F.col("l_discount").isNotNull()
                 & ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)))
                | (F.col("l_tax").isNotNull()
                   & ((F.col("l_tax") < 0) | (F.col("l_tax") > 1))),
                1,
            ).otherwise(0)
        ).cast("long").alias("__bad_rate"),
    )
    od_domain = od.agg(
        F.count(F.lit(1)).alias("__n_all"),
        F.count("o_custkey").alias("__n_fk"),
        F.count("o_totalprice").alias("__n_tp"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0))
        .cast("long").alias("__neg_tp"),
    )
    dangling_li = (
        li.select("l_orderkey")
        .filter(F.col("l_orderkey").isNotNull())
        .join(od.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bad"))
    )
    dangling_od = (
        od.select("o_custkey")
        .filter(F.col("o_custkey").isNotNull())
        .join(cu.select("c_custkey"),
              F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bad"))
    )
    dup_pk = (
        od.filter(F.col("o_orderkey").isNotNull())
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_bad"))
    )

    rows = [
        li_domain.select(
            F.lit("lineitem_null_fk").alias("chk"),
            (F.col("__n_all") - F.col("__n_fk")).cast("long").alias("n_bad"),
            F.col("__n_all").alias("n"),
        ),
        dangling_li.crossJoin(li_domain.select("__n_fk")).select(
            F.lit("lineitem_dangling_fk").alias("chk"),
            "n_bad",
            F.col("__n_fk").alias("n"),
        ),
        dangling_od.crossJoin(od_domain.select("__n_fk")).select(
            F.lit("orders_dangling_custkey").alias("chk"),
            "n_bad",
            F.col("__n_fk").alias("n"),
        ),
        dup_pk.crossJoin(od_domain.select("__n_all")).select(
            F.lit("orders_dup_pk").alias("chk"),
            "n_bad",
            F.col("__n_all").alias("n"),
        ),
        li_domain.select(
            F.lit("lineitem_negative_qty").alias("chk"),
            F.col("__neg_qty").alias("n_bad"),
            F.col("__n_qty").alias("n"),
        ),
        li_domain.select(
            F.lit("lineitem_rate_domain").alias("chk"),
            F.col("__bad_rate").alias("n_bad"),
            F.col("__n_all").alias("n"),
        ),
        od_domain.select(
            F.lit("orders_negative_total").alias("chk"),
            F.col("__neg_tp").alias("n_bad"),
            F.col("__n_tp").alias("n"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "q_jsd_drift",
    family="aggregate",
    oracle="""
        -- identical arithmetic sequence to the Spark side: exact
        -- integer counts -> one double division per share -> ln on the
        -- same doubles -> x1e6 scaled round (the chi2/gini discipline)
        WITH halves AS (
            SELECT lang,
                   CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c_even,
                   CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c_odd
            FROM documents GROUP BY lang
        ),
        tot AS (
            SELECT CAST(SUM(c_even) AS BIGINT) AS n_even,
                   CAST(SUM(c_odd) AS BIGINT) AS n_odd
            FROM halves
        ),
        shares AS (
            SELECT lang, c_even, c_odd,
                   CAST(c_even AS DOUBLE) / n_even AS p,
                   CAST(c_odd AS DOUBLE) / n_odd AS q
            FROM halves, tot
        )
        SELECT lang, c_even, c_odd,
               CAST(FLOOR(1000000 * (
                   0.5 * (CASE WHEN p > 0
                               THEN p * ln(p / ((p + q) / 2)) ELSE 0 END)
                 + 0.5 * (CASE WHEN q > 0
                               THEN q * ln(q / ((p + q) / 2)) ELSE 0 END)
               ) + 0.5) AS BIGINT) AS jsd_s6
        FROM shares
    """,
)
def q_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the language distributions of
    two corpus halves (even/odd doc_id) — the information-theoretic
    drift test a training-data pipeline runs between ingest batches
    (bounded in [0, ln 2], symmetric, defined even where one side has
    zero mass — exactly where KL and PSI blow up; the chi2 screen's
    log-space cousin, q_drift_chi2).  Per-language contribution rows:
    0.5*p*ln(p/m) + 0.5*q*ln(q/m) with m = (p+q)/2, zero-mass terms
    dropping out as 0*ln(0) := 0.  Shares are exact integer counts
    through one double division, and the output is the x1e6
    scaled-round BIGINT — the identical-arithmetic-sequence discipline
    every stat oracle here follows.

    Scale: ONE |langs|-row shuffle with map-side partial counts; the
    two totals broadcast back as a 1-row literal.  Nothing grows with
    corpus size except the map side."""
    d = load_table(spark, sf_dir, "documents")
    halves = d.groupBy("lang").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("c_even"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("c_odd"),
    )
    tot = halves.agg(
        F.sum("c_even").cast("long").alias("n_even"),
        F.sum("c_odd").cast("long").alias("n_odd"),
    )
    s = halves.crossJoin(F.broadcast(tot))
    # try_divide: an all-one-parity corpus makes a half-total 0; bare
    # '/' raises DIVIDE_BY_ZERO under ANSI where the oracle NULLs, and
    # the when(p>0) guards already absorb the resulting NULL (NULLS.md
    # r14 rule: no bare '/' with a data-dependent denominator)
    p = F.try_divide(F.col("c_even").cast("double"), F.col("n_even"))
    q = F.try_divide(F.col("c_odd").cast("double"), F.col("n_odd"))
    m = (p + q) / 2
    contrib = 0.5 * F.when(p > 0, p * F.log(p / m)).otherwise(0.0) + (
        0.5 * F.when(q > 0, q * F.log(q / m)).otherwise(0.0)
    )
    return s.select(
        "lang",
        "c_even",
        "c_odd",
        F.floor(contrib * 1000000 + F.lit(0.5)).cast("long").alias("jsd_s6"),
    )


@register(
    "q_iqr_anomaly_days",
    family="aggregate",
    oracle="""
        -- all comparisons in scaled-INT space: daily revenue is exact
        -- cents; 4*quantile_cont of int64 at .25/.75 lands on quarter
        -- grid -> exact after x4; the 1.5*IQR fence comparison is
        -- cleared of fractions by one more x2 (the q_mad_outliers
        -- discipline, quartile form)
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS rev_c
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL
            GROUP BY CAST(ts AS DATE)
        ),
        qs AS (
            SELECT CAST(4 * quantile_cont(rev_c, 0.25) AS BIGINT) AS q1_4,
                   CAST(4 * quantile_cont(rev_c, 0.75) AS BIGINT) AS q3_4
            FROM daily
        )
        SELECT CAST(day AS TIMESTAMP) AS day, rev_c, q1_4, q3_4,
               CASE WHEN 8 * rev_c > 2 * q3_4 + 3 * (q3_4 - q1_4)
                    THEN 1 ELSE 0 END AS hi_outlier,
               CASE WHEN 8 * rev_c < 2 * q1_4 - 3 * (q3_4 - q1_4)
                    THEN 1 ELSE 0 END AS lo_outlier
        FROM daily, qs
    """,
)
def q_iqr_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence anomaly screen on daily revenue: flag days outside
    [Q1 - 1.5 IQR, Q3 + 1.5 IQR] (the boxplot rule — the quartile
    sibling of the MAD screen q_mad_outliers, catching level shifts
    rather than per-user point outliers).  Exact arithmetic
    throughout: daily revenue sums scaled cents (int64), quartiles are
    exact percentile() over ints (x4 lands the .25/.75 interpolation
    on integers), and the 1.5xIQR fences compare as 8*rev vs
    2*q3_4 +/- 3*(q3_4 - q1_4) — no division, no float comparison,
    bit-identical on both engines.

    Scale: one |days|-row shuffle with map-side partial sums; ONE
    global exact percentile over |days| rows (driver-sized by
    definition — days, not events); fences broadcast back as a 1-row
    literal."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("rev_c")
        )
    )
    qs = daily.agg(
        (F.percentile("rev_c", F.lit(0.25)) * 4).cast("long").alias("q1_4"),
        (F.percentile("rev_c", F.lit(0.75)) * 4).cast("long").alias("q3_4"),
    )
    j = daily.crossJoin(F.broadcast(qs))
    iqr4 = F.col("q3_4") - F.col("q1_4")
    return j.select(
        F.col("day").cast("timestamp").alias("day"),
        "rev_c",
        "q1_4",
        "q3_4",
        F.when(8 * F.col("rev_c") > 2 * F.col("q3_4") + 3 * iqr4, 1)
        .otherwise(0)
        .alias("hi_outlier"),
        F.when(8 * F.col("rev_c") < 2 * F.col("q1_4") - 3 * iqr4, 1)
        .otherwise(0)
        .alias("lo_outlier"),
    )


@register(
    "q_ks_drift",
    family="aggregate",
    oracle="""
        -- EXACT integer KS: at every distinct length x, the ECDF gap
        -- |F_even(x) - F_odd(x)| equals |cum_e*n_o - cum_o*n_e| over
        -- the common denominator n_e*n_o -- so the argmax is decided
        -- entirely in BIGINT space (no float comparison ever breaks a
        -- tie) and only the FINAL reported statistic takes the one
        -- double division of the x1e6 scaled-round discipline.
        WITH pts AS (
            -- NULL lengths are excluded on BOTH sides: an ECDF is
            -- undefined at NULL, and Spark (NULLS FIRST) vs DuckDB
            -- (NULLS LAST) would order the NULL group differently in
            -- the cumulative window (NULLS.md window-sort rule)
            SELECT n_chars AS x,
                   CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c_e,
                   CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c_o
            FROM documents WHERE n_chars IS NOT NULL GROUP BY n_chars
        ),
        cum AS (
            SELECT x,
                   CAST(SUM(c_e) OVER (ORDER BY x) AS BIGINT) AS cum_e,
                   CAST(SUM(c_o) OVER (ORDER BY x) AS BIGINT) AS cum_o
            FROM pts
        ),
        tot AS (
            SELECT CAST(SUM(c_e) AS BIGINT) AS n_e,
                   CAST(SUM(c_o) AS BIGINT) AS n_o
            FROM pts
        ),
        gaps AS (
            SELECT x, abs(cum_e * n_o - cum_o * n_e) AS d_num, n_e, n_o
            FROM cum, tot
        )
        -- argmax via ONE ranked pass (ties on the max broken by min
        -- x): a max-subquery + self-filter would evaluate the whole
        -- gaps pipeline twice
        SELECT n_e AS n_even, n_o AS n_odd,
               CAST(d_num AS BIGINT) AS d_num,
               CAST(x AS BIGINT) AS at_x,
               CAST(FLOOR(1000000.0 * d_num / (n_e * n_o) + 0.5) AS BIGINT)
                   AS ks_s6
        FROM gaps
        QUALIFY ROW_NUMBER() OVER (ORDER BY d_num DESC, x ASC) = 1
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the doc-length
    distributions of two corpus halves (even/odd doc_id) — the
    CONTINUOUS-distribution drift screen that rounds out the drift
    family (q_drift_chi2 and q_jsd_drift compare categorical shares;
    KS catches a shifted/stretched length distribution those cannot
    see).  D = max_x |F_even(x) - F_odd(x)| evaluated at every
    distinct length; ties on the max broken by MIN(x) so the reported
    location is deterministic.

    All comparison arithmetic is exact BIGINT (ECDF gaps put over the
    common denominator n_e*n_o); one double division at the very end.

    Scale: ONE |distinct lengths|-row shuffle with map-side partial
    counts; the cumulative ECDF sums run DISTRIBUTED over that
    distinct-value table (operators/ranking.py ``_range_offsets`` —
    sampled range bounds + per-``__pid`` prefix offsets, fused for
    both halves' counts, because distinct lengths of a web corpus
    approach data scale), the two totals broadcast back as a 1-row
    literal, and the argmax is a TakeOrderedAndProject limit(1), never
    a single-partition ranked window."""
    from pyspark.sql.window import Window

    from ..operators.ranking import _range_offsets

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    pts = d.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("c_e"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("c_o"),
    )
    # both halves' cumulative sums in ONE ranged pass; the totals come
    # from the bounded per-__pid rollup, not a second documents scan
    joined, w = _range_offsets(
        pts, [F.asc("x")], {"__se": F.sum("c_e"), "__so": F.sum("c_o")}
    )
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    gaps = joined.select(
        "x",
        F.abs(
            (F.sum("c_e").over(w_cum) + F.col("__se")) * F.col("__so_all")
            - (F.sum("c_o").over(w_cum) + F.col("__so")) * F.col("__se_all")
        ).alias("d_num"),
        F.col("__se_all").alias("n_e"),
        F.col("__so_all").alias("n_o"),
    )
    # argmax via the distributed TakeOrderedAndProject (the
    # q_pagerank_items limit-then-rank lesson): (d_num desc, x asc) is
    # a total order over unique x, so limit(1) picks exactly the row
    # the oracle's ranked QUALIFY = 1 picks
    return (
        gaps.orderBy(F.col("d_num").desc(), F.col("x").asc())
        .limit(1)
        .select(
            F.col("n_e").alias("n_even"),
            F.col("n_o").alias("n_odd"),
            F.col("d_num").cast("long").alias("d_num"),
            F.col("x").cast("long").alias("at_x"),
            F.floor(
                F.lit(1000000.0)
                * F.col("d_num")
                / (F.col("n_e") * F.col("n_o"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("ks_s6"),
        )
    )


@register(
    "q_burstiness",
    family="aggregate",
    oracle="""
        -- inter-purchase gap burstiness per user, Goh & Barabasi 2008:
        -- B = (sigma - mu) / (sigma + mu) in [-1, 1): -1 = perfectly
        -- regular, 0 = Poisson, ->1 = bursty.  Gaps are EXACT integer
        -- seconds (epoch-microsecond difference, integer-divided);
        -- moments accumulate as exact BIGINT sums (n, S, Q); the only
        -- doubles are the identical mean/var/sqrt sequence both
        -- engines run, and /0 (all-zero gaps) NULLs on both sides.
        WITH pur AS (
            -- ts IS NOT NULL: a NULL timestamp has no place on a gap
            -- timeline, and the two engines would order it on opposite
            -- ends of the lag window (NULLS.md window-sort rule)
            SELECT user_id, ts, event_id,
                   epoch_us(ts) AS us
            FROM events
            WHERE event_type = 'purchase' AND ts IS NOT NULL
        ),
        gaps AS (
            SELECT user_id,
                   (us - lag(us) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                   )) // 1000000 AS gap_s
            FROM pur
        ),
        mom AS (
            SELECT user_id,
                   CAST(COUNT(gap_s) AS BIGINT) AS n,
                   CAST(SUM(gap_s) AS BIGINT) AS s,
                   CAST(SUM(gap_s * gap_s) AS BIGINT) AS q
            FROM gaps WHERE gap_s IS NOT NULL
            GROUP BY user_id HAVING COUNT(gap_s) >= 2
        )
        SELECT user_id, n, s, q,
               CAST(FLOOR(
                   (sqrt(greatest(
                        CAST(q AS DOUBLE) / n
                        - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                        0.0))
                    - CAST(s AS DOUBLE) / n)
                   / nullif(
                       sqrt(greatest(
                           CAST(q AS DOUBLE) / n
                           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                           0.0))
                       + CAST(s AS DOUBLE) / n, 0.0)
                   * 1000000 + 0.5) AS BIGINT) AS b_s6
        FROM mom
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event burstiness coefficient per user over purchase
    events (Goh & Barabasi 2008): B = (sigma - mu)/(sigma + mu) of the
    inter-purchase gap distribution — the temporal cousin of the
    concentration stats (a user with B near 1 buys in bursts; near -1
    on a metronome).  The ingest-pipeline use: bursty sources need
    rate-limiting / dedup windows sized to the burst, not the mean.

    Determinism discipline: gaps are exact integer SECONDS (epoch-us
    difference, integer division); per-user moments (n, S, Q) are
    exact BIGINT sums, so sigma/mu run the identical double sequence
    on both engines; variance is clamped at 0 before sqrt (catastrophic
    cancellation on near-constant gaps); the B division NULLs when
    sigma+mu = 0 (all gaps zero) via try_divide = nullif twin.

    Scale: one user-keyed window (lag) + one user-keyed aggregation —
    the window's hash partitioning is reused by the groupBy (same key,
    no second shuffle); moments are 3 numbers per user."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    pur = ev.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    gaps = pur.select(
        "user_id",
        ((F.col("us") - F.lag("us").over(w)) / 1000000)
        .cast("long")
        .alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    mom = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").cast("long").alias("n"),
            F.sum("gap_s").cast("long").alias("s"),
            F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("q"),
        )
        .filter(F.col("n") >= 2)
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = F.greatest(
        F.col("q").cast("double") / F.col("n") - mu * mu, F.lit(0.0)
    )
    sigma = F.sqrt(var)
    return mom.select(
        "user_id",
        "n",
        "s",
        "q",
        F.floor(F.try_divide(sigma - mu, sigma + mu) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("b_s6"),
    )


@register(
    "q_txlog_auto_compact",
    family="partitioning",
    oracle="""
        -- the snapshot of a 12-commit auto-compacted txlog table must
        -- equal plain orders exactly: if the live-dir-count-triggered
        -- compaction (commit(auto_optimize_every=5)) ever lost,
        -- duplicated, or corrupted a row while collapsing dirs, these
        -- totals diverge.  Exact-integer outputs only (count + BIGINT
        -- key sum + cents sum).
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents_sum
        FROM orders GROUP BY o_orderstatus
    """,
)
def q_txlog_auto_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-compaction policy oracle-checked end to end (r15): orders
    commit as 12 key-partitioned appends with
    ``commit(auto_optimize_every=5)``, so the live-dir-count trigger
    fires repeatedly mid-stream (the r14 scale probe's fix for the
    N-single-file-dirs snapshot term); the final snapshot's per-status
    totals must equal raw orders — compaction is an OVERWRITE commit
    whose contents must be byte-equivalent to the dirs it retires.
    The query RAISES if the policy failed to cap the live set (a
    silently uncompacted table would still pass the value check — the
    matview no-silent-fallback discipline).

    Scale: compaction rewrites the live set into one dir per trigger;
    readers scan O(threshold) dirs instead of O(commits); the policy
    rides the existing optimize() detect-and-abort so concurrent
    writers stay safe."""
    import tempfile

    from ..sources.txlog import commit, read_snapshot, snapshot_dirs

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="spark-graft-autocompact-")
    path = f"{root}/t"
    for i in range(12):
        commit(
            od.filter(F.pmod(F.col("o_orderkey"), F.lit(12)) == i),
            path,
            "append",
            auto_optimize_every=5,
        )
    live = snapshot_dirs(spark, path)
    if len(live) > 5:
        raise RuntimeError(
            f"auto_optimize_every=5 failed to cap live dirs: {len(live)}"
        )
    snap = read_snapshot(spark, path)
    return snap.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )
