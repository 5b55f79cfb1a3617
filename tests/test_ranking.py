"""Distributed exact global ranking (operators/ranking.py):
bit-equality against the single-partition window ground truth at
several shuffle widths, NTILE edge cases, and the plan contract (no
full-data Exchange SinglePartition, no pinned or range-exchanged
input)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_cudf_spark.operators.ranking import (
    global_cumsum,
    global_ntile,
    global_row_number,
)
from dask_cudf_spark.plans import descendants, plan_nodes


def _same(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _hashed(spark, n=10007):
    return spark.range(0, n).select(
        (F.hash("id") % 1000).alias("v"), F.col("id").alias("k")
    )


@pytest.fixture()
def frame(spark):
    # adversarial: heavy ties in v (1000 distinct over 10007 rows), so
    # correctness leans on the tiebreaker key and on range-partition
    # boundaries landing mid-tie-group
    return _hashed(spark)


def _nullable(spark, n=2000):
    # v null on every 5th row, 17 distinct values otherwise
    return spark.range(0, n).select(
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.col("id") % 17)
        .alias("v"),
        F.col("id").alias("k"),
    )


#: name -> (input frame, total sort order); each case targets one way
#: the sampled bounds and the __pid comparison could disagree with the
#: window's own sort
_ROW_NUMBER_CASES = {
    "asc": lambda s: (_hashed(s), [F.asc("v"), F.asc("k")]),
    "desc": lambda s: (_hashed(s), [F.desc("v"), F.asc("k")]),
    # 3 distinct values: every bound lands inside a tie group
    "ties_straddle_bounds": lambda s: (
        s.range(0, 3000).select(
            (F.col("id") % 3).alias("v"), F.col("id").alias("k")
        ),
        [F.asc("v"), F.desc("k")],
    ),
    "nulls_first": lambda s: (
        _nullable(s),
        [F.asc_nulls_first("v"), F.asc("k")],
    ),
    "nulls_last": lambda s: (
        _nullable(s),
        [F.asc_nulls_last("v"), F.asc("k")],
    ),
    "desc_nulls_first": lambda s: (
        _nullable(s),
        [F.desc_nulls_first("v"), F.desc("k")],
    ),
    "nan_and_null": lambda s: (
        s.range(0, 2000).select(
            F.when(F.col("id") % 7 == 0, F.lit(float("nan")))
            .when(F.col("id") % 11 == 0, None)
            .otherwise((F.col("id") % 13) * 0.5 - 3.0)
            .alias("v"),
            F.col("id").alias("k"),
        ),
        [F.desc_nulls_last("v"), F.asc("k")],
    ),
    # microsecond timestamps: the bounds must round-trip exactly
    "timestamp": lambda s: (
        s.range(0, 2000).select(
            F.timestamp_micros(
                F.lit(1700000000123457) + (F.col("id") % 50) * 3600000001
            ).alias("t"),
            F.col("id").alias("k"),
        ),
        [F.desc("t"), F.asc("k")],
    ),
    "empty": lambda s: (_hashed(s, 0), [F.asc("v"), F.asc("k")]),
    "fewer_rows_than_partitions": lambda s: (
        _hashed(s, 3),
        [F.asc("v"), F.asc("k")],
    ),
}


@pytest.fixture(params=[1, 4, 7])
def shuffle_partitions(spark, request):
    """The ranking width P: 1 (no bounds, no sampling job) and two
    bound counts that do not divide the inputs evenly."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(request.param))
    yield request.param
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("case", sorted(_ROW_NUMBER_CASES))
def test_global_row_number_matches_window(spark, shuffle_partitions, case):
    """global_row_number equals ``Window.orderBy`` row_number and is a
    1..N permutation, whatever the width and however ties, nulls, NaN
    and sort directions fall against the sampled bounds."""
    df, order = _ROW_NUMBER_CASES[case](spark)
    got = global_row_number(df, order, out="rank")
    exp = df.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long")
    )
    assert _same(got, exp)
    ranks = sorted(r["rank"] for r in got.select("rank").collect())
    assert ranks == list(range(1, df.count() + 1))


@pytest.mark.parametrize("n", [2, 5, 7, 13])
def test_global_ntile_matches_window(spark, frame, n):
    order = [F.asc("v"), F.asc("k")]
    got = global_ntile(frame, n, order, out="t")
    exp = frame.withColumn("t", F.ntile(n).over(Window.orderBy(*order)))
    assert _same(got, exp)


def test_global_ntile_fewer_rows_than_tiles(spark):
    tiny = spark.range(0, 3).select(
        F.col("id").alias("v"), F.col("id").alias("k")
    )
    got = global_ntile(tiny, 5, [F.asc("v"), F.asc("k")], out="t")
    exp = tiny.withColumn(
        "t", F.ntile(5).over(Window.orderBy(F.asc("v"), F.asc("k")))
    )
    assert _same(got, exp)


def test_plan_has_no_full_data_single_partition(spark, frame):
    """The contract that makes the operator worth having: the ranked
    DATA never funnels through one partition.  The only allowed
    SinglePartition exchange is the bounded per-__pid prefix sum (<=
    spark.sql.shuffle.partitions rows), which feeds the BROADCAST side
    of the offsets join — so the plan's window over the data must be
    keyed on __pid.  __pid is a pure expression over literal bounds,
    so the plan has no range exchange and no pinned (ExistingRDD)
    input: every consumer recomputes the same __pid with full
    lineage."""
    got = global_row_number(frame, [F.asc("v"), F.asc("k")], out="rank")
    got.collect()
    nodes = plan_nodes(got)  # the AQE-final plan
    descs = [desc for _, _, desc, _ in nodes]
    assert not any("Scan ExistingRDD" in d for d in descs)
    assert not any("rangepartitioning" in d for d in descs)
    # the data-bearing window is partition-keyed on __pid, fed by a
    # __pid hash exchange
    assert any("windowspecdefinition(__pid" in d for d in descs)
    assert any("hashpartitioning(__pid" in d for d in descs)
    single = [i for i, d in enumerate(descs) if "SinglePartition" in d]
    assert len(single) == 1
    # a BroadcastExchange must sit above that exchange
    j = single[0]
    assert any(
        name == "BroadcastExchange" and i < j <= i + len(descendants(nodes, i))
        for i, (_, name, _, _) in enumerate(nodes)
    ), descs


def test_global_cumsum_matches_window(spark, frame):
    got = global_cumsum(
        frame.withColumn("w", (F.col("v") % 7) + 1),
        [F.asc("v"), F.asc("k")],
        "w",
        out="cs",
    )
    exp = frame.withColumn("w", (F.col("v") % 7) + 1).withColumn(
        "cs",
        F.sum("w")
        .over(
            Window.orderBy(F.asc("v"), F.asc("k")).rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long"),
    )
    assert _same(got, exp)


def test_global_rank_methods_match_window(spark):
    from dask_cudf_spark.operators.ranking import global_rank_methods

    df = spark.range(0, 5000).select(
        (F.hash("id") % 40).alias("v"), F.col("id").alias("k")
    )
    got = global_rank_methods(df, "v")
    w = Window.orderBy("v")
    t = Window.partitionBy("v")
    ties = F.count("*").over(t)
    rmin = F.rank().over(w)
    exp = df.select(
        "v",
        "k",
        rmin.cast("long").alias("rank_min"),
        (rmin + ties - 1).cast("long").alias("rank_max"),
        (rmin + (ties - 1) / 2.0).alias("rank_avg"),
        F.dense_rank().over(w).cast("long").alias("rank_dense"),
    )
    assert _same(got.select(*exp.columns), exp)


def test_frame_rank_pandas_parity(spark):
    """Frame.rank matches pandas Series.rank for every method, both
    directions, and pct (incl. the dense-pct distinct-count rule)."""
    import pandas as pd

    from dask_cudf_spark.frame import Frame

    pdf = pd.DataFrame(
        {"v": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5], "k": range(11)}
    )
    fr = Frame(spark.createDataFrame(pdf))
    for method in ("average", "min", "max", "dense"):
        for asc in (True, False):
            for pct in (False, True):
                got = (
                    fr.rank("v", method=method, ascending=asc, pct=pct)
                    .compute()
                    .sort_values("k")["v_rank"]
                    .astype(float)
                    .to_numpy()
                )
                exp = (
                    pdf["v"]
                    .rank(method=method, ascending=asc, pct=pct)
                    .astype(float)
                    .to_numpy()
                )
                assert (got == exp).all(), (method, asc, pct, got, exp)


def test_frame_rank_first_with_tiebreak(spark):
    """method='first' matches pandas when the tiebreak column IS the
    physical row order pandas uses; without a tiebreak it refuses (a
    distributed frame has no row order to break ties by)."""
    import pandas as pd
    import pytest as _pytest

    from dask_cudf_spark.frame import Frame

    pdf = pd.DataFrame(
        {"v": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5], "k": range(11)}
    )
    fr = Frame(spark.createDataFrame(pdf))
    for asc in (True, False):
        got = (
            fr.rank("v", method="first", ascending=asc, tiebreak="k")
            .compute()
            .sort_values("k")["v_rank"]
            .astype(float)
            .to_numpy()
        )
        exp = (
            pdf["v"].rank(method="first", ascending=asc).astype(float).to_numpy()
        )
        assert (got == exp).all(), (asc, got, exp)
    with _pytest.raises(ValueError, match="tiebreak"):
        fr.rank("v", method="first")


def test_frame_rank_rejects_unknown_method(spark):
    import pytest as _pytest

    from dask_cudf_spark.frame import Frame

    fr = Frame(spark.range(3).select(F.col("id").alias("v")))
    with _pytest.raises(ValueError, match="method"):
        fr.rank("v", method="percentile")
