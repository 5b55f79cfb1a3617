"""AQE runtime skew-join probe (scale-story evidence).

The engine handles skew two ways: explicit salting (operators/skew.py,
plan-asserted in tests/test_plans.py) and Spark AQE's runtime skew-join
split (`spark.sql.adaptive.skewJoin.enabled`, on in session defaults).
Salting is proven; this probe demonstrates the AQE path actually fires
and pays for itself, because at 100 TB the first line of defense is the
runtime re-plan, not hand-salting every join.

Setup: a synthetic fact table where ~90% of rows share ONE join key
(the pathological hot-key case), joined to a small-but-not-broadcast
dim (auto-broadcast disabled to force a shuffle join).  Thresholds are
scaled down so the same geometry that triggers at hundreds-of-MB
partitions on a cluster triggers on local[32] test data.

Measured: wall time with skewJoin OFF vs ON (same session, runtime
confs), and the executed plan's skew marker.  Writes a JSON line and a
markdown row for BASELINE.md.

    python scripts/skew_probe.py [N_FACT_ROWS] [RUNS]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from dask_cudf_spark.plans import plan_nodes  # noqa: E402


def build_inputs(spark, n_rows: int):
    """Fact: 90% of rows on key 0, rest uniform over 997 keys.
    Dim: 1000 keys with a payload column.  Both persisted so the
    timed joins measure join cost, not input generation."""
    fact = (
        spark.range(n_rows)
        .withColumn(
            "k",
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(
                F.col("id") % 997
            ),
        )
        .withColumn("v", (F.col("id") % 1000).cast("double"))
        .drop("id")
        .persist()
    )
    dim = (
        spark.range(1000)
        .withColumnRenamed("id", "k")
        .withColumn("w", (F.col("k") * 3 % 7).cast("double"))
        .persist()
    )
    fact.count()
    dim.count()
    return fact, dim


def _skew_split(df) -> bool:
    """AQE split a skewed partition: the executed SortMergeJoin is
    named ``SortMergeJoin(skew=true)``."""
    return any(
        name == "SortMergeJoin(skew=true)" for _, name, _, _ in plan_nodes(df)
    )


def timed_join(spark, fact, dim, skew_on: bool) -> tuple[float, bool, int]:
    """NOTE the downstream aggregate is GLOBAL, not groupBy('k'):
    when the stage after the join reuses the join's hash partitioning
    (e.g. groupBy on the join key), AQE declines to split the skewed
    partition — the split would force an extra shuffle — unless
    spark.sql.adaptive.forceOptimizeSkewedJoin is set.  That knob is
    the right call on a real cluster when the skew dwarfs one extra
    shuffle; here the probe isolates the split itself."""
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower()
    )
    t0 = time.time()
    out = fact.join(dim, "k").agg(
        F.sum(F.col("v") * F.col("w")).alias("s")
    )
    rows = out.collect()
    wall = time.time() - t0
    return wall, _skew_split(out), len(rows)


def timed_groupby_join(
    spark, fact, dim, force: bool
) -> tuple[float, bool, int]:
    """The partitioning-reuse case: groupBy on the JOIN KEY downstream.
    AQE declines the skew split here (it would insert an extra
    shuffle) unless forceOptimizeSkewedJoin says the trade is worth
    it — which it is, whenever the hot key dwarfs one shuffle."""
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.forceOptimizeSkewedJoin", str(force).lower()
    )
    t0 = time.time()
    out = (
        fact.join(dim, "k")
        .groupBy("k")
        .agg(F.sum(F.col("v") * F.col("w")).alias("s"))
    )
    rows = out.collect()
    wall = time.time() - t0
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
    return wall, _skew_split(out), len(rows)


def main() -> int:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from dask_cudf_spark.session import get_spark

    spark = get_spark(
        app_name="skew-probe",
        extra_conf={
            # force a shuffle join (the dim would broadcast otherwise)
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            # scale the cluster-sized skew thresholds down to testdata:
            # split any post-shuffle partition > 1 MB and > 2x median
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
        },
    )
    fact, dim = build_inputs(spark, n_rows)

    # warm both paths once (codegen + shuffle files), then interleave
    timed_join(spark, fact, dim, False)
    timed_join(spark, fact, dim, True)
    offs, ons = [], []
    marker_on = marker_off = None
    for _ in range(runs):
        w, m, n_off = timed_join(spark, fact, dim, False)
        offs.append(w)
        marker_off = m
        w, m, n_on = timed_join(spark, fact, dim, True)
        ons.append(w)
        marker_on = m
    assert n_off == n_on == 1, (n_off, n_on)  # global aggregate

    # leg 2: groupBy-on-join-key (partitioning reuse blocks the split
    # unless forced)
    timed_groupby_join(spark, fact, dim, False)  # warm
    gb_noforce, gb_force = [], []
    m_noforce = m_force = None
    for _ in range(runs):
        w, m, n1 = timed_groupby_join(spark, fact, dim, False)
        gb_noforce.append(w)
        m_noforce = m
        w, m, n2 = timed_groupby_join(spark, fact, dim, True)
        gb_force.append(w)
        m_force = m
    assert n1 == n2 == 997  # {0} ∪ (id % 997): 997 distinct keys

    result = {
        "n_fact_rows": n_rows,
        "hot_key_share": 0.9,
        "skew_off_min_s": round(min(offs), 3),
        "skew_on_min_s": round(min(ons), 3),
        "speedup": round(min(offs) / min(ons), 2),
        "plan_skew_marker_on": marker_on,
        "plan_skew_marker_off": marker_off,
        "groupby_reuse_min_s": round(min(gb_noforce), 3),
        "groupby_forced_min_s": round(min(gb_force), 3),
        "groupby_speedup": round(min(gb_noforce) / min(gb_force), 2),
        "groupby_marker_unforced": m_noforce,
        "groupby_marker_forced": m_force,
        "runs": runs,
    }
    print(json.dumps(result))
    ok = (
        marker_on
        and not marker_off
        and min(ons) < min(offs)
        and m_force
        and not m_noforce
    )
    print("PROBE", "OK" if ok else "UNEXPECTED")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
