"""SparkSession factory tuned for the engine.

Design notes (SURVEY.md §6): at small scale factors fixed overheads
dominate, so we keep shuffle partitions low locally; at cluster scale
AQE re-sizes post-shuffle partitions anyway, so these settings are safe
defaults for both regimes.  Every knob below is a public Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Arrow for every Python<->JVM exchange (pandas_udf, toPandas, applyInPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # AQE: runtime partition coalescing, skew-join splitting, broadcast demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps vs the DuckDB oracle (naive == UTC).
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dims (nation/region/supplier/customer/part) are
    # broadcast-sized at every SF in testdata; on a real cluster AQE takes over.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ANSI off: match the reference's permissive pandas-like arithmetic
    # (overflow wraps, bad casts -> null) rather than erroring mid-pipeline.
    "spark.sql.ansi.enabled": "false",
    # ...but keep size(NULL) = NULL even with ANSI off.  ansi=false flips
    # legacy.sizeOfNull back to true (size(NULL) = -1), silently diverging
    # from BOTH the driver's plain ANSI session and DuckDB's NULL-in/
    # NULL-out len() — the r11 corpus fuzzer caught q_doc_packing packing
    # NULL-text docs into pack floor((sum+1)/2048) under this session
    # while the same query was green under the driver's.  Every query
    # must behave identically under either session flavor.
    "spark.sql.legacy.sizeOfNull": "false",
    "spark.ui.enabled": "false",
    # local[32] runs 32 concurrent tasks in ONE JVM; interpreted HOF
    # stages are allocation-heavy, so give the collector headroom
    # (the box has 128 GiB; on a cluster executor memory is set by the
    # deploy, not here).
    "spark.driver.memory": "32g",
}


def get_spark(
    app_name: str = "dask_cudf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count: right for
    local[] testing; on a cluster pass a value sized to the data
    (or rely on AQE coalescing from a high initial value).

    ``extra_conf`` overrides any default.  The shuffle codec stays
    Spark's lz4: zstd measured within noise at local volumes
    (bench_local_r16/ab_zstd.txt); on a network-bound cluster pass
    ``{"spark.io.compression.codec": "zstd"}``.
    """
    # before the JVM launches: make google.protobuf importable for the
    # transformWithState streaming runner if only a vendored copy
    # exists on the host (no-op when protobuf is properly installed)
    from .compat import ensure_protobuf

    ensure_protobuf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else int(cpus)
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
