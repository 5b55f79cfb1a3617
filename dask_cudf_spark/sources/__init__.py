"""Sources & sinks (SURVEY.md §2.1).

The reference exposes read_parquet/read_csv/read_json/read_orc/read_text/
read_avro plus to_parquet/to_orc/to_csv/to_json (upstream:
python/dask_cudf/dask_cudf/io/*).  Spark's readers already implement the
reference's partitioned-read semantics — row-group splitting, column
projection, predicate pushdown, hive partition pruning — so these are thin,
option-mapped wrappers that keep the reference's argument names.
"""

from .readers import (
    read_avro,
    read_binary_files,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    read_text,
)
from .tables import (
    TABLE_NAMES,
    load_table,
    load_tables,
    register_temp_views,
    scale_out,
)
from .matview import matview_is_fresh, read_matview, refresh_matview
from .txlog import commit as txlog_commit
from .txlog import merge_by_key as txlog_merge
from .txlog import optimize as txlog_optimize
from .txlog import vacuum as txlog_vacuum
from .txlog import read_snapshot as txlog_read_snapshot
from .txlog import table_history as txlog_history
from .writers import (
    to_csv,
    to_json,
    to_orc,
    to_parquet,
    to_parquet_zordered,
    upsert_partitions,
)

__all__ = [
    "read_parquet",
    "read_csv",
    "read_json",
    "read_orc",
    "read_text",
    "read_avro",
    "read_binary_files",
    "to_parquet",
    "to_parquet_zordered",
    "upsert_partitions",
    "to_orc",
    "to_csv",
    "to_json",
    "txlog_commit",
    "txlog_merge",
    "txlog_optimize",
    "txlog_vacuum",
    "txlog_read_snapshot",
    "txlog_history",
    "refresh_matview",
    "read_matview",
    "matview_is_fresh",
    "TABLE_NAMES",
    "load_table",
    "load_tables",
    "register_temp_views",
    "scale_out",
]
