"""pandas/dask-cudf-style API facade over Spark DataFrames.

This is the reference's user surface (upstream:
python/dask_cudf/dask_cudf/core.py DataFrame/Series API) re-expressed
as a thin wrapper over pyspark.sql.DataFrame: every method builds the
same declarative plan a native PySpark user would write — the facade
adds zero execution machinery, so Catalyst sees idiomatic plans
(pushdown, pruning, broadcast selection all apply).

Frame   ≙ dask_cudf.DataFrame   (partitioned cuDF frames + meta)
Col     ≙ dask_cudf.Series / cudf column expression
GroupBy ≙ CudfDataFrameGroupBy  (upstream: dask_cudf/groupby.py)

Laziness matches the reference: everything is lazy until .compute() /
.to_parquet() / .head().
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------- Col
class Col:
    """A lazy column expression (≙ dask_cudf.Series)."""

    def __init__(self, expr: Column):
        self._c = expr

    # -- operators ----------------------------------------------------
    def _bin(self, other, op) -> "Col":
        o = other._c if isinstance(other, Col) else other
        return Col(op(self._c, o))

    def __add__(self, o):
        return self._bin(o, lambda a, b: a + b)

    def __radd__(self, o):
        return self._bin(o, lambda a, b: b + a)

    def __sub__(self, o):
        return self._bin(o, lambda a, b: a - b)

    def __rsub__(self, o):
        return self._bin(o, lambda a, b: b - a)

    def __mul__(self, o):
        return self._bin(o, lambda a, b: a * b)

    def __rmul__(self, o):
        return self._bin(o, lambda a, b: b * a)

    def __truediv__(self, o):
        return self._bin(o, lambda a, b: a / b)

    def __mod__(self, o):
        return self._bin(o, lambda a, b: a % b)

    def __floordiv__(self, o):
        return self._bin(o, lambda a, b: F.floor(a / b))

    def __pow__(self, o):
        return self._bin(o, lambda a, b: F.pow(a, b))

    def __neg__(self):
        return Col(-self._c)

    def __eq__(self, o):  # type: ignore[override]
        return self._bin(o, lambda a, b: a == b)

    def __ne__(self, o):  # type: ignore[override]
        return self._bin(o, lambda a, b: a != b)

    def __lt__(self, o):
        return self._bin(o, lambda a, b: a < b)

    def __le__(self, o):
        return self._bin(o, lambda a, b: a <= b)

    def __gt__(self, o):
        return self._bin(o, lambda a, b: a > b)

    def __ge__(self, o):
        return self._bin(o, lambda a, b: a >= b)

    def __and__(self, o):
        return self._bin(o, lambda a, b: a & b)

    def __or__(self, o):
        return self._bin(o, lambda a, b: a | b)

    def __invert__(self):
        return Col(~self._c)

    # -- pandas-style methods ------------------------------------------
    def isin(self, values: Iterable[Any]) -> "Col":
        return Col(self._c.isin(list(values)))

    def between(self, lo, hi) -> "Col":
        return Col(self._c.between(lo, hi))

    def isna(self) -> "Col":
        return Col(self._c.isNull())

    def notna(self) -> "Col":
        return Col(self._c.isNotNull())

    def fillna(self, value) -> "Col":
        return Col(F.coalesce(self._c, F.lit(value)))

    def astype(self, dtype: str) -> "Col":
        return Col(self._c.cast(_SPARK_DTYPES.get(dtype, dtype)))

    def abs(self) -> "Col":
        return Col(F.abs(self._c))

    def round(self, decimals: int = 0) -> "Col":
        return Col(F.round(self._c, decimals))

    def clip(self, lower=None, upper=None) -> "Col":
        # NULL must stay NULL (pandas/cudf clip propagates NA): SQL
        # greatest/least IGNORE nulls, so an unguarded greatest(NULL,
        # lo) silently manufactures the bound (r14 frame-fuzz finding)
        c = self._c
        out = c
        if lower is not None:
            out = F.greatest(out, F.lit(lower))
        if upper is not None:
            out = F.least(out, F.lit(upper))
        return Col(F.when(c.isNotNull(), out))

    def where(self, cond: "Col", other=None) -> "Col":
        return Col(F.when(cond._c, self._c).otherwise(other))

    def alias(self, name: str) -> "Col":
        return Col(self._c.alias(name))

    # -- accessors ------------------------------------------------------
    @property
    def str(self) -> "StrAccessor":
        return StrAccessor(self._c)

    @property
    def dt(self) -> "DtAccessor":
        return DtAccessor(self._c)

    @property
    def list(self) -> "ListAccessor":
        return ListAccessor(self._c)


class StrAccessor:
    """Series.str.* (upstream: cudf/core/column/string.py)."""

    def __init__(self, c: Column):
        self._c = c

    def len(self):
        return Col(F.length(self._c))

    def lower(self):
        return Col(F.lower(self._c))

    def upper(self):
        return Col(F.upper(self._c))

    def capitalize(self):
        # pandas/cudf capitalize: FIRST char upper, rest lower — not
        # initcap (which title-cases every word; r14 frame-fuzz finding)
        return Col(
            F.concat(
                F.upper(F.substring(self._c, 1, 1)),
                F.lower(F.substring(self._c, 2, 2147483646)),
            )
        )

    def strip(self, to_strip: str | None = None):
        return Col(F.trim(self._c) if to_strip is None else F.btrim(self._c, F.lit(to_strip)))

    def lstrip(self):
        return Col(F.ltrim(self._c))

    def rstrip(self):
        return Col(F.rtrim(self._c))

    def contains(self, pat: str, regex: bool = True):
        return Col(self._c.rlike(pat) if regex else self._c.contains(pat))

    def match(self, pat: str):
        return Col(self._c.rlike(f"^{pat}"))

    def startswith(self, s: str):
        return Col(self._c.startswith(s))

    def endswith(self, s: str):
        return Col(self._c.endswith(s))

    def find(self, sub: str):
        return Col(F.instr(self._c, sub) - 1)  # pandas is 0-based, -1 if missing

    def replace(self, pat: str, repl: str, regex: bool = True):
        if regex:
            return Col(F.regexp_replace(self._c, pat, repl))
        return Col(F.replace(self._c, F.lit(pat), F.lit(repl)))

    def slice(self, start: int = 0, stop: int | None = None):
        length = (stop - start) if stop is not None else 2147483647
        return Col(F.substring(self._c, start + 1, length))

    def get(self, i: int):
        return Col(F.substring(self._c, i + 1, 1))

    def split(self, pat: str = r"\s+", regex: bool = True):
        import re as _re

        return Col(F.split(self._c, pat if regex else _re.escape(pat)))

    def extract(self, pat: str, group: int = 1):
        return Col(F.regexp_extract(self._c, pat, group))

    def findall(self, pat: str):
        return Col(F.regexp_extract_all(self._c, F.lit(pat)))

    def count(self, pat: str):
        return Col(F.regexp_count(self._c, F.lit(pat)))

    def cat(self, others: "Col", sep: str = ""):
        return Col(F.concat_ws(sep, self._c, others._c))

    def pad(self, width: int, side: str = "left", fillchar: str = " "):
        # pandas/cudf pad never TRUNCATES an already-wide value; Spark
        # lpad/rpad cut to `width` (r14 frame-fuzz finding)
        fn = F.lpad if side == "left" else F.rpad
        return Col(
            F.when(F.length(self._c) >= width, self._c).otherwise(
                fn(self._c, width, fillchar)
            )
        )

    def zfill(self, width: int):
        # pandas/cudf zfill keeps a leading +/- SIGN ahead of the pad
        # ("-5".zfill(4) == "-005", not "00-5") and never truncates an
        # already-wide value (r14 frame-fuzz findings)
        sign = F.substring(self._c, 1, 1)
        return Col(
            F.when(F.length(self._c) >= width, self._c)
            .when(
                sign.isin("-", "+"),
                F.concat(
                    sign,
                    F.lpad(
                        F.substring(self._c, 2, 2147483646),
                        max(width - 1, 0),
                        "0",
                    ),
                ),
            )
            .otherwise(F.lpad(self._c, width, "0"))
        )

    def repeat(self, n: int):
        return Col(F.repeat(self._c, n))

    def title(self):
        return Col(F.initcap(self._c))

    def isdigit(self):
        return Col(self._c.rlike(r"^[0-9]+$"))

    def isalpha(self):
        return Col(self._c.rlike(r"^[A-Za-z]+$"))

    def isalnum(self):
        return Col(self._c.rlike(r"^[A-Za-z0-9]+$"))

    def isspace(self):
        return Col(self._c.rlike(r"^\s+$"))

    def isupper(self):
        return Col(self._c == F.upper(self._c))

    def islower(self):
        return Col(self._c == F.lower(self._c))

    def normalize_spaces(self):
        return Col(F.regexp_replace(self._c, r"\s+", " "))

    def translate(self, table: Mapping[str, str]):
        src = "".join(table.keys())
        dst = "".join(table.values())
        return Col(F.translate(self._c, src, dst))


class DtAccessor:
    """Series.dt.* (upstream: cpp/src/datetime/datetime_ops.cu)."""

    def __init__(self, c: Column):
        self._c = c

    @property
    def year(self):
        return Col(F.year(self._c))

    @property
    def month(self):
        return Col(F.month(self._c))

    @property
    def day(self):
        return Col(F.dayofmonth(self._c))

    @property
    def hour(self):
        return Col(F.hour(self._c))

    @property
    def minute(self):
        return Col(F.minute(self._c))

    @property
    def second(self):
        return Col(F.second(self._c))

    @property
    def dayofweek(self):
        # pandas: Monday=0..Sunday=6; Spark dayofweek: Sunday=1..Saturday=7
        return Col((F.dayofweek(self._c) + 5) % 7)

    weekday = dayofweek

    @property
    def dayofyear(self):
        return Col(F.dayofyear(self._c))

    @property
    def quarter(self):
        return Col(F.quarter(self._c))

    @property
    def is_month_start(self):
        return Col(F.dayofmonth(self._c) == 1)

    @property
    def is_month_end(self):
        return Col(self._c.cast("date") == F.last_day(self._c))

    @property
    def days_in_month(self):
        return Col(F.dayofmonth(F.last_day(self._c)))

    @property
    def is_leap_year(self):
        y = F.year(self._c)
        return Col(((y % 4) == 0) & (((y % 100) != 0) | ((y % 400) == 0)))

    def strftime(self, fmt: str):
        # translate the common strftime directives to Spark's pattern
        java = (
            fmt.replace("%Y", "yyyy")
            .replace("%m", "MM")
            .replace("%d", "dd")
            .replace("%H", "HH")
            .replace("%M", "mm")
            .replace("%S", "ss")
        )
        return Col(F.date_format(self._c, java))

    def floor(self, freq: str):
        return Col(F.date_trunc(_FREQ_TO_TRUNC[freq], self._c))

    def round(self, freq: str):
        secs = _FREQ_TO_SECONDS[freq]
        rounded = F.round(self._c.cast("double") / secs) * secs
        return Col(F.timestamp_seconds(rounded.cast("long")))


class ListAccessor:
    """Series.list.* (upstream: cpp/src/lists/)."""

    def __init__(self, c: Column):
        self._c = c

    def len(self):
        return Col(F.size(self._c))

    def get(self, i: int):
        # cudf list.get is 0-based; element_at is 1-based
        return Col(F.element_at(self._c, i + 1))

    def contains(self, v):
        return Col(F.array_contains(self._c, v))

    def unique(self):
        return Col(F.array_distinct(self._c))

    def sort_values(self):
        return Col(F.array_sort(self._c))

    def leaves(self):
        return Col(F.flatten(self._c))

    def index(self, v):
        return Col(F.array_position(self._c, v) - 1)

    def take(self, start: int, length: int):
        return Col(F.slice(self._c, start + 1, length))


_SPARK_DTYPES = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "uint32": "bigint",          # Spark has no unsigned -> widen (SURVEY §1)
    "uint64": "decimal(20,0)",
    "float32": "float",
    "float64": "double",
    "bool": "boolean",
    "str": "string",
    "object": "string",
    "datetime64[ns]": "timestamp",
    "datetime64[us]": "timestamp",
}

_FREQ_TO_TRUNC = {
    "D": "day", "H": "hour", "T": "minute", "min": "minute", "S": "second",
    "M": "month", "Y": "year", "W": "week",
    # modern pandas lowercase offset aliases (H/T/S deprecated in 2.2)
    "d": "day", "h": "hour", "s": "second",
}
_FREQ_TO_SECONDS = {
    "D": 86400, "H": 3600, "T": 60, "min": 60, "S": 1,
    "d": 86400, "h": 3600, "s": 1,
}

_AGG_MAP: dict[str, Callable[[str], Column]] = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "size": F.count,
    "mean": F.avg,
    "avg": F.avg,
    "std": F.stddev_samp,
    "var": F.var_samp,
    "nunique": F.countDistinct,
    "collect": F.collect_list,
    "list": F.collect_list,
    "first": F.first,
    "last": F.last,
    "median": lambda c: F.expr(f"percentile({c}, 0.5)"),
    "approx_nunique": F.approx_count_distinct,
}


# ------------------------------------------------------------------- Frame
class Frame:
    """Lazy distributed DataFrame (≙ dask_cudf.DataFrame)."""

    def __init__(self, sdf: DataFrame):
        self._sdf = sdf

    # -- plumbing -------------------------------------------------------
    @property
    def spark(self) -> DataFrame:
        """Escape hatch: the underlying pyspark DataFrame."""
        return self._sdf

    @property
    def columns(self) -> list[str]:
        return self._sdf.columns

    @property
    def dtypes(self) -> list[tuple[str, str]]:
        return self._sdf.dtypes

    def __getattr__(self, name: str) -> Col:
        if name.startswith("_"):
            raise AttributeError(name)
        if name in self._sdf.columns:
            return Col(F.col(name))
        raise AttributeError(f"no column {name!r}")

    def __getitem__(self, key):
        if isinstance(key, str):
            return Col(F.col(key))
        if isinstance(key, list):
            return Frame(self._sdf.select(*key))
        if isinstance(key, Col):  # boolean mask
            return Frame(self._sdf.filter(key._c))
        raise TypeError(f"cannot index Frame with {type(key)}")

    def __setitem__(self, name: str, value) -> None:
        v = value._c if isinstance(value, Col) else F.lit(value)
        self._sdf = self._sdf.withColumn(name, v)

    # -- projection / mutation -------------------------------------------
    def assign(self, **kwargs) -> "Frame":
        sdf = self._sdf
        for name, v in kwargs.items():
            sdf = sdf.withColumn(name, v._c if isinstance(v, Col) else F.lit(v))
        return Frame(sdf)

    def rename(self, columns: Mapping[str, str]) -> "Frame":
        sdf = self._sdf
        for old, new in columns.items():
            sdf = sdf.withColumnRenamed(old, new)
        return Frame(sdf)

    def drop(self, columns: str | Sequence[str]) -> "Frame":
        cols = [columns] if isinstance(columns, str) else list(columns)
        return Frame(self._sdf.drop(*cols))

    def astype(self, dtypes: Mapping[str, str]) -> "Frame":
        sdf = self._sdf
        for c, t in dtypes.items():
            sdf = sdf.withColumn(c, F.col(c).cast(_SPARK_DTYPES.get(t, t)))
        return Frame(sdf)

    def query(self, expr: str) -> "Frame":
        """String predicate (reference df.query) — Spark SQL syntax."""
        return Frame(self._sdf.filter(expr))

    # -- null handling ----------------------------------------------------
    def dropna(self, subset: Sequence[str] | None = None, how: str = "any") -> "Frame":
        return Frame(self._sdf.na.drop(how=how, subset=subset))

    def fillna(self, value) -> "Frame":
        return Frame(self._sdf.na.fill(value))

    def replace(self, to_replace, value) -> "Frame":
        return Frame(self._sdf.na.replace(to_replace, value))

    def ffill(
        self,
        subset: Sequence[str],
        by: Sequence[str],
        order: Sequence[str],
    ) -> "Frame":
        """Forward-fill nulls along `order` within `by` groups (pandas/
        cudf ``ffill``).  A distributed frame has no implicit row order,
        so the axis is explicit — the same reason dask_cudf only ffills
        along sorted divisions.  One shuffle on `by` regardless of how
        many columns fill."""
        w = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        sdf = self._sdf
        for c in subset:
            sdf = sdf.withColumn(c, F.last(c, ignorenulls=True).over(w))
        return Frame(sdf)

    def bfill(
        self,
        subset: Sequence[str],
        by: Sequence[str],
        order: Sequence[str],
    ) -> "Frame":
        """Backward-fill: mirror of :meth:`ffill` over the forward-
        looking frame (first valid value at or after the current row).
        Shares ffill's partitioning, so chaining
        ``.ffill(...).bfill(...)`` still plans ONE shuffle."""
        w = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        sdf = self._sdf
        for c in subset:
            sdf = sdf.withColumn(c, F.first(c, ignorenulls=True).over(w))
        return Frame(sdf)

    def interpolate(
        self,
        subset: Sequence[str],
        by: Sequence[str],
        axis_col: str,
        tiebreak: Sequence[str] = (),
    ) -> "Frame":
        """Linear-interpolate nulls in `subset` along the numeric or
        timestamp axis `axis_col` within `by` groups (pandas/cudf
        ``interpolate(method='index')``): each gap is reconstructed from
        the straight line between its bracketing valid values, weighted
        by axis distance; boundary gaps copy the single available
        neighbor (no extrapolation).  One shuffle on `by` — the forward
        and backward window passes share the partitioning.

        Pass ``tiebreak`` columns (e.g. an id) whenever `axis_col` can
        repeat within a group: without a total order the neighbor choice
        at duplicate axis values is partition-order-dependent."""
        from pyspark.sql import types as T

        axis_t = self._sdf.schema[axis_col].dataType
        if isinstance(axis_t, (T.TimestampType, T.TimestampNTZType)):
            axis = F.unix_micros(F.col(axis_col).cast("timestamp"))
        else:
            axis = F.col(axis_col).cast("double")
        order = [axis_col, *tiebreak]
        wb = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        sdf = self._sdf.withColumn("__ax", axis)
        for c in subset:
            t_valid = F.when(F.col(c).isNotNull(), F.col("__ax"))
            pv = F.last(c, ignorenulls=True).over(wb)
            pt = F.last(t_valid, ignorenulls=True).over(wb)
            nv = F.first(c, ignorenulls=True).over(wf)
            nt = F.first(t_valid, ignorenulls=True).over(wf)
            filled = (
                F.when(F.col(c).isNotNull(), F.col(c))
                .when(pv.isNull(), nv)
                .when(nv.isNull(), pv)
                .when(nt == pt, pv)
                .otherwise(
                    pv
                    + (nv - pv)
                    * ((F.col("__ax") - pt) / (nt - pt))
                )
            )
            sdf = sdf.withColumn(c, filled)
        return Frame(sdf.drop("__ax"))

    # -- relational --------------------------------------------------------
    def merge(
        self,
        right: "Frame",
        on: str | Sequence[str] | None = None,
        how: str = "inner",
        left_on: str | Sequence[str] | None = None,
        right_on: str | Sequence[str] | None = None,
        broadcast: bool = False,
        suffixes: tuple[str, str] = ("_x", "_y"),
    ) -> "Frame":
        """merge (upstream: dask_cudf/core.py DataFrame.merge).  how maps
        pandas names onto Spark join types; `broadcast=True` forces the
        reference's broadcast_join path (otherwise AQE decides)."""
        how_map = {
            "inner": "inner",
            "left": "left",
            "right": "right",
            "outer": "full",
            "cross": "cross",
            "leftsemi": "left_semi",
            "leftanti": "left_anti",
        }
        rsdf = right._sdf
        if broadcast:
            rsdf = F.broadcast(rsdf)
        if how == "cross":
            return Frame(self._sdf.crossJoin(rsdf))
        if on is not None:
            keys = [on] if isinstance(on, str) else list(on)
            # de-dup overlapping non-key columns with suffixes, pandas-style
            overlap = (set(self._sdf.columns) & set(right._sdf.columns)) - set(keys)
            left_sdf = self._sdf
            for c in overlap:
                left_sdf = left_sdf.withColumnRenamed(c, c + suffixes[0])
                rsdf = rsdf.withColumnRenamed(c, c + suffixes[1])
            return Frame(left_sdf.join(rsdf, on=keys, how=how_map[how]))
        lk = [left_on] if isinstance(left_on, str) else list(left_on or [])
        rk = [right_on] if isinstance(right_on, str) else list(right_on or [])
        cond = None
        for a, b in zip(lk, rk):
            term = self._sdf[a] == rsdf[b]
            cond = term if cond is None else (cond & term)
        return Frame(self._sdf.join(rsdf, on=cond, how=how_map[how]))

    def join(self, right: "Frame", on: str | Sequence[str], how: str = "left") -> "Frame":
        return self.merge(right, on=on, how=how)

    def merge_asof(
        self, right: "Frame", on: str, by: str | None = None, **kwargs
    ) -> "Frame":
        from .operators.asof import merge_asof as _asof

        return Frame(_asof(self._sdf, right._sdf, on=on, by=by, **kwargs))

    # -- groupby -------------------------------------------------------------
    def groupby(self, by: str | Sequence[str]) -> "GroupBy":
        keys = [by] if isinstance(by, str) else list(by)
        return GroupBy(self._sdf, keys)

    def rollup(self, by: str | Sequence[str]) -> "GroupBy":
        """OLAP ROLLUP: hierarchical subtotals over a key prefix chain
        plus the grand total (SURVEY §2.4 grouping-sets row).  Spark
        plans ONE Expand node feeding the same partial->final
        HashAggregate as a plain groupby — the k+1 grouping sets cost
        one shuffle, not k+1 scans.  Rolled-up key cells surface as
        NULL; use ``agg(..., grouping_flags=True)`` to emit the
        GROUPING() indicator columns that distinguish a subtotal NULL
        from a NULL data key (the classic trap — see NULLS.md)."""
        keys = [by] if isinstance(by, str) else list(by)
        return GroupBy(self._sdf, keys, mode="rollup")

    def cube(self, by: str | Sequence[str]) -> "GroupBy":
        """OLAP CUBE: aggregates over ALL 2^k key subsets in one Expand
        + one shuffle.  Same NULL/GROUPING() contract as rollup."""
        keys = [by] if isinstance(by, str) else list(by)
        return GroupBy(self._sdf, keys, mode="cube")

    def grouping_sets(
        self, sets: Sequence[Sequence[str]], by: str | Sequence[str]
    ) -> "GroupBy":
        """Explicit GROUPING SETS: aggregate over exactly the given key
        subsets (each a subset of ``by``).  ``[]`` inside ``sets`` is
        the grand-total set.  Same NULL/GROUPING() contract as rollup."""
        keys = [by] if isinstance(by, str) else list(by)
        return GroupBy(
            self._sdf, keys, mode="grouping_sets",
            sets=[list(s) for s in sets],
        )

    # -- dedup / distinct ------------------------------------------------------
    def drop_duplicates(
        self, subset: Sequence[str] | None = None, keep: str = "any"
    ) -> "Frame":
        if keep == "any" or subset is None:
            return Frame(
                self._sdf.dropDuplicates(subset) if subset else self._sdf.distinct()
            )
        raise ValueError(
            "keep='first'/'last' requires an explicit order; use "
            "sort_values(...).drop_duplicates(subset) or the window idiom"
        )

    def nunique(self) -> dict[str, int]:
        row = self._sdf.select(
            *[F.countDistinct(c).alias(c) for c in self._sdf.columns]
        ).collect()[0]
        return row.asDict()

    # -- sorts / limits ---------------------------------------------------------
    def sort_values(
        self,
        by: str | Sequence[str],
        ascending: bool | Sequence[bool] = True,
        na_position: str = "last",
    ) -> "Frame":
        keys = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(keys) if isinstance(ascending, bool) else list(ascending)
        cols = []
        for k, a in zip(keys, asc):
            if a:
                cols.append(
                    F.asc_nulls_last(k) if na_position == "last" else F.asc_nulls_first(k)
                )
            else:
                cols.append(
                    F.desc_nulls_last(k) if na_position == "last" else F.desc_nulls_first(k)
                )
        return Frame(self._sdf.orderBy(*cols))

    def nlargest(self, n: int, columns: str | Sequence[str]) -> "Frame":
        keys = [columns] if isinstance(columns, str) else list(columns)
        return Frame(self._sdf.orderBy(*[F.desc(k) for k in keys]).limit(n))

    def nsmallest(self, n: int, columns: str | Sequence[str]) -> "Frame":
        keys = [columns] if isinstance(columns, str) else list(columns)
        return Frame(self._sdf.orderBy(*[F.asc(k) for k in keys]).limit(n))

    def rank(
        self,
        col: str,
        method: str = "average",
        ascending: bool = True,
        pct: bool = False,
        out: str | None = None,
        tiebreak: str | None = None,
    ) -> "Frame":
        """cudf/pandas ``rank`` over the WHOLE frame (no group key):
        method in {'average','min','max','dense','first'}, optional
        percentile scaling (rank / row count, pandas semantics).  Runs
        as the fully distributed tie-aware ranking in
        operators/ranking.py — distinct values carry tie counts
        through a prefix sum over sampled range bounds; the data itself never
        funnels through one partition (the plan a bare RANK() OVER
        (ORDER BY ...) would produce).  ``method='first'`` requires an
        explicit ``tiebreak`` column: pandas breaks ties by physical
        row order, which a distributed frame does not have — the same
        explicit-axis contract as ffill/diff.  Upstream: cudf
        DataFrame.rank / cpp/src/sorts/rank.cu RANK_METHOD."""
        from .operators.ranking import global_rank_methods, global_row_number

        methods = ("average", "min", "max", "dense", "first")
        if method not in methods:
            raise ValueError(f"method must be one of {methods}")
        out = out or f"{col}_rank"
        if method == "first":
            if tiebreak is None:
                raise ValueError(
                    "method='first' needs tiebreak= (a column giving "
                    "the row order pandas would use) — a distributed "
                    "frame has no physical row order"
                )
            order = [
                F.asc(col) if ascending else F.desc(col),
                F.asc(tiebreak),
            ]
            ranked = global_row_number(self._sdf, order, out="__rank_first")
        else:
            ranked = global_rank_methods(
                self._sdf, col, ascending=ascending, prefix="__rank_"
            )
        key = {"average": "avg"}.get(method, method)
        expr = F.col(f"__rank_{key}")
        if pct:
            # pandas parity: dense pct divides by the DISTINCT count
            # (so the top group lands exactly at 1.0), the other
            # methods by the row count
            denom = (
                F.count_distinct(F.col(col))
                if method == "dense"
                else F.count("*")
            )
            n = ranked.groupBy().agg(denom.alias("__N"))
            ranked = ranked.crossJoin(F.broadcast(n))
            expr = expr / F.col("__N")
        # exclude an existing column named `out`: select(*keep, out)
        # would DUPLICATE it where pandas assignment replaces (r14
        # frame-fuzz finding — rank() twice with the default out name)
        keep = [
            c for c in ranked.columns if not c.startswith("__") and c != out
        ]
        return Frame(ranked.withColumn(out, expr).select(*keep, out))

    def head(self, n: int = 5) -> pd.DataFrame:
        return self._sdf.limit(n).toPandas()

    def tail(self, n: int = 5) -> pd.DataFrame:
        """Last n rows in the frame's current order (driver-collect,
        like dask .tail() pulling from the final partition).  The
        collected rows are re-wrapped with the frame's own schema and
        sent back through toPandas(), so the pandas result goes through
        EXACTLY the type bridge head() uses — nullable numerics come
        back float64/NaN (not object), structs come back as dicts, and
        dtypes match head() by construction.  The round trip is one
        n-row local job (n is small by contract), which is the price of
        exact parity over the old best-effort astype alignment that
        silently diverged on nullable and nested columns."""
        rows = self._sdf.tail(n)
        return self._sdf.sparkSession.createDataFrame(
            rows, self._sdf.schema
        ).toPandas()

    def melt(
        self,
        id_vars: str | Sequence[str],
        value_vars: str | Sequence[str],
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "Frame":
        """Wide-to-long (dask dd.melt) via Spark's native unpivot — rows
        expand partition-locally, no shuffle."""
        ids = [id_vars] if isinstance(id_vars, str) else list(id_vars)
        vals = [value_vars] if isinstance(value_vars, str) else list(value_vars)
        return Frame(self._sdf.unpivot(ids, vals, var_name, value_name))

    def pivot_table(
        self,
        index: str | Sequence[str],
        columns: str,
        values: str,
        aggfunc: str = "sum",
        pivot_values: Sequence[str] | None = None,
    ) -> "Frame":
        """Long-to-wide (pandas pivot_table): groupBy(index).pivot(columns)
        with the chosen aggregate.  Pass ``pivot_values`` (the distinct
        column values) when known — it skips Spark's extra distinct scan
        over the pivot column, the variant that matters at 100 TB."""
        idx = [index] if isinstance(index, str) else list(index)
        piv = self._sdf.groupBy(*idx).pivot(
            columns, list(pivot_values) if pivot_values is not None else None
        )
        return Frame(piv.agg(_AGG_MAP[aggfunc](values)))

    def sample(self, frac: float, random_state: int | None = None) -> "Frame":
        return Frame(self._sdf.sample(fraction=frac, seed=random_state))

    # -- reductions ---------------------------------------------------------------
    def count(self) -> int:
        return self._sdf.count()

    def agg(self, spec: Mapping[str, str | Sequence[str]]) -> pd.DataFrame:
        return self._sdf.agg(*_build_aggs(spec)).toPandas()

    def describe(self) -> pd.DataFrame:
        return self._sdf.summary().toPandas()

    def value_counts(self, col: str) -> "Frame":
        return Frame(
            self._sdf.groupBy(col).agg(F.count("*").alias("count")).orderBy(
                F.desc("count"), col
            )
        )

    def quantile(self, col: str, q: float | Sequence[float], rel_err: float = 1e-4):
        qs = [q] if isinstance(q, float) else list(q)
        res = self._sdf.approxQuantile(col, qs, rel_err)
        return res[0] if isinstance(q, float) else res

    def corr(self, a: str, b: str) -> float:
        return self._sdf.corr(a, b)

    def cov(self, a: str, b: str) -> float:
        return self._sdf.cov(a, b)

    # -- UDF escape hatches (reference map_partitions / apply) ----------------------
    def _order_window(self, order, by):
        order_cols = [order] if isinstance(order, str) else list(order)
        if by:
            keys = [by] if isinstance(by, str) else list(by)
            return Window.partitionBy(*keys).orderBy(*order_cols)
        # global order = one partition at execution (WindowExec warns);
        # pass `by` on anything bigger than a driver-sized frame — the
        # same explicit-axis contract as ffill/interpolate
        return Window.orderBy(*order_cols)

    def diff(
        self,
        col: str,
        order: str | Sequence[str],
        by: str | Sequence[str] | None = None,
        periods: int = 1,
    ) -> "Frame":
        """pandas/cudf ``diff`` along an explicit order (a distributed
        frame has no implicit row order): value - lag(value, periods),
        null for the first ``periods`` rows of each group."""
        w = self._order_window(order, by)
        return Frame(
            self._sdf.withColumn(
                f"{col}_diff", F.col(col) - F.lag(col, periods).over(w)
            )
        )

    def pct_change(
        self,
        col: str,
        order: str | Sequence[str],
        by: str | Sequence[str] | None = None,
        periods: int = 1,
    ) -> "Frame":
        """pandas ``pct_change``: (v - lag) / lag with try_divide, so a
        zero previous value yields null instead of an ANSI error (the
        q_pct_change sf0.1 lesson)."""
        w = self._order_window(order, by)
        prev = F.lag(col, periods).over(w)
        return Frame(
            self._sdf.withColumn(
                f"{col}_pct_change",
                F.try_divide(F.col(col) - prev, prev),
            )
        )

    def _cum(self, col: str, order, by, agg, name: str) -> "Frame":
        w = self._order_window(order, by).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return Frame(self._sdf.withColumn(name, agg(F.col(col)).over(w)))

    def cumsum(self, col, order, by=None) -> "Frame":
        return self._cum(col, order, by, F.sum, f"{col}_cumsum")

    def cummax(self, col, order, by=None) -> "Frame":
        return self._cum(col, order, by, F.max, f"{col}_cummax")

    def cummin(self, col, order, by=None) -> "Frame":
        return self._cum(col, order, by, F.min, f"{col}_cummin")

    def cumprod(self, col, order, by=None) -> "Frame":
        """Running product via Spark's product aggregate over a
        cumulative frame (see q_cumprod for the numeric caveats)."""
        return self._cum(col, order, by, F.product, f"{col}_cumprod")

    def mask(self, cond, other=None, subset: Sequence[str] | None = None) -> "Frame":
        """pandas ``mask``: replace values where cond IS true (the
        complement of where), in every column — or only in ``subset``.

        Deviation from pandas (documented): Spark columns have fixed
        types, so a scalar ``other`` incompatible with a column's type
        raises at analysis instead of upcasting the column to object
        the way pandas does.  Pass ``subset`` to confine the
        replacement to type-compatible columns of a heterogeneous
        frame (``other=None`` nulls out any type and needs no subset).
        """
        sdf = self._sdf
        cols = set(sdf.columns if subset is None else subset)
        out = []
        for c in sdf.columns:
            if c not in cols:
                out.append(F.col(c))
                continue
            repl = F.lit(None) if other is None else F.lit(other)
            out.append(F.when(cond, repl).otherwise(F.col(c)).alias(c))
        return Frame(sdf.select(*out))

    def mode(self, col: str) -> "Frame":
        """Most frequent value(s) of a column (cudf Series.mode): ties
        all returned, ordered by value — two aggregations, one shuffle
        each, never a full sort of the data."""
        counts = self._sdf.groupBy(col).agg(F.count("*").alias("__n"))
        top = counts.agg(F.max("__n").alias("__m"))
        return Frame(
            counts.join(F.broadcast(top), counts["__n"] == top["__m"])
            .select(col)
            .orderBy(col)
        )

    def map_partitions(self, fn: Callable[[pd.DataFrame], pd.DataFrame], schema: str) -> "Frame":
        """Arbitrary per-partition pandas function (the universal escape
        hatch, ≙ dask map_partitions).  Arrow-batched; schema required
        up-front exactly like the reference's `meta`."""

        def gen(it):
            for pdf in it:
                yield fn(pdf)

        return Frame(self._sdf.mapInPandas(gen, schema))

    def apply_rows(self, fn: Callable[[pd.Series], Any], out_col: str, out_type: str) -> "Frame":
        """Row-wise UDF (≙ cudf apply/numba UDF) as a vectorized pandas_udf."""
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(out_type)
        def _udf(*cols: pd.Series) -> pd.Series:
            df = pd.concat(cols, axis=1)
            df.columns = self._sdf.columns[: len(cols)]
            return df.apply(fn, axis=1)

        return Frame(
            self._sdf.withColumn(out_col, _udf(*[F.col(c) for c in self._sdf.columns]))
        )

    # -- physical layout (reference §2.11) ----------------------------------------
    def repartition(self, npartitions: int, *cols: str) -> "Frame":
        if cols:
            return Frame(self._sdf.repartition(npartitions, *cols))
        return Frame(self._sdf.repartition(npartitions))

    def shuffle(self, on: str | Sequence[str], npartitions: int | None = None) -> "Frame":
        keys = [on] if isinstance(on, str) else list(on)
        n = npartitions or self._sdf.sparkSession.sparkContext.defaultParallelism
        return Frame(self._sdf.repartition(n, *keys))

    def set_index(self, col: str, npartitions: int | None = None) -> "Frame":
        """Reference set_index ≙ range partition + sort within partitions
        (divisions become Spark's range boundaries)."""
        n = npartitions or self._sdf.sparkSession.sparkContext.defaultParallelism
        return Frame(
            self._sdf.repartitionByRange(n, col).sortWithinPartitions(col)
        )

    def persist(self) -> "Frame":
        return Frame(self._sdf.cache())

    @property
    def npartitions(self) -> int:
        return self._sdf.rdd.getNumPartitions()

    def partition_stats(self) -> pd.DataFrame:
        """Per-partition row counts — the skew diagnostic behind
        dask's ``map_partitions(len)`` idiom: a healthy distributed
        frame has near-uniform partition sizes; a hot key shows up as
        one giant row here long before it shows up as a straggler task.
        One narrow aggregation job (spark_partition_id + count), no
        data collected beyond |partitions| rows."""
        from pyspark.sql import functions as F

        return (
            self._sdf.groupBy(
                F.spark_partition_id().alias("partition_id")
            )
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .orderBy("partition_id")
            .toPandas()
        )

    # -- materialization --------------------------------------------------------
    def compute(self) -> pd.DataFrame:
        """≙ dask .compute(): gather to the client as pandas (Arrow path)."""
        return self._sdf.toPandas()

    def to_parquet(self, path: str, partition_on: Sequence[str] | None = None, **kw) -> None:
        from .sources.writers import to_parquet as _tp

        _tp(self._sdf, path, partition_on=partition_on, **kw)

    def to_orc(self, path: str, **kw) -> None:
        from .sources.writers import to_orc as _to

        _to(self._sdf, path, **kw)

    def to_csv(self, path: str, **kw) -> None:
        from .sources.writers import to_csv as _tc

        _tc(self._sdf, path, **kw)

    def to_json(self, path: str, **kw) -> None:
        from .sources.writers import to_json as _tj

        _tj(self._sdf, path, **kw)

    def explain(self, mode: str = "formatted") -> None:
        self._sdf.explain(mode)


# ------------------------------------------------------------------ GroupBy
class GroupBy:
    """≙ CudfDataFrameGroupBy (upstream: dask_cudf/groupby.py).

    agg() accepts the reference's dict form {col: fn | [fns]}; every agg
    plans as Spark partial->final HashAggregate (the same
    chunk/combine/aggregate tree the reference hand-builds).

    ``mode`` selects the grouping flavor: 'groupby' (default),
    'rollup' / 'cube' / 'grouping_sets' (one Expand node + the same
    single shuffle — Spark multiplies rows map-side per grouping set,
    it never rescans)."""

    def __init__(
        self,
        sdf: DataFrame,
        keys: list[str],
        mode: str = "groupby",
        sets: list[list[str]] | None = None,
    ):
        self._sdf = sdf
        self._keys = keys
        self._mode = mode
        self._sets = sets

    def _grouped(self):
        if self._mode == "rollup":
            return self._sdf.rollup(*self._keys)
        if self._mode == "cube":
            return self._sdf.cube(*self._keys)
        if self._mode == "grouping_sets":
            return self._sdf.groupingSets(
                [list(s) for s in (self._sets or [])], *self._keys
            )
        return self._sdf.groupBy(*self._keys)

    def agg(
        self,
        spec: Mapping[str, str | Sequence[str]],
        grouping_flags: bool = False,
    ) -> Frame:
        """``grouping_flags=True`` prepends an INT ``g_<key>`` GROUPING()
        indicator per key (1 = this key was rolled up in this row,
        0 = it's a real data value — possibly a NULL data value).
        Only meaningful for rollup/cube/grouping_sets modes."""
        aggs = list(_build_aggs(spec))
        if grouping_flags:
            aggs = [
                F.grouping(k).cast("int").alias(f"g_{k}") for k in self._keys
            ] + aggs
        return Frame(self._grouped().agg(*aggs))

    aggregate = agg

    def _simple(self, fn_name: str, numeric_cols: Sequence[str] | None = None) -> Frame:
        cols = numeric_cols or [
            c
            for c, t in self._sdf.dtypes
            if c not in self._keys
            and t in ("bigint", "int", "double", "float", "smallint", "tinyint")
        ]
        return self.agg({c: fn_name for c in cols})

    def sum(self, cols: Sequence[str] | None = None) -> Frame:
        return self._simple("sum", cols)

    def mean(self, cols: Sequence[str] | None = None) -> Frame:
        return self._simple("mean", cols)

    def min(self, cols: Sequence[str] | None = None) -> Frame:
        return self._simple("min", cols)

    def max(self, cols: Sequence[str] | None = None) -> Frame:
        return self._simple("max", cols)

    def std(self, cols: Sequence[str] | None = None) -> Frame:
        return self._simple("std", cols)

    def var(self, cols: Sequence[str] | None = None) -> Frame:
        return self._simple("var", cols)

    def count(self) -> Frame:
        return Frame(self._grouped().agg(F.count("*").alias("count")))

    size = count

    def nunique(self, col: str) -> Frame:
        return Frame(
            self._grouped().agg(F.countDistinct(col).alias(f"{col}_nunique"))
        )

    def median(self, col: str) -> Frame:
        """Exact per-group median (cudf groupby.median; Spark's
        `percentile` aggregate — partial/final mergeable, one shuffle)."""
        return self.quantile(col, 0.5, name=f"{col}_median")

    def quantile(self, col: str, q: float = 0.5, name: str | None = None) -> Frame:
        """Exact interpolated per-group quantile (cudf groupby.quantile).
        The default output name replaces '.' with '_' (v_q0_75) so the
        column stays addressable without backticks."""
        default = f"{col}_q{q}".replace(".", "_")
        return Frame(
            self._grouped().agg(
                F.expr(f"percentile({col}, {q})").alias(name or default)
            )
        )

    def _require_groupby(self, op: str) -> None:
        """Window/apply-shaped group ops have no rollup/cube semantics —
        Spark's Expand node multiplies rows per grouping set, and an
        applyInPandas or window frame over that multiplied stream is
        not what any caller means.  Silent fallback to a plain groupBy
        (the pre-r13 behavior) returned plausible-but-wrong results;
        raise instead (r12 ADVICE item 2)."""
        if self._mode != "groupby":
            raise NotImplementedError(
                f"GroupBy.{op}() is only defined for plain groupby(); "
                f"this GroupBy was built with mode={self._mode!r} "
                "(rollup/cube/grouping_sets only support agg())"
            )

    def apply(self, fn: Callable[[pd.DataFrame], pd.DataFrame], schema: str) -> Frame:
        """≙ groupby.apply: whole group as pandas -> pandas (applyInPandas)."""
        self._require_groupby("apply")
        return Frame(self._sdf.groupBy(*self._keys).applyInPandas(fn, schema))

    def rolling(self, window: int, order_by: str) -> "RollingGroupBy":
        self._require_groupby("rolling")
        return RollingGroupBy(self._sdf, self._keys, window, order_by)

    def shift(self, col: str, periods: int = 1, order_by: str | None = None) -> Frame:
        self._require_groupby("shift")
        w = Window.partitionBy(*self._keys).orderBy(order_by or self._keys[-1])
        return Frame(
            self._sdf.withColumn(f"{col}_shift", F.lag(col, periods).over(w))
        )

    def cumsum(self, col: str, order_by: str) -> Frame:
        self._require_groupby("cumsum")
        w = (
            Window.partitionBy(*self._keys)
            .orderBy(order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return Frame(self._sdf.withColumn(f"{col}_cumsum", F.sum(col).over(w)))

    def _cum_grp(self, col: str, order_by: str, agg, name: str) -> Frame:
        self._require_groupby("cum-aggregate")
        w = (
            Window.partitionBy(*self._keys)
            .orderBy(order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return Frame(self._sdf.withColumn(name, agg(F.col(col)).over(w)))

    def cummax(self, col: str, order_by: str) -> Frame:
        return self._cum_grp(col, order_by, F.max, f"{col}_cummax")

    def cummin(self, col: str, order_by: str) -> Frame:
        return self._cum_grp(col, order_by, F.min, f"{col}_cummin")

    def cumcount(self, order_by: str, name: str = "cumcount") -> Frame:
        """pandas groupby.cumcount: 0-based running row index within
        each group along the explicit order."""
        self._require_groupby("cumcount")
        w = Window.partitionBy(*self._keys).orderBy(order_by)
        return Frame(
            self._sdf.withColumn(name, F.row_number().over(w) - F.lit(1))
        )

    def first(self, col: str, order_by: str) -> Frame:
        """First value along the explicit order (cudf groupby.first):
        min_by — a mergeable aggregate, one shuffle, no window sort."""
        return Frame(
            self._sdf.groupBy(*self._keys).agg(
                F.min_by(col, order_by).alias(f"{col}_first")
            )
        )

    def last(self, col: str, order_by: str) -> Frame:
        return Frame(
            self._sdf.groupBy(*self._keys).agg(
                F.max_by(col, order_by).alias(f"{col}_last")
            )
        )

    def transform(self, col: str, fn_name: str) -> Frame:
        """pandas groupby.transform('sum'/'mean'/...): the group
        aggregate broadcast back onto every member row — a window
        aggregate over the keys, ONE shuffle, never an agg + self-join."""
        w = Window.partitionBy(*self._keys)
        return Frame(
            self._sdf.withColumn(
                f"{col}_{fn_name}", F.expr(f"{fn_name}({col})").over(w)
            )
        )

    def filter(self, agg_sql: str, pred) -> Frame:
        """pandas groupby.filter: keep whole groups whose aggregate
        satisfies ``pred`` (e.g. ``filter("count(*)", lambda c: c > 2)``).
        The aggregate rides a window over the keys, so the plan is one
        shuffle + filter — never agg + semi-join back."""
        w = Window.partitionBy(*self._keys)
        c = F.expr(agg_sql).over(w)
        return Frame(
            self._sdf.withColumn("__g", c)
            .filter(pred(F.col("__g")))
            .drop("__g")
        )


class RollingGroupBy:
    """≙ df.groupby(k).rolling(n) (reference map_overlap + cudf rolling)."""

    def __init__(self, sdf: DataFrame, keys: list[str], window: int, order_by: str):
        self._sdf = sdf
        self._keys = keys
        self._w = (
            Window.partitionBy(*keys)
            .orderBy(order_by)
            .rowsBetween(-(window - 1), Window.currentRow)
        )

    def _apply(self, col: str, fn, name: str) -> Frame:
        return Frame(self._sdf.withColumn(name, fn(col).over(self._w)))

    def sum(self, col: str) -> Frame:
        return self._apply(col, F.sum, f"{col}_roll_sum")

    def mean(self, col: str) -> Frame:
        return self._apply(col, F.avg, f"{col}_roll_mean")

    def min(self, col: str) -> Frame:
        return self._apply(col, F.min, f"{col}_roll_min")

    def max(self, col: str) -> Frame:
        return self._apply(col, F.max, f"{col}_roll_max")

    def count(self, col: str) -> Frame:
        return self._apply(col, F.count, f"{col}_roll_count")

    def median(self, col: str) -> Frame:
        """Rolling exact median (cudf rolling supports arbitrary aggs;
        Spark's percentile aggregate runs over the same row frame)."""
        return self._apply(
            col, lambda c: F.expr(f"percentile({c}, 0.5)"), f"{col}_roll_median"
        )


def _build_aggs(spec: Mapping[str, str | Sequence[str]]) -> list[Column]:
    out = []
    for col, fns in spec.items():
        for fn in [fns] if isinstance(fns, str) else fns:
            agg = _AGG_MAP[fn]
            out.append(agg(col).alias(f"{col}_{fn}" if not isinstance(fns, str) else col))
    return out


# ----------------------------------------------------------- module-level API
def from_spark(sdf: DataFrame) -> Frame:
    return Frame(sdf)


def from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> Frame:
    """≙ dask_cudf.from_pandas / from_cudf."""
    return Frame(spark.createDataFrame(pdf))


def from_dict(spark: SparkSession, data: Mapping[str, Sequence[Any]]) -> Frame:
    return from_pandas(spark, pd.DataFrame(data))


def concat(frames: Sequence[Frame]) -> Frame:
    """≙ dask_cudf.concat(axis=0): align by name, null-fill missing."""
    out = frames[0]._sdf
    for f in frames[1:]:
        out = out.unionByName(f._sdf, allowMissingColumns=True)
    return Frame(out)


def read_parquet(spark: SparkSession, path: str, **kw) -> Frame:
    from .sources.readers import read_parquet as _rp

    return Frame(_rp(spark, path, **kw))


def read_csv(spark: SparkSession, path: str, **kw) -> Frame:
    from .sources.readers import read_csv as _rc

    return Frame(_rc(spark, path, **kw))


def read_json(spark: SparkSession, path: str, **kw) -> Frame:
    from .sources.readers import read_json as _rj

    return Frame(_rj(spark, path, **kw))


def read_orc(spark: SparkSession, path: str, **kw) -> Frame:
    from .sources.readers import read_orc as _ro

    return Frame(_ro(spark, path, **kw))


def read_text(spark: SparkSession, path: str, **kw) -> Frame:
    from .sources.readers import read_text as _rt

    return Frame(_rt(spark, path, **kw))


def merge_asof(
    left: Frame,
    right: Frame,
    on: str,
    by: str | Sequence[str] | None = None,
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance=None,
    suffix: str = "right",
) -> Frame:
    """pandas.merge_asof parity at module level (≙ pd.merge_asof /
    dask.dataframe.merge_asof, unsupported on the cudf backend): thin
    facade over operators.asof.merge_asof — union + ordered-window
    point-in-time match, ONE shuffle on `by`."""
    from .operators.asof import merge_asof as _op

    return Frame(
        _op(
            left._sdf,
            right._sdf,
            on=on,
            by=by,
            direction=direction,
            allow_exact_matches=allow_exact_matches,
            tolerance=tolerance,
            suffix=suffix,
        )
    )
