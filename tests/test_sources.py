"""Reader/writer round-trips (SURVEY.md §2.1): every reference io
format maps onto Spark readers with identical contents back."""

from __future__ import annotations

import pandas as pd
import pytest

from dask_cudf_spark import sources
from dask_cudf_spark.sources import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def customer(spark):
    return load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


def _sorted_pdf(df):
    return (
        df.toPandas()
        .sort_values("c_custkey")
        .reset_index(drop=True)
        .astype({"c_custkey": "int64", "c_acctbal": "float64"})
    )


def test_parquet_roundtrip(spark, tmp_path, customer):
    out = str(tmp_path / "pq")
    sources.to_parquet(customer, out, partition_on=["c_mktsegment"])
    back = sources.read_parquet(spark, out)
    assert sorted(back.columns) == sorted(customer.columns)
    pd.testing.assert_frame_equal(
        _sorted_pdf(back.select(*customer.columns)), _sorted_pdf(customer)
    )


def test_csv_roundtrip(spark, tmp_path, customer):
    out = str(tmp_path / "csv")
    sources.to_csv(customer, out, sep="|")
    back = sources.read_csv(spark, out, sep="|", header=True)
    pd.testing.assert_frame_equal(
        _sorted_pdf(back.select(*customer.columns)), _sorted_pdf(customer)
    )


def test_json_roundtrip(spark, tmp_path, customer):
    out = str(tmp_path / "json")
    sources.to_json(customer, out)
    back = sources.read_json(spark, out)
    pd.testing.assert_frame_equal(
        _sorted_pdf(back.select(*customer.columns)), _sorted_pdf(customer)
    )


def test_orc_roundtrip(spark, tmp_path, customer):
    out = str(tmp_path / "orc")
    sources.to_orc(customer, out)
    back = sources.read_orc(spark, out)
    pd.testing.assert_frame_equal(
        _sorted_pdf(back.select(*customer.columns)), _sorted_pdf(customer)
    )


def test_read_text(spark, tmp_path, customer):
    out = str(tmp_path / "txt_src")
    customer.select("c_name").write.mode("overwrite").text(out)
    back = sources.read_text(spark, out)
    assert back.columns == ["value"]
    assert back.count() == customer.count()


def test_read_parquet_filters_pushdown(spark):
    # reference read_parquet(filters=[(col,op,val)]) -> pushed predicate
    df = sources.read_parquet(
        spark,
        f"{SF_DIR}/lineitem.parquet",
        columns=["l_orderkey", "l_quantity"],
        filters=[("l_quantity", "<", 10.0)],
    )
    assert df.columns == ["l_orderkey", "l_quantity"]
    from dask_cudf_spark.plans import audit

    a = audit(df)
    assert any("l_quantity" in f for f in a.pushed_filters)


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """to_parquet(bucket_by=...) writes the persistent co-located-join
    layout (SURVEY.md §2.3 'sorted/partitioned merge'): joining two
    tables bucketed on the join key needs NO Exchange — the 100 TB
    repeated-join strategy."""
    from dask_cudf_spark.plans import audit

    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    sources.to_parquet(
        cust,
        str(tmp_path / "cust_b"),
        bucket_by=(8, ["c_custkey"]),
        sort_by=["c_custkey"],
        table_name="cust_bucketed",
    )
    sources.to_parquet(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        str(tmp_path / "ord_b"),
        bucket_by=(8, ["c_custkey"]),
        sort_by=["c_custkey"],
        table_name="ord_bucketed",
    )
    try:
        j = spark.table("ord_bucketed").join(
            spark.table("cust_bucketed").hint("merge"), on="c_custkey"
        )
        a = audit(j)
        assert a.n_shuffles == 0, a.text
        assert j.count() == orders.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS cust_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_partition_pruning_reaches_scan(spark, tmp_path, customer):
    """Hive-partitioned writes + a partition predicate must prune at
    planning time (PartitionFilters in the scan) — the layout that makes
    100 TB interactive when queries filter on the partition key."""
    out = str(tmp_path / "pq_parts")
    sources.to_parquet(customer, out, partition_on=["c_mktsegment"])
    back = sources.read_parquet(spark, out)
    df = back.filter(back.c_mktsegment == "BUILDING")
    from dask_cudf_spark.plans import explain_str

    p = explain_str(df)
    assert "PartitionFilters" in p and "c_mktsegment" in p.split("PartitionFilters")[1][:200]
    n_segments = customer.select("c_mktsegment").distinct().count()
    assert df.count() * n_segments < customer.count() * 2  # actually pruned rows


def test_read_avro_jarless_error_without_fallback(spark, tmp_path):
    """With fallback=False the wrapper must surface Spark's actionable
    missing-datasource error (package coordinates), not crash opaquely.
    (If the jar IS on the classpath, the error is a clean path-not-found
    instead — both named, neither opaque.)"""
    with pytest.raises(Exception, match="avro|AVRO|PATH_NOT_FOUND"):
        sources.read_avro(
            spark, str(tmp_path / "nope.avro"), fallback=False
        ).count()


AVRO_SCHEMA = {
    "type": "record",
    "name": "ev",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "ts",
         "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ],
}

AVRO_ROWS = [
    {"id": 1, "name": "alpha", "score": 1.5, "flag": True,
     "tags": ["a", "b"], "ts": 1_700_000_000_000_000},
    {"id": 2, "name": None, "score": -2.25, "flag": False,
     "tags": [], "ts": 1_700_000_001_000_000},
    {"id": 3, "name": "gamma", "score": 0.0, "flag": True,
     "tags": ["z"], "ts": 1_700_000_002_500_000},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_read_avro_fallback_round_trip(spark, tmp_path, codec):
    """The jar-free Avro path (round 4, sources/avro.py): spec-written
    container files (null + deflate codecs, unions, arrays,
    timestamp-micros) decode through binaryFile + mapInPandas into a
    typed DataFrame — read_avro works end to end without spark-avro."""
    import datetime

    from dask_cudf_spark.sources.avro import write_avro_file

    for i in range(2):  # two files -> two decode tasks
        write_avro_file(
            str(tmp_path / f"part{i}.avro"),
            AVRO_SCHEMA,
            [dict(r, id=r["id"] + 10 * i) for r in AVRO_ROWS],
            codec=codec,
        )
    df = sources.read_avro(spark, str(tmp_path))
    assert df.schema.simpleString() == (
        "struct<id:bigint,name:string,score:double,flag:boolean,"
        "tags:array<string>,ts:timestamp>"
    )
    got = sorted(df.collect(), key=lambda r: r["id"])
    assert [r["id"] for r in got] == [1, 2, 3, 11, 12, 13]
    assert got[0]["name"] == "alpha" and got[1]["name"] is None
    assert got[0]["tags"] == ["a", "b"] and got[1]["tags"] == []
    assert got[2]["score"] == 0.0 and got[1]["score"] == -2.25
    assert got[0]["ts"] == datetime.datetime(2023, 11, 14, 22, 13, 20)


def test_avro_decoder_rejects_garbage(tmp_path):
    from dask_cudf_spark.sources.avro import build_avro_decoder

    with pytest.raises(ValueError, match="magic"):
        build_avro_decoder()(b"not-avro-at-all")


def test_read_binary_files(spark, tmp_path):
    """binaryFile source: one row per file with metadata + content;
    max_bytes prunes on the listing-derived length column."""
    from dask_cudf_spark.sources import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02payload-a")
    (tmp_path / "b.bin").write_bytes(b"b" * 64)
    (tmp_path / "skip.txt").write_bytes(b"x")

    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"]["content"]) == b"\x00\x01\x02payload-a"
    assert rows["b.bin"]["length"] == 64

    small = read_binary_files(spark, str(tmp_path), glob="*.bin", max_bytes=32)
    assert [r["path"].rsplit("/", 1)[-1] for r in small.collect()] == ["a.bin"]

    # the length filter must prune via the source's metadata column,
    # not after materializing content
    from dask_cudf_spark.plans import explain_str

    plan = explain_str(small)
    assert "binaryFile" in plan or "BinaryFile" in plan


def test_upsert_partitions_touches_only_present_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.writers import to_parquet, upsert_partitions

    base = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0), ("c", 4, 40.0)],
        ["part", "id", "v"],
    )
    path = str(tmp_path / "upsert")
    to_parquet(base, path, partition_on=["part"])

    # rewrite ONLY partition 'b' with corrected values (and fewer rows)
    fix = spark.createDataFrame([("b", 3, 99.0)], ["part", "id", "v"])
    upsert_partitions(fix, path, partition_on=["part"])

    got = sorted(
        (r["part"], r["id"], r["v"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 99.0), ("c", 4, 40.0)]

    # rerun is idempotent
    upsert_partitions(fix, path, partition_on=["part"])
    assert spark.read.parquet(path).count() == 4


def test_avro_nested_logical_time_rejected(spark, tmp_path):
    """Round-4 review: nested timestamp-millis would be silently 1000x
    off (raw millis interpreted as micros by Arrow) — the fallback must
    refuse loudly instead."""
    from dask_cudf_spark.sources.avro import write_avro_file

    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "inner", "type": {
                "type": "record", "name": "inner_r",
                "fields": [{"name": "ts", "type": {
                    "type": "long", "logicalType": "timestamp-millis"}}],
            }},
        ],
    }
    write_avro_file(
        str(tmp_path / "n.avro"), schema,
        [{"id": 1, "inner": {"ts": 1_700_000_000_000}}],
    )
    with pytest.raises(Exception, match="nested Avro logical time"):
        sources.read_avro(spark, str(tmp_path / "n.avro")).collect()


def test_zordered_write_tightens_file_envelopes(spark, tmp_path):
    """to_parquet_zordered: every output file must cover a narrow
    rectangle in BOTH clustered dimensions — the property parquet
    footer-stat pruning depends on.  Compared against a single-key
    sort, which leaves the secondary dimension's per-file range at
    full width."""
    import glob

    from pyspark.sql import functions as F

    from dask_cudf_spark.sources import load_table, to_parquet_zordered

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    path = str(tmp_path / "zord")
    to_parquet_zordered(li, path, "l_partkey", "l_suppkey", n_files=8)

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) > 1
    g = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    span_p, span_s = g[1] - g[0], g[3] - g[2]
    tight_p = tight_s = 0
    for f in files:
        pf = spark.read.parquet(f).agg(
            F.min("l_partkey"), F.max("l_partkey"),
            F.min("l_suppkey"), F.max("l_suppkey"),
        ).collect()[0]
        if (pf[1] - pf[0]) * 2 <= span_p:
            tight_p += 1
        if (pf[3] - pf[2]) * 2 <= span_s:
            tight_s += 1
    # z-ordering must tighten BOTH dimensions for most files — a
    # single-key sort would leave tight_s (or tight_p) at ~0
    assert tight_p >= len(files) // 2
    assert tight_s >= len(files) // 2
    # nothing lost in the rewrite
    assert spark.read.parquet(path).count() == li.count()


def test_txlog_append_overwrite_time_travel(spark, tmp_path):
    """Mini transaction-log table: append/overwrite commits, snapshot
    reads, time travel, and DESCRIBE-HISTORY — the lakehouse write
    pattern on plain parquet + an exclusive-create JSON log."""
    import pytest

    from dask_cudf_spark.sources.txlog import (
        commit,
        read_snapshot,
        table_history,
    )

    path = str(tmp_path / "txtable")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 15).withColumnRenamed("id", "k")
    df3 = spark.range(100, 103).withColumnRenamed("id", "k")

    assert commit(df1, path, "append") == 0
    assert commit(df2, path, "append") == 1
    # latest sees both appends
    assert read_snapshot(spark, path).count() == 15
    # time travel to v0
    assert read_snapshot(spark, path, version=0).count() == 10
    # overwrite resets the live set
    assert commit(df3, path, "overwrite") == 2
    assert read_snapshot(spark, path).count() == 3
    assert sorted(
        r["k"] for r in read_snapshot(spark, path).collect()
    ) == [100, 101, 102]
    # history preserved: v1 still readable after the overwrite
    assert read_snapshot(spark, path, version=1).count() == 15
    hist = table_history(spark, path)
    assert [(h["version"], h["op"]) for h in hist] == [
        (0, "append"), (1, "append"), (2, "overwrite")
    ]
    with pytest.raises(ValueError):
        read_snapshot(spark, path, version=9)


def test_txlog_commit_race_loser_retries(spark, tmp_path):
    """Exclusive-create atomicity: a version file planted by a 'racing
    writer' forces the committer onto the next version; both commits
    survive, no data is lost."""
    import json
    import os

    from dask_cudf_spark.sources.txlog import commit, read_snapshot

    path = str(tmp_path / "txrace")
    commit(spark.range(0, 5).withColumnRenamed("id", "k"), path, "append")
    # plant version 1 by hand (the 'other writer' — local path, plain os)
    os.makedirs(f"{path}/_txlog", exist_ok=True)
    with open(f"{path}/_txlog/{1:012d}.json", "x") as f:
        json.dump({"version": 1, "op": "append", "dirs": []}, f)
    v = commit(spark.range(5, 8).withColumnRenamed("id", "k"), path, "append")
    assert v == 2  # lost the race on 1, won 2
    assert read_snapshot(spark, path).count() == 8


def test_txlog_merge_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write MERGE: matched keys update, unmatched insert,
    files without matches carry over BY REFERENCE (no rewrite), and
    time travel still reads the pre-merge snapshot."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.txlog import (
        commit,
        merge_by_key,
        read_snapshot,
        _read_log,
    )

    path = str(tmp_path / "txmerge")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    d2 = spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string")
    commit(d1.coalesce(1), path, "append")   # dir A: keys 1,2
    commit(d2.coalesce(1), path, "append")   # dir B: keys 3,4

    upd = spark.createDataFrame(
        [(2, "B2"), (9, "new")], "k long, v string"
    )
    v = merge_by_key(upd.coalesce(1), path, "k")
    assert v == 2
    got = {
        (r["k"], r["v"]) for r in read_snapshot(spark, path).collect()
    }
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d"), (9, "new")}
    # pre-merge snapshot intact
    pre = {
        (r["k"], r["v"])
        for r in read_snapshot(spark, path, version=1).collect()
    }
    assert pre == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    # dir B (keys 3,4 — unmatched) carried over by reference
    log = _read_log(spark, path)
    dirs_v1 = set(log[1]["dirs"])
    dirs_v2 = set(log[2]["dirs"])
    assert dirs_v1 & dirs_v2, "untouched dir must survive by reference"
    # the touched dir (keys 1,2) must NOT appear in the merged set
    dir_a = set(log[0]["dirs"])
    assert not (dir_a & dirs_v2)


def test_txlog_staged_commit_and_merge(spark, tmp_path):
    """r16 lifecycle-overlap internals (guide §2.6): data dirs staged
    ahead by ``stage_commit_data`` — possibly from another driver
    thread — are invisible until a commit/merge references them, and
    ``commit(staged_dir=...)`` / ``merge_by_key(staged_dir=...)``
    produce exactly the table the inline-write path produced."""
    from concurrent.futures import ThreadPoolExecutor

    from dask_cudf_spark.sources.txlog import (
        _read_log,
        commit,
        merge_by_key,
        read_snapshot,
        stage_commit_data,
    )

    path = str(tmp_path / "txstaged")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    upd = spark.createDataFrame(
        [(2, "B2"), (9, "new")], "k long, v string"
    )
    # stage both dirs concurrently (the query-level overlap pattern)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(stage_commit_data, d1.coalesce(1), path)
        f2 = pool.submit(stage_commit_data, upd.coalesce(1), path)
        base_dir, upd_dir = f1.result(), f2.result()
    # nothing is committed yet: staged dirs are invisible (no log)
    assert _read_log(spark, path) == []
    assert commit(d1, path, "append", staged_dir=base_dir) == 0
    # v0 sees ONLY the committed dir, not the still-staged updates
    assert {
        (r["k"], r["v"]) for r in read_snapshot(spark, path).collect()
    } == {(1, "a"), (2, "b")}
    v = merge_by_key(upd, path, "k", staged_dir=upd_dir)
    assert v == 1
    assert {
        (r["k"], r["v"]) for r in read_snapshot(spark, path).collect()
    } == {(1, "a"), (2, "B2"), (9, "new")}
    # the staged dirs are the ones the log references (no re-write)
    log = _read_log(spark, path)
    assert log[0]["dirs"] == [base_dir]
    assert upd_dir in log[1]["dirs"]
    # time travel to the pre-merge snapshot still works
    assert read_snapshot(spark, path, version=0).count() == 2


def test_txlog_staged_dir_must_exist(spark, tmp_path):
    """commit/merge_by_key refuse a staged_dir that is not under the
    table path, before any log record could reference it."""
    from dask_cudf_spark.sources.txlog import (
        _read_log,
        commit,
        merge_by_key,
    )

    path = str(tmp_path / "txmissing")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    commit(df, path, "append")
    with pytest.raises(FileNotFoundError, match="staged dir"):
        commit(df, path, "append", staged_dir="data/missing")
    with pytest.raises(FileNotFoundError, match="staged dir"):
        merge_by_key(df, path, "k", staged_dir="data/missing")
    assert [e["version"] for e in _read_log(spark, path)] == [0]


def test_txlog_vacuum_reclaims_deduped_staged_dir(spark, tmp_path):
    """A batch_id replay that dedups to the earlier commit leaves its
    staged dir unreferenced; vacuum reclaims it like an aborted
    commit's dir and the table is unchanged."""
    import os

    from dask_cudf_spark.sources.txlog import (
        _read_log,
        commit,
        read_snapshot,
        stage_commit_data,
        vacuum,
    )

    path = str(tmp_path / "txreplay")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert commit(df, path, "append", batch_id=7) == 0
    staged = stage_commit_data(df, path)
    assert commit(df, path, "append", staged_dir=staged, batch_id=7) == 0
    assert all(staged not in e["dirs"] for e in _read_log(spark, path))
    assert vacuum(spark, path, min_age_seconds=0) == 1
    assert not os.path.exists(f"{path}/{staged}")
    assert sorted(
        (r["k"], r["v"]) for r in read_snapshot(spark, path).collect()
    ) == [(1, "a"), (2, "b")]


def test_txlog_optimize_and_vacuum(spark, tmp_path):
    """OPTIMIZE collapses the live set into one dir with identical
    contents; VACUUM removes dirs unreachable from the kept horizon
    and breaks time travel past it — the Delta contract."""
    import pytest

    from dask_cudf_spark.sources.txlog import (
        commit,
        optimize,
        read_snapshot,
        vacuum,
        _read_log,
    )

    path = str(tmp_path / "txopt")
    for lo in (0, 10, 20):
        commit(
            spark.range(lo, lo + 10).withColumnRenamed("id", "k"),
            path,
            "append",
        )
    before = sorted(r["k"] for r in read_snapshot(spark, path).collect())
    v = optimize(spark, path, target_partitions=1)
    assert v == 3
    log = _read_log(spark, path)
    assert len(log[-1]["dirs"]) == 1
    after = sorted(r["k"] for r in read_snapshot(spark, path).collect())
    assert after == before == list(range(30))
    # retention grace (ADVICE r5): fresh unreachable dirs are kept —
    # they may belong to an in-flight commit whose version file hasn't
    # landed yet; default grace deletes nothing this young
    assert vacuum(spark, path, keep_versions=1) == 0
    # single-writer maintenance window: grace 0 reclaims all 3
    assert vacuum(spark, path, keep_versions=1, min_age_seconds=0) == 3
    assert sorted(
        r["k"] for r in read_snapshot(spark, path).collect()
    ) == list(range(30))
    with pytest.raises(Exception):
        read_snapshot(spark, path, version=0).collect()


def test_txlog_two_process_commit_race(spark, tmp_path):
    """True inter-process ACID: two SEPARATE JVMs (subprocess workers,
    not threads in this session) each append 4 commits concurrently to
    one table.  The create-exclusive version-file primitive must
    serialize them: 8 distinct versions, zero lost commits, and the
    table contents are exactly the union of both writers' rows."""
    import json
    import os
    import subprocess
    import sys

    from dask_cudf_spark.sources.txlog import read_snapshot, table_history

    path = str(tmp_path / "txrace2p")
    worker = os.path.join(os.path.dirname(__file__), "txlog_race_worker.py")
    procs = [
        subprocess.Popen(
            [sys.executable, worker, path, str(w), "4"],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        for w in (1, 2)
    ]
    outs = [p.communicate(timeout=300)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    won: list[int] = []
    for out in outs:
        rec = json.loads(out.strip().splitlines()[-1])
        assert len(rec["versions"]) == 4
        won.extend(rec["versions"])
    assert sorted(won) == list(range(8)), won  # every version won once
    hist = table_history(spark, path)
    assert [h["version"] for h in hist] == list(range(8))
    rows = read_snapshot(spark, path).collect()
    got = sorted((r["writer"], r["seq"]) for r in rows)
    assert got == [(w, i) for w in (1, 2) for i in range(4)]


def test_txlog_crashed_writer_orphan_dir(spark, tmp_path):
    """Crash consistency: a writer that dies AFTER writing its data dir
    but BEFORE creating its version file leaves an orphan.  Readers
    must never see it (the log is the source of truth), a later commit
    must be unaffected, and vacuum must treat it exactly like any
    unreachable dir: kept inside the retention grace (it is
    indistinguishable from an in-flight commit), reclaimed after."""
    from dask_cudf_spark.sources.txlog import commit, read_snapshot, vacuum

    path = str(tmp_path / "txcrash")
    commit(spark.range(0, 5).withColumnRenamed("id", "k"), path, "append")
    # simulate the dying writer: data files land, version file never does
    spark.range(100, 200).withColumnRenamed("id", "k").write.parquet(
        f"{path}/data/deadbeefcafe"
    )
    got = sorted(r["k"] for r in read_snapshot(spark, path).collect())
    assert got == list(range(5)), "orphan dir must be invisible to readers"
    # a subsequent commit proceeds normally alongside the orphan
    commit(spark.range(5, 10).withColumnRenamed("id", "k"), path, "append")
    got = sorted(r["k"] for r in read_snapshot(spark, path).collect())
    assert got == list(range(10))
    # grace keeps the fresh orphan (could be someone's in-flight commit)
    assert vacuum(spark, path, keep_versions=2) == 0
    # maintenance window (grace 0): the orphan is reclaimed, live data safe
    assert vacuum(spark, path, keep_versions=2, min_age_seconds=0) == 1
    got = sorted(r["k"] for r in read_snapshot(spark, path).collect())
    assert got == list(range(10))


def test_txlog_stats_pruning_skips_files(spark, tmp_path):
    """Iceberg-style data skipping: commits record per-dir min/max for
    stats_cols; a pruned snapshot read lists ONLY dirs whose range can
    match — disjoint-range dirs are never opened."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.txlog import (
        commit,
        read_snapshot,
        snapshot_dirs,
    )

    path = str(tmp_path / "txstats")
    for lo in (0, 100, 200):
        commit(
            spark.range(lo, lo + 50).withColumnRenamed("id", "k"),
            path,
            "append",
            stats_cols=["k"],
        )
    # full read sees all 150
    assert read_snapshot(spark, path).count() == 150
    # pruned to [120, 130]: only the middle dir survives the listing
    dirs = snapshot_dirs(spark, path, prune=("k", 120, 130))
    assert len(dirs) == 1
    got = (
        read_snapshot(spark, path, prune=("k", 120, 130))
        .filter(F.col("k").between(120, 130))
        .count()
    )
    assert got == 11
    # a commit WITHOUT stats is conservatively kept
    commit(
        spark.range(500, 510).withColumnRenamed("id", "k"), path, "append"
    )
    assert len(snapshot_dirs(spark, path, prune=("k", 120, 130))) == 2


def test_txlog_pruned_to_empty_returns_empty_frame(spark, tmp_path):
    """ADVICE r5: when stats pruning eliminates EVERY dir the read must
    yield an empty DataFrame with the table schema — not None — so
    callers can chain .filter()/.count() uniformly."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.txlog import commit, read_snapshot

    path = str(tmp_path / "txempty")
    commit(
        spark.range(0, 50).withColumnRenamed("id", "k"),
        path,
        "append",
        stats_cols=["k"],
    )
    df = read_snapshot(spark, path, prune=("k", 1000, 2000))
    assert df is not None
    assert df.columns == ["k"]
    assert df.filter(F.col("k") > 0).count() == 0


@pytest.mark.parametrize("op", ["merge_by_key", "optimize"])
def test_txlog_concurrent_commit_aborts_merge(
    spark, tmp_path, monkeypatch, op
):
    """ADVICE r5 lost-update guard: a commit landing between a merge's
    or compaction's log snapshot and its overwrite must ABORT it
    (Delta's ConcurrentAppendException contract), never silently drop
    the concurrent commit's data."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources import txlog
    from dask_cudf_spark.sources.txlog import (
        CommitConflict,
        ConcurrentModification,
        commit,
        merge_by_key,
        optimize,
        read_snapshot,
    )

    # ADVICE r6: the stale-snapshot abort is a DISTINCT type from the
    # retryable commit race, but still catchable as CommitConflict
    assert issubclass(ConcurrentModification, CommitConflict)

    path = str(tmp_path / "txrace")
    base = spark.range(0, 10).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k")
    )
    commit(base, path, "append")
    upd = spark.createDataFrame([(3, 100), (50, 500)], "k long, v long")

    real = txlog._read_log
    state = {"calls": 0, "nested": False}

    def racing(spark_, p):
        if state["nested"]:
            return real(spark_, p)
        log = real(spark_, p)
        state["calls"] += 1
        if state["calls"] == 1:
            # concurrent writer lands an append AFTER the operation
            # takes its snapshot but BEFORE its record write re-reads
            state["nested"] = True
            try:
                commit(
                    spark.range(90, 95)
                    .withColumnRenamed("id", "k")
                    .withColumn("v", F.col("k")),
                    path,
                    "append",
                )
            finally:
                state["nested"] = False
        return log

    monkeypatch.setattr(txlog, "_read_log", racing)
    with pytest.raises(ConcurrentModification, match="concurrent commit"):
        if op == "merge_by_key":
            merge_by_key(upd, path, "k")
        else:
            optimize(spark, path)
    monkeypatch.setattr(txlog, "_read_log", real)
    # the concurrent append's rows are intact: nothing was lost
    assert read_snapshot(spark, path).count() == 15


def test_txlog_schema_evolution(spark, tmp_path):
    """Additive schema evolution: a later commit may carry extra
    columns; snapshot reads merge schemas (old rows get nulls), and
    time travel to the pre-evolution version sees the old schema
    only.  The evolved column survives optimize and a merge whose
    touched dirs span both schemas: the rewritten dirs keep it and
    carried rows keep their values."""
    from dask_cudf_spark.sources.txlog import (
        commit,
        merge_by_key,
        optimize,
        read_snapshot,
    )

    def rows(df):
        return {r["k"]: (r["v"], r["score"]) for r in df.collect()}

    path = str(tmp_path / "txevo")
    # old-schema dirs are named to sort before the evolved ones, so a
    # rewrite that infers the schema from the first footer drops score
    v0 = spark.createDataFrame([(1, "a")], "k long, v string")
    v0.write.parquet(f"{path}/data/0-base")
    commit(v0, path, "append", staged_dir="data/0-base")
    v1 = spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    )
    commit(v1, path, "append")
    cur = read_snapshot(spark, path)
    assert set(cur.columns) == {"k", "v", "score"}
    assert rows(cur) == {1: ("a", None), 2: ("b", 9.5)}
    old = read_snapshot(spark, path, version=0)
    assert set(old.columns) == {"k", "v"}

    optimize(spark, path)
    cur = read_snapshot(spark, path)
    assert set(cur.columns) == {"k", "v", "score"}
    assert rows(cur) == {1: ("a", None), 2: ("b", 9.5)}

    old_rows = spark.createDataFrame([(3, "c"), (6, "f")], "k long, v string")
    old_rows.write.parquet(f"{path}/data/0-old")
    commit(old_rows, path, "append", staged_dir="data/0-old")
    commit(
        spark.createDataFrame(
            [(4, "d", 1.0), (5, "e", 2.0)], "k long, v string, score double"
        ),
        path,
        "append",
    )
    # keys 3 and 5 touch one dir of each schema; 6 and 4 are carried
    upd = spark.createDataFrame(
        [(3, "C", 3.0), (5, "E", 5.0)], "k long, v string, score double"
    )
    merge_by_key(upd, path, "k")
    cur = read_snapshot(spark, path)
    assert set(cur.columns) == {"k", "v", "score"}
    assert rows(cur) == {
        1: ("a", None),
        2: ("b", 9.5),
        3: ("C", 3.0),
        4: ("d", 1.0),
        5: ("E", 5.0),
        6: ("f", None),
    }


def test_matview_incremental_refresh_matches_full_recompute(spark, tmp_path):
    """Incremental MV maintenance (round 7): after every refresh, the
    stored view equals a from-scratch groupBy over the source
    snapshot — across several appends, including negative values and
    new groups appearing mid-stream."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.matview import (
        matview_is_fresh,
        read_matview,
        refresh_matview,
    )
    from dask_cudf_spark.sources.txlog import commit, read_snapshot

    src = str(tmp_path / "mv_src")
    dst = str(tmp_path / "mv_dst")
    aggs = {
        "n": ("count", None),
        "total": ("sum", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }

    def batch(lo, hi, kmod):
        return (
            spark.range(lo, hi)
            .select(
                (F.col("id") % kmod).alias("k"),
                (F.col("id") * 7 - 40).alias("v"),
            )
        )

    commit(batch(0, 50, 3), src, "append")
    r = refresh_matview(spark, src, dst, ["k"], aggs)
    assert r["mode"] == "full"  # first build
    modes = []
    for lo, hi, kmod in ((50, 120, 3), (120, 200, 5), (200, 201, 7)):
        commit(batch(lo, hi, kmod), src, "append")
        modes.append(refresh_matview(spark, src, dst, ["k"], aggs)["mode"])
        got = read_matview(spark, dst).orderBy("k").collect()
        exp = (
            read_snapshot(spark, src)
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").alias("total"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
            .orderBy("k")
            .collect()
        )
        assert [r.asDict() for r in got] == [r.asDict() for r in exp]
        assert matview_is_fresh(spark, src, dst)
    assert modes == ["incremental"] * 3  # deltas only, no full rescans
    # source untouched -> refresh is a no-op
    assert refresh_matview(spark, src, dst, ["k"], aggs)["mode"] == "noop"


def test_matview_overwrite_falls_back_to_full(spark, tmp_path):
    """A source overwrite/compaction invalidates 'new dirs == new
    rows'; refresh must detect it and recompute fully (and say so)."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.matview import (
        read_matview,
        refresh_matview,
    )
    from dask_cudf_spark.sources.txlog import commit

    src = str(tmp_path / "ow_src")
    dst = str(tmp_path / "ow_dst")
    aggs = {"n": ("count", None), "total": ("sum", "v")}
    df = spark.range(0, 30).select(
        (F.col("id") % 2).alias("k"), F.col("id").alias("v")
    )
    commit(df, src, "append")
    refresh_matview(spark, src, dst, ["k"], aggs)
    # overwrite shrinks the table to 5 rows
    small = spark.range(0, 5).select(
        F.lit(9).alias("k"), F.col("id").alias("v")
    )
    commit(small, src, "overwrite")
    r = refresh_matview(spark, src, dst, ["k"], aggs)
    assert r["mode"] == "full"
    rows = {r["k"]: r["total"] for r in read_matview(spark, dst).collect()}
    assert rows == {9: 10}  # only the overwrite's rows survive


def test_matview_rejects_non_decomposable_aggs(spark, tmp_path):
    import pytest as _pytest

    from dask_cudf_spark.sources.matview import refresh_matview

    with _pytest.raises(ValueError, match="decomposable"):
        refresh_matview(
            spark,
            str(tmp_path / "x"),
            str(tmp_path / "y"),
            ["k"],
            {"m": ("mean", "v")},
        )


def test_matview_vacuum_reclaims_old_refreshes(spark, tmp_path):
    """Every refresh overwrites the view, leaving the prior view dir
    reachable only via time travel; txlog.vacuum (the view IS a txlog
    table) reclaims them without touching the live state."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.matview import read_matview, refresh_matview
    from dask_cudf_spark.sources.txlog import commit, vacuum

    src = str(tmp_path / "vv_src")
    dst = str(tmp_path / "vv_dst")
    aggs = {"n": ("count", None)}
    for i in range(4):
        commit(
            spark.range(i * 10, (i + 1) * 10).select(
                (F.col("id") % 2).alias("k")
            ),
            src,
            "append",
        )
        refresh_matview(spark, src, dst, ["k"], aggs)
    before = read_matview(spark, dst).orderBy("k").collect()
    removed = vacuum(spark, dst, keep_versions=1, min_age_seconds=0)
    assert removed == 3  # the three superseded view snapshots
    after = read_matview(spark, dst).orderBy("k").collect()
    assert [r.asDict() for r in after] == [r.asDict() for r in before]


def test_txlog_change_feed_classifies_and_suppresses_copies(spark, tmp_path):
    """CDC by snapshot diff (txlog.change_feed): inserts, deletes, and
    update pre/post image pairs classified exactly; rows the merge's
    copy-on-write carried verbatim are suppressed; a pure OPTIMIZE
    compaction between versions yields an EMPTY feed."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.txlog import (
        change_feed,
        commit,
        merge_by_key,
        optimize,
    )

    path = str(tmp_path / "cdc")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    assert commit(base, path, "append") == 0
    # upsert: keys 100..104 insert, keys 0..4 update (v -> v+1)
    upd = spark.range(0, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10 + 1).alias("v")
    )
    ins = spark.range(100, 105).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    v1 = merge_by_key(upd.union(ins), path, "k")

    feed = change_feed(spark, path, "k", 0, v1).toPandas()
    by_type = feed.groupby("change_type").size().to_dict()
    # 95 base rows were carried verbatim into the keep-dir: suppressed
    assert by_type == {
        "insert": 5, "update_preimage": 5, "update_postimage": 5
    }
    pre = feed[feed.change_type == "update_preimage"].sort_values("k")
    post = feed[feed.change_type == "update_postimage"].sort_values("k")
    assert list(pre.v) == [0, 10, 20, 30, 40]
    assert list(post.v) == [1, 11, 21, 31, 41]
    assert sorted(feed[feed.change_type == "insert"].k) == list(
        range(100, 105)
    )

    # pure compaction: every row copied verbatim -> empty feed
    v2 = optimize(spark, path)
    assert change_feed(spark, path, "k", v1, v2).count() == 0

    # overwrite that drops rows -> deletes (and re-inserts the rest)
    kept = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    v3 = commit(kept, path, "overwrite")
    f2 = change_feed(spark, path, "k", v2, v3)
    dels = f2.filter("change_type = 'delete'")
    assert dels.count() == 55  # keys 50..104 gone
    assert dels.agg(F.min("k"), F.max("k")).first() == (50, 104)


def test_txlog_change_feed_spans_schema_evolution(spark, tmp_path):
    """A feed spanning an additive-schema commit null-extends the old
    side's missing column instead of failing."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.txlog import change_feed, commit

    path = str(tmp_path / "cdcschema")
    commit(
        spark.range(0, 3).select(F.col("id").alias("k")), path, "append"
    )
    wide = spark.range(1, 4).select(
        F.col("id").alias("k"), F.lit("x").alias("tag")
    )
    v1 = commit(wide, path, "overwrite")
    feed = change_feed(spark, path, "k", 0, v1).toPandas()
    # k=0 deleted (tag null-extended); k=3 inserted; k=1,2 update pairs
    # because the post side genuinely differs (tag 'x' vs null)
    by_type = feed.groupby("change_type").size().to_dict()
    assert by_type == {
        "delete": 1, "insert": 1,
        "update_preimage": 2, "update_postimage": 2,
    }
    assert feed[feed.change_type == "delete"].k.tolist() == [0]
    assert feed[feed.change_type == "delete"].tag.isna().all()
    assert feed[feed.change_type == "insert"].k.tolist() == [3]


def test_matview_cdc_maintains_through_merge_and_group_drop(spark, tmp_path):
    """CDC matview mode: a MERGE (overwrite commit) no longer forces a
    full recompute when the aggs are subtractable and a row key is
    given — the refresh applies signed change-feed deltas, and a group
    whose maintained row count hits zero drops out of the view."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.matview import (
        read_matview,
        refresh_matview,
    )
    from dask_cudf_spark.sources.txlog import commit, merge_by_key

    src = str(tmp_path / "src")
    dst = str(tmp_path / "view")
    aggs = {"n": ("count", None), "total": ("sum", "v")}

    def rows(lo, hi, bump=0):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("g"),
            (F.col("id") + bump).alias("v"),
        )

    commit(rows(0, 100), src, "append")
    m0 = refresh_matview(spark, src, dst, ["g"], aggs, key="k")
    commit(rows(100, 150), src, "append")
    m1 = refresh_matview(spark, src, dst, ["g"], aggs, key="k")
    # MERGE: bump v by 1000 for keys 0..9, insert keys 150..159
    upd = rows(0, 10, bump=1000).union(rows(150, 160))
    merge_by_key(upd, src, "k")
    m2 = refresh_matview(spark, src, dst, ["g"], aggs, key="k")
    assert [m["mode"] for m in (m0, m1, m2)] == [
        "full", "incremental", "cdc"
    ]
    got = {
        r["g"]: (r["n"], r["total"])
        for r in read_matview(spark, dst).collect()
    }
    # ground truth from scratch
    truth = {
        g: (
            sum(1 for k in range(160) if k % 4 == g),
            sum(
                k + (1000 if k < 10 else 0)
                for k in range(160)
                if k % 4 == g
            ),
        )
        for g in range(4)
    }
    assert got == truth

    # overwrite that removes EVERY g==0 row: CDC refresh drops the group
    survivors = rows(0, 160).filter("g <> 0").withColumn(
        "v", F.col("v") + F.when(F.col("k") < 10, 1000).otherwise(0)
    )
    commit(survivors, src, "overwrite")
    m3 = refresh_matview(spark, src, dst, ["g"], aggs, key="k")
    assert m3["mode"] == "cdc"
    view = read_matview(spark, dst)
    assert sorted(r["g"] for r in view.collect()) == [1, 2, 3]
    assert "__nrows" not in view.columns

    # min/max are not subtractable: a further merge falls back to full
    aggs_mm = {"n": ("count", None), "hi": ("max", "v")}
    dst2 = str(tmp_path / "view2")
    refresh_matview(spark, src, dst2, ["g"], aggs_mm, key="k")
    merge_by_key(rows(200, 205), src, "k")
    m4 = refresh_matview(spark, src, dst2, ["g"], aggs_mm, key="k")
    assert m4["mode"] == "full"


def test_matview_cdc_declines_float_sum_measures(spark, tmp_path):
    """Round-9 ADVICE fix: a sum over a DOUBLE measure maintained via
    signed change-feed deltas accumulates IEEE rounding drift against a
    recompute (x + y - y != x in floats) — invisible at test scale,
    divergent after enough churn at 100 TB.  The cdc eligibility gate
    therefore also checks the measure DTYPE: float/double sums fall
    back to a full recompute on overwrite commits; integral and
    decimal sums (exact under +/-) keep cdc mode."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.sources.matview import (
        read_matview,
        refresh_matview,
    )
    from dask_cudf_spark.sources.txlog import commit, merge_by_key

    src = str(tmp_path / "src")

    def rows(lo, hi, bump=0.0):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("g"),
            # non-dyadic float values: 0.1 steps maximize visible drift
            ((F.col("id") + F.lit(bump)) * 0.1).alias("v_dbl"),
            (F.col("id") + F.lit(int(bump))).cast("decimal(18,2)").alias(
                "v_dec"
            ),
            (F.col("id") + F.lit(int(bump))).alias("v_int"),
        )

    commit(rows(0, 100), src, "append")
    dst_dbl = str(tmp_path / "view_dbl")
    dst_dec = str(tmp_path / "view_dec")
    dst_int = str(tmp_path / "view_int")
    aggs_dbl = {"n": ("count", None), "total": ("sum", "v_dbl")}
    aggs_dec = {"n": ("count", None), "total": ("sum", "v_dec")}
    aggs_int = {"n": ("count", None), "total": ("sum", "v_int")}
    for dst, aggs in (
        (dst_dbl, aggs_dbl),
        (dst_dec, aggs_dec),
        (dst_int, aggs_int),
    ):
        assert refresh_matview(spark, src, dst, ["g"], aggs, key="k")[
            "mode"
        ] == "full"

    # MERGE => overwrite commit => the incremental shortcut is gone
    merge_by_key(rows(0, 10, bump=1000), src, "k")
    m_dbl = refresh_matview(spark, src, dst_dbl, ["g"], aggs_dbl, key="k")
    m_dec = refresh_matview(spark, src, dst_dec, ["g"], aggs_dec, key="k")
    m_int = refresh_matview(spark, src, dst_int, ["g"], aggs_int, key="k")
    assert m_dbl["mode"] == "full"  # double sum: cdc declined
    assert m_dec["mode"] == "cdc"  # decimal sum: exact, cdc kept
    assert m_int["mode"] == "cdc"  # bigint sum: exact, cdc kept

    # the full-recompute path still lands the right values
    truth = {
        g: sum(
            (k + (1000 if k < 10 else 0)) * 0.1
            for k in range(100)
            if k % 4 == g
        )
        for g in range(4)
    }
    got = {
        r["g"]: r["total"] for r in read_matview(spark, dst_dbl).collect()
    }
    assert got.keys() == truth.keys()
    for g in truth:
        assert abs(got[g] - truth[g]) < 1e-9


def test_txlog_orphaned_version_file_does_not_wedge_table(spark, tmp_path):
    """Crash consistency, the OTHER half (r11 soak deadlock): a writer
    killed between the exclusive CREATE and the record WRITE leaves an
    empty (or torn) version FILE.  The parsed log cannot see it, so a
    version allocator that only consults the parsed log recomputes the
    orphan's number forever and loses every retry to the orphan's file
    — the table is wedged.  Allocation now takes
    max(parsed, on-disk filename) + 1: the orphan reads as a permanent
    GAP, readers skip it, writers skip past it, batch-id idempotence
    still holds for the replayed batch."""
    from dask_cudf_spark.sources.txlog import (
        commit,
        read_snapshot,
        table_history,
    )

    path = str(tmp_path / "txwedge")
    commit(spark.range(0, 5).withColumnRenamed("id", "k"), path, "append",
           batch_id=0)
    commit(spark.range(5, 8).withColumnRenamed("id", "k"), path, "append",
           batch_id=1)
    # simulate the killed writer: version file 2 exists, zero bytes
    open(f"{path}/_txlog/{2:012d}.json", "wb").close()
    # and a TORN record at 3: create succeeded, write cut mid-JSON
    with open(f"{path}/_txlog/{3:012d}.json", "w") as f:
        f.write('{"version": 3, "op": "appe')

    # readers: both slots are invisible gaps
    got = sorted(r["k"] for r in read_snapshot(spark, path).collect())
    assert got == list(range(8))
    assert [e["version"] for e in table_history(spark, path)] == [0, 1]

    # writers: the next commit (a streaming REPLAY of the torn batch)
    # skips past both orphans instead of wedging
    v = commit(
        spark.range(8, 10).withColumnRenamed("id", "k"), path, "append",
        batch_id=2,
    )
    assert v == 4, f"expected allocation past the orphans, got {v}"
    got = sorted(r["k"] for r in read_snapshot(spark, path).collect())
    assert got == list(range(10))
    # the replayed batch id committed exactly once
    assert commit(
        spark.range(8, 10).withColumnRenamed("id", "k"), path, "append",
        batch_id=2,
    ) == 4
    assert [e["version"] for e in table_history(spark, path)] == [0, 1, 4]


def test_txlog_checkpoint_compaction(spark, tmp_path, monkeypatch):
    """Log checkpoints (r14): every CHECKPOINT_INTERVAL commits the
    winning writer compacts the parsed log into one chk-*.json; readers
    replay checkpoint + tail only.  Correctness must be unchanged
    across the boundary: snapshots, time travel (pre- AND
    post-checkpoint versions), history, overwrite resets, and the
    torn-file gap contract."""
    import os

    from dask_cudf_spark.sources import txlog

    monkeypatch.setattr(txlog, "CHECKPOINT_INTERVAL", 4)
    path = str(tmp_path / "chktable")
    for i in range(9):
        one = spark.createDataFrame([(i,)], "k long")
        op = "overwrite" if i == 6 else "append"
        assert txlog.commit(one, path, op) == i

    logdir = tmp_path / "chktable" / "_txlog"
    chks = sorted(p.name for p in logdir.iterdir() if p.name.startswith("chk-"))
    assert chks, "no checkpoint written after interval commits"

    # latest snapshot: overwrite at v6 reset, then 7, 8 appended
    got = sorted(r["k"] for r in txlog.read_snapshot(spark, path).collect())
    assert got == [6, 7, 8]
    # time travel to a PRE-checkpoint version replays identically
    assert sorted(
        r["k"] for r in txlog.read_snapshot(spark, path, version=2).collect()
    ) == [0, 1, 2]
    hist = txlog.table_history(spark, path)
    assert [h["version"] for h in hist] == list(range(9))

    # a TORN checkpoint must fall back (to older chk or full replay),
    # never corrupt reads
    torn = logdir / "chk-000000000099.json"
    torn.write_bytes(b'{"version": 99, "entr')  # truncated JSON
    assert sorted(
        r["k"] for r in txlog.read_snapshot(spark, path).collect()
    ) == [6, 7, 8]
    os.remove(torn)

    # gap contract survives checkpointing: an EMPTY (torn) version file
    # is skipped, and the next commit allocates past it
    (logdir / "000000000009.json").write_bytes(b"")
    ten = spark.createDataFrame([(10,)], "k long")
    assert txlog.commit(ten, path) == 10
    got = sorted(r["k"] for r in txlog.read_snapshot(spark, path).collect())
    assert got == [6, 7, 8, 10]


def test_txlog_merge_and_optimize_checkpoint(spark, tmp_path, monkeypatch):
    """merge_by_key and optimize records advance the log checkpoint
    like commit's: a table written by merges and a compaction past
    CHECKPOINT_INTERVAL gets chk-*.json files, snapshots at every
    version before and after each checkpoint equal the model, and the
    checkpointed log equals the pure per-version-file replay."""
    from dask_cudf_spark.sources import txlog

    monkeypatch.setattr(txlog, "CHECKPOINT_INTERVAL", 3)
    path = str(tmp_path / "chkmerge")
    base = spark.createDataFrame([(0, 0)], "k long, v long")
    assert txlog.commit(base, path) == 0
    # merge i inserts key i and updates key 0: versions 1..7
    for i in range(1, 8):
        upd = spark.createDataFrame([(0, i), (i, i)], "k long, v long")
        assert txlog.merge_by_key(upd, path, "k") == i
    assert txlog.optimize(spark, path) == 8

    logdir = tmp_path / "chkmerge" / "_txlog"
    chks = sorted(p.name for p in logdir.iterdir() if p.name[:4] == "chk-")
    assert chks == [f"chk-{v:012d}.json" for v in (2, 5, 8)], chks

    def model(v):
        return sorted({0: v, **{j: j for j in range(1, v + 1)}}.items())

    for v in range(9):
        got = txlog.read_snapshot(spark, path, version=v).collect()
        assert sorted((r["k"], r["v"]) for r in got) == model(min(v, 7))
    entries_chk, chk_v, ntail, _ = txlog._read_log_ex(spark, path)
    assert (chk_v, ntail) == (8, 0)
    for p in logdir.iterdir():
        if p.name.startswith("chk-"):
            p.rename(p.with_suffix(".bak"))
    entries_raw, chk_v_raw, _, _ = txlog._read_log_ex(spark, path)
    assert chk_v_raw == -1
    assert [(e["version"], e["op"], e["dirs"]) for e in entries_raw] == [
        (e["version"], e["op"], e["dirs"]) for e in entries_chk
    ]


def test_txlog_checkpoint_read_path_used(spark, tmp_path, monkeypatch):
    """The reader must actually consume the checkpoint: after one
    exists, _read_log_ex reports a bounded tail, and deleting every
    per-version file AT OR BELOW the checkpoint version must not
    change the parsed log (the entries come from the checkpoint)."""
    import os

    from dask_cudf_spark.sources import txlog

    monkeypatch.setattr(txlog, "CHECKPOINT_INTERVAL", 3)
    path = str(tmp_path / "chkread")
    for i in range(5):
        one = spark.createDataFrame([(i,)], "k long")
        txlog.commit(one, path)
    entries, chk_v, ntail, _ = txlog._read_log_ex(spark, path)
    assert chk_v >= 2, f"no checkpoint consumed (chk_v={chk_v})"
    assert ntail == 5 - (chk_v + 1)
    before = [(e["version"], e["op"]) for e in entries]

    logdir = tmp_path / "chkread" / "_txlog"
    for p in sorted(logdir.iterdir()):
        name = p.name
        if not name.startswith("chk-") and name.endswith(".json"):
            if int(name[:-5]) <= chk_v:
                os.remove(p)
    entries2, chk_v2, _, _ = txlog._read_log_ex(spark, path)
    assert chk_v2 == chk_v
    assert [(e["version"], e["op"]) for e in entries2] == before
    assert txlog.read_snapshot(spark, path).count() == 5


def test_txlog_two_process_race_across_checkpoint_boundary(
    spark, tmp_path, monkeypatch
):
    """Concurrent writers RACING ACROSS checkpoint boundaries (r14):
    two separate JVMs append 6 commits each with CHECKPOINT_INTERVAL=3,
    so several checkpoints are written mid-race (possibly by both
    writers for the same boundary — the temp-file + rename path).  The
    serialized-versions contract must hold unchanged, checkpoints must
    exist, and the checkpointed log replay must equal the pure
    per-version-file replay (checkpoints are a cache, never an
    alternate truth)."""
    import json
    import os
    import subprocess
    import sys

    from dask_cudf_spark.sources import txlog

    path = str(tmp_path / "txracechk")
    worker = os.path.join(os.path.dirname(__file__), "txlog_race_worker.py")
    env = dict(os.environ, TXLOG_CHECKPOINT_INTERVAL="3")
    procs = [
        subprocess.Popen(
            [sys.executable, worker, path, str(w), "6"],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            env=env,
        )
        for w in (1, 2)
    ]
    outs = [p.communicate(timeout=300)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    won: list[int] = []
    for out in outs:
        rec = json.loads(out.strip().splitlines()[-1])
        assert len(rec["versions"]) == 6
        won.extend(rec["versions"])
    assert sorted(won) == list(range(12)), won

    logdir = tmp_path / "txracechk" / "_txlog"
    chks = [p for p in logdir.iterdir() if p.name.startswith("chk-")]
    assert chks, "no checkpoint written during the race"
    # leftover .tmp files are allowed only if their final exists
    # (a lost rename race); none should be dangling without a winner
    for p in logdir.iterdir():
        if p.name.endswith(".tmp"):
            v = p.name.split(".")[0].lstrip(".")
            assert any(c.name.startswith(v.split(".")[0]) for c in chks)

    entries_chk, chk_v, _, _ = txlog._read_log_ex(spark, path)
    assert chk_v >= 0
    # pure per-file replay (checkpoints moved aside) must agree exactly
    moved = []
    for p in chks:
        q = p.with_suffix(".bak")
        p.rename(q)
        moved.append(q)
    try:
        entries_raw, chk_v_raw, _, _ = txlog._read_log_ex(spark, path)
        assert chk_v_raw == -1
        assert [
            (e["version"], e["op"], e["dirs"]) for e in entries_raw
        ] == [(e["version"], e["op"], e["dirs"]) for e in entries_chk]
    finally:
        for q in moved:
            q.rename(q.with_suffix(".json"))
    rows = txlog.read_snapshot(spark, path).collect()
    got = sorted((r["writer"], r["seq"]) for r in rows)
    assert got == [(w, i) for w in (1, 2) for i in range(6)]


def test_txlog_checkpoint_never_freezes_midwrite_gap(
    spark, tmp_path, monkeypatch
):
    """The r14 race-test finding, reproduced deterministically: writer
    B holds version 2's exclusive-create lock but has NOT yet written
    its record (empty file) while writer A commits past it and crosses
    a checkpoint boundary.  The checkpoint must cover only the
    CONTIGUOUS prefix (0..1) — a checkpoint spanning the gap would
    freeze it and silently drop B's commit once B finishes writing."""
    import json as _json

    from dask_cudf_spark.sources import txlog

    monkeypatch.setattr(txlog, "CHECKPOINT_INTERVAL", 2)
    path = str(tmp_path / "chkgap")
    for i in range(2):  # versions 0, 1
        txlog.commit(spark.createDataFrame([(i,)], "k long"), path)
    logdir = tmp_path / "chkgap" / "_txlog"
    # B's lock: exclusive create done, record not yet written
    gap = logdir / "000000000002.json"
    gap.write_bytes(b"")

    # A keeps committing: wins 3, 4, 5... crossing checkpoint boundaries
    for i in range(3):
        txlog.commit(spark.createDataFrame([(10 + i,)], "k long"), path)
    chks = sorted(p.name for p in logdir.iterdir() if p.name.startswith("chk-"))
    assert chks, "boundary crossed but no checkpoint at all"
    # every checkpoint stops BEFORE the in-flight version 2
    assert all(int(c[4:-5]) <= 1 for c in chks), chks

    # B finishes its write: the commit must APPEAR, not be lost
    # (fabricate the record exactly as commit() would have)
    rec = {
        "version": 2, "op": "append",
        "dirs": [], "batch_id": None, "stats": "{}",
    }
    # give it a real (empty) data dir so read_snapshot can list it
    gap.write_bytes(_json.dumps(rec).encode())
    entries = txlog._read_log(spark, path)
    assert [e["version"] for e in entries] == [0, 1, 2, 3, 4, 5]
    hist = txlog.table_history(spark, path)
    assert [h["version"] for h in hist] == [0, 1, 2, 3, 4, 5]

    # and once the gap is healed, the NEXT boundary checkpoint advances
    for i in range(2):
        txlog.commit(spark.createDataFrame([(20 + i,)], "k long"), path)
    chks2 = sorted(
        int(p.name[4:-5])
        for p in logdir.iterdir()
        if p.name.startswith("chk-")
    )
    assert chks2[-1] >= 2, chks2


def test_txlog_local_path_uri_forms():
    """_local_path (r15 ADVICE fix): file:// URIs with an authority
    must NOT fold the host into the path — 'file://host/p' used to
    collapse to '/host/p' (where Hadoop's LocalFileSystem resolves
    '/p'), so every log read hit OSError and was treated as a
    torn-file gap: readers silently saw an empty/stale table and
    writers collided on version 0.  Non-local authorities now fall
    back to the Hadoop FS branch (None)."""
    from dask_cudf_spark.sources.txlog import _local_path

    # scheme-less and plain file: forms -> the path itself
    assert _local_path("/a/b") == "/a/b"
    assert _local_path("file:/a/b") == "/a/b"
    assert _local_path("file:///a/b") == "/a/b"
    assert _local_path("file://localhost/a/b") == "/a/b"
    # percent-encoding decoded (Hadoop Path.toString encodes spaces)
    assert _local_path("file:/a/x%20y/b") == "/a/x y/b"
    # an authority is NOT a path segment: Hadoop branch, never '/host/p'
    assert _local_path("file://host/a/b") is None
    # other filesystems -> Hadoop branch
    assert _local_path("hdfs://nn/a/b") is None
    assert _local_path("s3a://bucket/a/b") is None


def test_txlog_auto_optimize_policy(spark, tmp_path):
    """auto_optimize_every (r15): the commit-side compaction policy
    keeps the live-dir count capped at the threshold — the r14 scale
    probe's one remaining O(N-commits) term (a snapshot scanning N
    single-row dirs) must not regrow unbounded on an append-only
    table.  Contents stay identical, time travel to pre-compaction
    versions still works, and batch_id idempotency is unaffected."""
    from dask_cudf_spark.sources import txlog

    path = str(tmp_path / "txauto")
    for i in range(12):
        txlog.commit(
            spark.createDataFrame([(i,)], "k long"),
            path,
            auto_optimize_every=5,
        )
    log = txlog._read_log(spark, path)
    live = txlog._live_dirs(log, None)
    assert len(live) <= 5, live
    # compactions appended overwrite commits beyond the 12 appends
    assert log[-1]["version"] >= 12
    got = sorted(r["k"] for r in txlog.read_snapshot(spark, path).collect())
    assert got == list(range(12))
    # time travel to a pre-compaction version still replays correctly
    assert sorted(
        r["k"]
        for r in txlog.read_snapshot(spark, path, version=2).collect()
    ) == [0, 1, 2]
    # batch_id replay stays a no-op (returns the stamped version, no
    # new commit, no extra compaction)
    n_before = log[-1]["version"]
    v = txlog.commit(
        spark.createDataFrame([(99,)], "k long"),
        path,
        batch_id=7,
        auto_optimize_every=5,
    )
    v2 = txlog.commit(
        spark.createDataFrame([(99,)], "k long"),
        path,
        batch_id=7,
        auto_optimize_every=5,
    )
    assert v == v2 > n_before
    got2 = sorted(
        r["k"] for r in txlog.read_snapshot(spark, path).collect()
    )
    assert got2 == list(range(12)) + [99]


def test_txlog_heal_log_gaps(spark, tmp_path):
    """heal_log_gaps (r15, found by the streaming soak's first run): a
    writer killed between the exclusive create and the record write
    leaves a torn EMPTY version file; the automatic path rightly
    stalls checkpoint advancement at the gap forever (r14
    contiguous-prefix rule), so this maintenance op — vacuum's grace
    contract — fills dead gaps with no-op records.  Contents, time
    travel, and idempotence must be unaffected; the prefix becomes
    contiguous; fresh gaps inside the grace are left alone."""
    from dask_cudf_spark.sources import txlog

    path = str(tmp_path / "txheal")
    for i in range(3):
        txlog.commit(spark.createDataFrame([(i,)], "k long"), path)
    # simulate the dead writer: version 3 created but never written
    gap = tmp_path / "txheal" / "_txlog" / f"{3:012d}.json"
    gap.write_bytes(b"")
    # versions allocate PAST the orphan (on-disk max term)
    for i in range(3, 6):
        txlog.commit(spark.createDataFrame([(i,)], "k long"), path)
    hist = txlog.table_history(spark, path)
    assert [e["version"] for e in hist] == [0, 1, 2, 4, 5, 6]

    # inside the grace: the gap might be in-flight — heal refuses
    assert txlog.heal_log_gaps(spark, path, min_age_seconds=3600) == []

    # maintenance window: grace 0 declares it dead and fills a no-op
    assert txlog.heal_log_gaps(spark, path, min_age_seconds=0) == [3]
    hist2 = txlog.table_history(spark, path)
    assert [e["version"] for e in hist2] == [0, 1, 2, 3, 4, 5, 6]
    noop = [e for e in hist2 if e["version"] == 3][0]
    assert noop["op"] == "append" and noop["n_dirs"] == 0
    # contents unchanged; time travel across the healed slot works
    got = sorted(r["k"] for r in txlog.read_snapshot(spark, path).collect())
    assert got == [0, 1, 2, 3, 4, 5]
    assert sorted(
        r["k"]
        for r in txlog.read_snapshot(spark, path, version=3).collect()
    ) == [0, 1, 2]
    # idempotent: nothing left to heal
    assert txlog.heal_log_gaps(spark, path, min_age_seconds=0) == []


@pytest.mark.parametrize(
    "module",
    [
        "dask_cudf_spark",
        "dask_cudf_spark.sources",
        "dask_cudf_spark.operators",
        "dask_cudf_spark.functions",
        "dask_cudf_spark.streaming",
    ],
)
def test_public_all_names_resolve(module):
    """Every name a package exports in ``__all__`` resolves, so
    ``from <package> import *`` cannot raise AttributeError."""
    import importlib

    mod = importlib.import_module(module)
    missing = [n for n in mod.__all__ if not hasattr(mod, n)]
    assert not missing, f"{module}.__all__ names unimported: {missing}"
