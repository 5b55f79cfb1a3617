"""Minimal transaction-log table format: ACID-ish append/overwrite
commits over plain parquet, snapshot-isolated reads, and time travel —
the lakehouse pattern (Delta/Iceberg's core idea) expressed with
nothing but Spark's own writers plus an ordered JSON log.

Layout:

    <table>/data/<commit-uuid>/part-*.parquet   immutable data files
    <table>/_txlog/<version 12-digit>.json      one commit record each

A commit record is ``{"version": N, "op": "append"|"overwrite",
"dirs": [<data subdirs THIS commit added>], "batch_id": <int|null>,
"stats": <JSON string: per-dir min/max plus caller metadata>}``.  A
reader replays the log in version order: ``overwrite`` resets the live
set, ``append`` extends it — so a read at version V sees exactly the
committed state at V (snapshot isolation: concurrent writers never
mutate files a reader already listed; data dirs are immutable once
committed).

Commit atomicity = atomicity of creating the version file, done
through the JVM Hadoop FileSystem with ``overwrite=false`` — the same
create-exclusive primitive Delta's log relies on — so two racing
writers cannot both win a version, and the loser retries on the next
version number.  ``commit``, ``merge_by_key`` and ``optimize`` all
land their record through one writer (``_write_record``), so all
three share the same version allocation, race retry, detect-and-abort
and log checkpointing.  Everything goes through the Hadoop FS API, so
the table works on any supported filesystem (local, hdfs://, s3a://
modulo its create-exclusive semantics), not just local paths.

Schema evolution is additive: a later commit may carry extra columns.
Every data-dir read goes through one reader (``_read_dirs``) that
merges parquet schemas, so older rows read a new column as null, and
the dirs ``merge_by_key`` and ``optimize`` rewrite keep it.

Scale: the log is O(commits) tiny JSON files, data files are never
rewritten (append) or only logically retired (overwrite), and reads
prune to the live dir list — Spark's parquet reader gets an explicit
path list, keeping partition pruning and pushdown intact.
"""

from __future__ import annotations

import json
import random
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession


def _race_backoff(attempt: int) -> None:
    """Sleep briefly after a lost commit race, with jitter growing per
    attempt.  Without it the retry loop re-reads the log and re-creates
    within ~100 ms — a writer racing a fast opponent (e.g. a zombie
    foreachBatch overlapping a restarted streaming query, the r11 soak
    finding) can lose every attempt back-to-back and exhaust
    max_retries even though each individual race is fair.  Jittered
    backoff is the standard thundering-herd fix (same shape as Delta's
    commit retry); integrity never depended on it — the exclusive
    create already guarantees losers fail cleanly."""
    time.sleep(random.uniform(0.02, 0.05 * (attempt + 1)))


class CommitConflict(Exception):
    """Another writer committed this version first; retrying the SAME
    call is safe and is what the record writer shared by commit,
    merge_by_key and optimize does before giving up and surfacing
    this."""


class ConcurrentModification(CommitConflict):
    """The table's live set changed between this operation's log
    snapshot and its commit attempt, so the operation's output was
    computed against stale state.  Retrying the same call is NOT
    sufficient: the caller must RECOMPUTE against the current snapshot
    (re-run the merge/optimize).  Same contract as Delta's
    ConcurrentAppendException.  Subclasses CommitConflict so existing
    ``except CommitConflict`` handlers still see both."""


def _jfs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, hpath


def _log_dir(path: str) -> str:
    return path.rstrip("/") + "/_txlog"


# A log CHECKPOINT (Delta's _last_checkpoint idea, single-file form):
# every CHECKPOINT_INTERVAL commits the winning writer compacts the
# parsed log into one `chk-<version>.json` file holding every entry up
# to and including that version.  Readers then replay ONE driver-side
# file + only the per-version tail files AFTER it, so snapshot reads
# stay O(interval) instead of O(commits) — the r13 verdict's flagged
# latent cost, measured and fixed in r14 (BASELINE.md txlog-scale
# rows).  Checkpoints are advisory: a torn/missing checkpoint degrades
# to the full per-file replay, never to wrong results.
CHECKPOINT_INTERVAL = 100


def _parse_record(d: dict) -> dict | None:
    if (
        d.get("version") is None
        or d.get("op") is None
        or d.get("dirs") is None
    ):
        return None
    stats = d.get("stats")
    if isinstance(stats, str):
        stats = json.loads(stats) if stats else {}
    return {
        "version": d["version"],
        "op": d["op"],
        "dirs": list(d["dirs"]),
        "batch_id": d.get("batch_id"),
        "stats": stats or {},
    }


def _local_path(path_str: str) -> str | None:
    """The local-filesystem path for file:/-scheme (or scheme-less)
    URIs, else None — the py4j-free fast path below.  Parsed with
    urlsplit so an authority ('file://host/p') is never folded into
    the path — naive slash-stripping turns it into '/host/p' where
    Hadoop's LocalFileSystem resolves '/p', and every read then hits
    OSError and reads as a torn-file gap (silently stale tables).  A
    non-local authority falls back to the Hadoop FS branch instead."""
    if path_str.startswith("file:"):
        parts = urllib.parse.urlsplit(path_str)
        if parts.netloc not in ("", "localhost"):
            return None
        return urllib.parse.unquote(parts.path)
    if "://" not in path_str:
        return path_str
    return None


def _fs_read_json(jvm, fs, path_str: str):
    """Driver-side read of one small log/checkpoint file — direct
    Python I/O on local paths (zero py4j round trips; the r14 scale
    probe showed 4 py4j calls per tail file re-creating an O(commits)
    driver cost), Hadoop FS streams on any other filesystem.  Returns
    the parsed object or None for empty/torn files (the gap semantics
    below)."""
    lp = _local_path(path_str)
    if lp is not None:
        try:
            with open(lp, "rb") as f:
                raw = f.read()
        except OSError:
            return None
    else:
        stream = fs.open(jvm.org.apache.hadoop.fs.Path(path_str))
        try:
            raw = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
    if not raw:
        return None
    try:
        return json.loads(raw.decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None  # torn write: same GAP contract as a null record


def _list_log_files(jvm, fs, ld) -> list[str]:
    """Full paths of every file in the log dir.  Local filesystems
    (every test/driver path here) list through os.listdir — ZERO py4j
    round trips; iterating a listStatus array from Python costs ~3
    round trips PER FILE, the r14 scale probe's hidden O(commits)
    driver cost.  Non-local filesystems (hdfs://, s3a://) fall back to
    the Hadoop listing — correct, with the documented per-file py4j
    cost (a cluster driver would run this listing JVM-side anyway)."""
    import os as _os

    lp = _local_path(ld.toString())
    if lp is not None:
        try:
            return [f"{lp.rstrip('/')}/{n}" for n in _os.listdir(lp)]
        except OSError:
            return []
    return [
        st.getPath().toString() for st in fs.listStatus(ld)
    ]


def _read_log_ex(
    spark: SparkSession, path: str
) -> tuple[list[dict], int, int, int]:
    """(entries, checkpoint_version, n_tail_files, max_version_on_disk)
    — see _read_log.  The last is the highest version NUMBER present
    as a _txlog filename (-1 when none), including orphaned empty/torn
    files from crashed writers, which the parsed entries cannot see.
    Writers allocate max(parsed latest, on-disk max) + 1: without the
    on-disk term, an orphan at version V wedges the table forever
    (every retry recomputes V from the parsed log and loses to the
    orphan's file — the r11 soak deadlock, 'lost 5 commit races' on
    the same filename)."""
    jvm, fs, ld = _jfs(spark, _log_dir(path))
    if not fs.exists(ld):
        return [], -1, 0, -1
    versions: list[tuple[int, str]] = []
    chks: list[tuple[int, str]] = []
    for full in _list_log_files(jvm, fs, ld):
        name = full.rsplit("/", 1)[-1]
        if name.endswith(".json"):
            stem = name[: -len(".json")]
            if stem.startswith("chk-"):
                try:
                    chks.append((int(stem[4:]), full))
                except ValueError:
                    pass
            else:
                try:
                    versions.append((int(stem), full))
                except ValueError:
                    pass  # foreign file in the log dir
    entries: list[dict] = []
    chk_version = -1
    for cv, cpath in sorted(chks, reverse=True):
        doc = _fs_read_json(jvm, fs, cpath)
        if doc and isinstance(doc.get("entries"), list):
            parsed = [_parse_record(e) for e in doc["entries"]]
            entries = [e for e in parsed if e is not None]
            chk_version = cv
            break
        # torn checkpoint: fall back to the next older one (or none)
    tail = sorted((v, p) for v, p in versions if v > chk_version)
    for _v, p in tail:
        rec = _fs_read_json(jvm, fs, p)
        if rec is not None:
            parsed = _parse_record(rec)
            if parsed is not None:
                entries.append(parsed)
    entries.sort(key=lambda e: e["version"])
    on_disk = max((v for v, _p in versions), default=-1)
    return entries, chk_version, len(tail), on_disk


def _read_log(spark: SparkSession, path: str) -> list[dict]:
    """All commit records in version order (empty list for a new
    table).  Replays the latest intact checkpoint (one file) plus the
    per-version tail after it, all through driver-side Hadoop FS
    streams — any supported filesystem, NO Spark job per snapshot
    (each record is a few hundred bytes; a Spark job per log read was
    the old fixed cost AND scaled O(commits), r14 scale probe).

    Records with a null version/op/dirs — and empty/torn files — are
    DROPPED: a writer killed between the exclusive create and the
    record write (r11 soak: a streaming query stopped mid-foreachBatch)
    leaves a version file whose commit never happened — the slot reads
    as a GAP, its data dir stays unreferenced (vacuum reclaims it by
    age+reachability), and version numbering skips it via
    _read_log_ex's on-disk max."""
    return _read_log_ex(spark, path)[0]


def _encode(entry: dict) -> dict:
    """A parsed entry in its on-disk form (stats as a JSON string)."""
    return {**entry, "stats": json.dumps(entry["stats"] or {})}


def _maybe_checkpoint(
    jvm, fs, path: str, entries: list[dict], chk_version: int
) -> None:
    """Write a log checkpoint if the tail since the last one has grown
    past CHECKPOINT_INTERVAL.  Advisory and race-tolerant: the content
    is deterministic given the version prefix, writes go through a
    temp file + atomic rename, and a lost race (existing file) is a
    no-op — readers fall back past any torn file.

    Only the CONTIGUOUS parsed prefix is checkpointed: a version file
    can be observed EMPTY while its writer sits between the exclusive
    create (the lock) and the content write — a transient gap that a
    per-file reader heals on its next read, but that a checkpoint
    covering versions beyond it would freeze PERMANENTLY, silently
    dropping the commit once its writer finishes (r14 two-process
    race-across-boundary test, intermittent).  A genuinely dead gap
    (crashed writer) therefore stalls checkpoint ADVANCEMENT at the
    gap — reads degrade to O(commits-past-gap), never to wrong
    results; data-dir reachability and version allocation are
    unaffected (the on-disk max already skips past orphans)."""
    have = {e["version"] for e in entries}
    prefix_end = -1
    while prefix_end + 1 in have:
        prefix_end += 1
    if prefix_end - chk_version < CHECKPOINT_INTERVAL:
        return
    latest = prefix_end
    prefix = [e for e in entries if e["version"] <= prefix_end]
    payload = json.dumps(
        {"version": latest, "entries": [_encode(e) for e in prefix]}
    ).encode()
    final = jvm.org.apache.hadoop.fs.Path(
        f"{_log_dir(path)}/chk-{latest:012d}.json"
    )
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{_log_dir(path)}/.chk-{latest:012d}.{uuid.uuid4().hex}.tmp"
    )
    try:
        out = fs.create(tmp, False)
        try:
            out.write(payload)
        finally:
            out.close()
        if not fs.rename(tmp, final):  # lost the race: keep the winner
            fs.delete(tmp, False)
    except Exception:
        # best-effort: a failed checkpoint never blocks the commit
        try:
            fs.delete(tmp, False)
        except Exception:
            pass


def _write_record(
    spark: SparkSession,
    path: str,
    op: str,
    dirs: list[str],
    max_retries: int,
    batch_id: int | None = None,
    stats: dict | None = None,
    expect_live: list[str] | None = None,
) -> tuple[int, list[dict] | None]:
    """Append one record to the log — the version-allocation loop
    ``commit``, ``merge_by_key`` and ``optimize`` share.  Returns
    (version, log including the new record), or (version, None) when
    ``batch_id`` dedup found the record already written.

    Each attempt reads the log once, then:

    - ``batch_id``: a record already stamped with it means a racing
      replay of the same batch won — return its version, write nothing;
    - ``expect_live``: the live set the caller's output was computed
      against.  If another writer moved it since, committing would
      silently drop that writer's dirs, so raise ConcurrentModification
      (detect-and-abort);
    - allocate max(parsed latest, on-disk max) + 1 and create that
      version file exclusively; a lost race backs off and retries;
    - advance the log checkpoint once the tail passes
      CHECKPOINT_INTERVAL."""
    jvm, fs, _ = _jfs(spark, path)
    last_err: Exception | None = None
    for attempt in range(max_retries):
        log, chk_version, _ntail, on_disk = _read_log_ex(spark, path)
        if batch_id is not None:
            done = [e for e in log if e["batch_id"] == batch_id]
            if done:
                return done[0]["version"], None
        if expect_live is not None and _live_dirs(log, None) != expect_live:
            raise ConcurrentModification(
                f"concurrent commit detected on {path}: the live set "
                "changed since this operation's snapshot — re-run it "
                "against the current table state"
            )
        version = max(log[-1]["version"] if log else -1, on_disk) + 1
        entry = {
            "version": version,
            "op": op,
            "dirs": dirs,
            "batch_id": batch_id,
            "stats": stats or {},
        }
        vpath = jvm.org.apache.hadoop.fs.Path(
            f"{_log_dir(path)}/{version:012d}.json"
        )
        fs.mkdirs(vpath.getParent())
        try:
            out = fs.create(vpath, False)  # overwrite=False: exclusive
        except Exception as e:  # FileAlreadyExistsException et al.
            last_err = e
            _race_backoff(attempt)
            continue  # lost the race: re-read, reallocate
        try:
            out.write(json.dumps(_encode(entry)).encode())
        finally:
            out.close()
        log = log + [entry]
        _maybe_checkpoint(jvm, fs, path, log, chk_version)
        return version, log
    raise CommitConflict(
        f"lost {max_retries} commit races on {path}"
    ) from last_err


def _fs_now_ms(jvm, fs, probe_dir: str) -> float:
    """"Now" on the FILESYSTEM's clock, in ms: the mtime of a probe
    file created in ``probe_dir`` and deleted at once, so comparing it
    with file mtimes stays same-clock even on remote filesystems
    (s3a/hdfs) whose server time is skewed from the driver.  Falls back
    to driver time if the probe can't be written."""
    now_ms = time.time() * 1000.0
    probe = jvm.org.apache.hadoop.fs.Path(
        f"{probe_dir}/.clock-probe-{uuid.uuid4().hex}"
    )
    try:
        fs.create(probe, True).close()
        now_ms = float(fs.getFileStatus(probe).getModificationTime())
        fs.delete(probe, False)
    except Exception:
        pass  # driver-clock fallback (local fs shares the clock anyway)
    return now_ms


def _live_dirs(entries: list[dict], version: int | None) -> list[str]:
    live: list[str] = []
    for e in entries:
        if version is not None and e["version"] > version:
            break
        if e["op"] == "overwrite":
            live = list(e["dirs"])
        else:
            live.extend(e["dirs"])
    return live


def _require_staged(spark: SparkSession, path: str, staged_dir: str) -> None:
    """A log record naming a missing dir would break every snapshot."""
    _, fs, hpath = _jfs(spark, f"{path.rstrip('/')}/{staged_dir}")
    if not fs.exists(hpath):
        raise FileNotFoundError(f"staged dir {staged_dir!r} not in {path}")


def _write_dir(df: DataFrame, path: str, tag: str = "") -> str:
    """Write ``df`` as a fresh ``data/<uuid><tag>`` dir under ``path``
    and return the dir name — the one data-dir writer.  Invisible to
    readers until a log record references it."""
    data_dir = f"data/{uuid.uuid4().hex}{tag}"
    df.write.mode("errorifexists").parquet(f"{path.rstrip('/')}/{data_dir}")
    return data_dir


def _read_dirs(spark: SparkSession, path: str, dirs: list[str]) -> DataFrame:
    """The one data-dir reader: ``dirs`` under ``path`` with parquet
    schemas MERGED, so a column added by a later commit reads as null
    on older rows instead of vanishing with whichever footer Spark
    inferred from.  Merge and compaction rewrites read through here
    too, so the dirs they write carry the evolved schema."""
    base = path.rstrip("/")
    return spark.read.option("mergeSchema", "true").parquet(
        *[f"{base}/{d}" for d in dirs]
    )


def stage_commit_data(df: DataFrame, path: str) -> str:
    """Write ``df``'s data dir for a FUTURE commit/merge and return the
    dir name (``data/<uuid>``) — the write half of ``commit`` split out
    so callers can run it CONCURRENTLY with other jobs (guide §2.6
    driver-thread overlap; r16, r15 VERDICT item 1: the matview/txlog
    lifecycles ran 8-10 strictly sequential ~0.1-0.3 s jobs).

    Safe by the log's own design: data dirs are invisible to readers
    until a log record references them, so staging early changes
    nothing observable — ``commit(..., staged_dir=...)`` /
    ``merge_by_key(..., staged_dir=...)`` later link the dir exactly
    where the inline write used to.  A staged dir that never gets
    committed is identical to an aborted commit's dir: unreferenced,
    reclaimed by ``vacuum``."""
    return _write_dir(df, path)


def commit(
    df: DataFrame,
    path: str,
    op: str = "append",
    max_retries: int = 5,
    batch_id: int | None = None,
    stats_cols: list[str] | None = None,
    extra_stats: dict | None = None,
    auto_optimize_every: int | None = None,
    staged_dir: str | None = None,
) -> int:
    """Write ``df`` as a new commit; returns the committed version.

    The data files land under a fresh uuid subdir FIRST (invisible to
    readers — nothing references them), then the version file is
    created with the exclusive-create primitive; on a race the loser
    gets CommitConflict from the filesystem and retries with the next
    version number, its data dir intact.

    ``batch_id`` makes the commit IDEMPOTENT for streaming foreachBatch
    replays: if the log already holds a commit stamped with this
    batch_id, the call is a no-op returning that version — Structured
    Streaming's at-least-once foreachBatch window becomes exactly-once
    at the table level.

    ``stats_cols`` records per-dir min/max for those columns in the
    commit record (one tiny aggregate over the just-written data) —
    the Iceberg-style file statistics ``read_snapshot``'s ``prune``
    uses for data skipping.

    ``extra_stats`` merges arbitrary application metadata into the
    commit's stats blob (e.g. matview refresh watermarks); keys must
    not collide with data-dir names (they are uuid-prefixed, so any
    readable label is safe).

    ``auto_optimize_every`` is the small-file compaction policy (the
    r14 scale probe's open term: a 1000-commit append-only table scans
    1000 single-row dirs per snapshot even after the LOG went flat):
    when the post-commit LIVE DIR count reaches this threshold, the
    winning writer runs ``optimize`` best-effort — a concurrent
    commit aborts the compaction harmlessly (detect-and-abort), and
    the next boundary retries.  Triggered by live-dir count, not
    version number, so overwrites/merges that already collapse the
    dir set never pay a redundant compaction.

    ``staged_dir`` links a dir pre-written by ``stage_commit_data``
    (possibly from another driver thread, overlapping earlier jobs)
    instead of writing ``df`` here; ``df`` then only supplies the
    session.  A ``staged_dir`` that does not exist under ``path``
    raises FileNotFoundError before any log record is written.  With
    ``batch_id`` dedup the staged dir of a skipped replay is left
    unreferenced (vacuum reclaims it) — the same orphan an aborted
    commit leaves."""
    if op not in ("append", "overwrite"):
        raise ValueError(f"op must be append|overwrite, got {op!r}")
    spark = df.sparkSession
    if batch_id is not None:
        for e in _read_log(spark, path):
            if e.get("batch_id") == batch_id:
                return e["version"]
    if staged_dir is not None:
        _require_staged(spark, path, staged_dir)
        data_dir = staged_dir
    else:
        data_dir = _write_dir(df, path)
    stats: dict = {}
    if stats_cols:
        from pyspark.sql import functions as F

        aggs = []
        for c in stats_cols:
            aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
        row = _read_dirs(spark, path, [data_dir]).agg(*aggs).collect()[0]
        stats = {
            data_dir: {
                c: [row[f"mn_{c}"], row[f"mx_{c}"]] for c in stats_cols
            }
        }
    if extra_stats:
        stats.update(extra_stats)

    version, log = _write_record(
        spark, path, op, [data_dir], max_retries, batch_id, stats
    )
    if (
        log is not None
        and auto_optimize_every
        and len(_live_dirs(log, None)) >= auto_optimize_every
    ):
        try:
            optimize(spark, path)
        except (ConcurrentModification, CommitConflict):
            pass  # a racing writer moved the table; next boundary compacts
    return version


def snapshot_dirs(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: tuple | None = None,
) -> list[str]:
    """Live data dirs at ``version``, optionally min/max-pruned by
    ``prune=(col, lo, hi)`` against the commit-recorded file stats —
    Iceberg-style data skipping: a dir whose [min, max] range misses
    [lo, hi] is never listed, so the scan job never opens it.  Dirs
    without recorded stats for the column are conservatively kept."""
    entries = _read_log(spark, path)
    if not entries:
        raise FileNotFoundError(f"no commits at {path}")
    if version is not None and version > entries[-1]["version"]:
        raise ValueError(
            f"version {version} > latest {entries[-1]['version']}"
        )
    dirs = _live_dirs(entries, version)
    if not dirs:
        raise ValueError(f"version {version} has no live data")
    if prune is None:
        return dirs
    col, lo, hi = prune
    stats: dict = {}
    for e in entries:
        stats.update(e.get("stats") or {})
    kept = []
    for d in dirs:
        rng = (stats.get(d) or {}).get(col)
        if rng is None or rng[0] is None or rng[1] is None:
            kept.append(d)  # no stats: must read
        elif not (rng[1] < lo or rng[0] > hi):
            kept.append(d)
    return kept


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: tuple | None = None,
) -> DataFrame:
    """The table as of ``version`` (latest when None); ``prune=(col,
    lo, hi)`` applies stats-based data skipping (see snapshot_dirs) —
    the caller still applies the row-level filter, pruning only
    bounds which FILES are opened.

    When pruning eliminates EVERY dir, returns an empty DataFrame with
    the table schema (read from the unpruned snapshot, limit 0 — a
    metadata-only plan) so callers can chain .filter()/.count()
    uniformly instead of crashing on None."""
    dirs = snapshot_dirs(spark, path, version, prune)
    if dirs:
        return _read_dirs(spark, path, dirs)
    dirs = snapshot_dirs(spark, path, version, None)
    return _read_dirs(spark, path, dirs).limit(0)


def table_history(spark: SparkSession, path: str) -> list[dict]:
    """The commit log (version, op, file-dir count) — DESCRIBE HISTORY."""
    return [
        {"version": e["version"], "op": e["op"], "n_dirs": len(e["dirs"])}
        for e in _read_log(spark, path)
    ]


def change_feed(
    spark: SparkSession,
    path: str,
    key: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level changes between two committed versions (CDC by
    snapshot diff) — the Delta ``table_changes`` / Iceberg
    changelog-scan shape, derived from the log alone: data dirs are
    IMMUTABLE, so every row-level change between the versions lives in
    a dir retired (pre-images) or added (post-images) in between, and
    the diff reads ONLY the symmetric difference of the two live-dir
    sets — churn-proportional, never a full-table scan of either
    snapshot.

    Output: the table's columns plus ``change_type`` in {'insert',
    'delete', 'update_preimage', 'update_postimage'} (updates emit
    BOTH images, one row each).  Rows copied VERBATIM by copy-on-write
    rewrites (merge survivors inside a touched dir, OPTIMIZE
    compaction) are suppressed by a null-safe all-column comparison —
    a pure compaction between the versions yields an EMPTY feed.
    ``key`` must uniquely identify a live row at any one version (the
    same contract merge_by_key assumes).

    Scale: one shuffle (the full-outer join on ``key``) over retired +
    added dirs only; the copy-suppression filter runs before the
    explode so carried rows never widen.  Additive schema evolution is
    handled by null-extending the missing columns on either side, so a
    feed spanning an ALTER-like commit still unions cleanly."""
    from functools import reduce

    from pyspark.sql import functions as F

    entries = _read_log(spark, path)
    if not entries:
        raise FileNotFoundError(f"no commits at {path}")
    latest = entries[-1]["version"]
    to_version = latest if to_version is None else to_version
    for v in (from_version, to_version):
        if v > latest:
            raise ValueError(f"version {v} > latest {latest}")
    d_from = set(_live_dirs(entries, from_version))
    d_to = set(_live_dirs(entries, to_version))

    def _side(dirs: set) -> DataFrame:
        src = sorted(dirs) or sorted(d_to | d_from)  # schema-only read
        df = _read_dirs(spark, path, src)
        return df if dirs else df.limit(0)

    pre0, post0 = _side(d_from - d_to), _side(d_to - d_from)
    cols = list(dict.fromkeys([*post0.columns, *pre0.columns]))

    def _align(df: DataFrame, other: DataFrame) -> DataFrame:
        return df.select(
            *[
                df[c].alias(c)
                if c in df.columns
                else F.lit(None).cast(other.schema[c].dataType).alias(c)
                for c in cols
            ]
        )

    pre = _align(pre0, post0).alias("pre")
    post = _align(post0, pre0).alias("post")
    j = pre.join(
        post, F.col(f"pre.{key}") == F.col(f"post.{key}"), "full_outer"
    )
    identical = reduce(
        lambda a, b: a & b,
        [F.col(f"pre.{c}").eqNullSafe(F.col(f"post.{c}")) for c in cols],
    )
    in_pre = F.col(f"pre.{key}").isNotNull()
    in_post = F.col(f"post.{key}").isNotNull()
    # copy-on-write noise: present on both sides and bit-identical
    j = j.filter(~(in_pre & in_post & identical))

    def _tagged(side: str, tag: str):
        return F.struct(
            F.struct(*[F.col(f"{side}.{c}").alias(c) for c in cols]).alias(
                "row"
            ),
            F.lit(tag).alias("change_type"),
        )

    changes = (
        F.when(~in_pre, F.array(_tagged("post", "insert")))
        .when(~in_post, F.array(_tagged("pre", "delete")))
        .otherwise(
            F.array(
                _tagged("pre", "update_preimage"),
                _tagged("post", "update_postimage"),
            )
        )
    )
    ex = j.select(F.explode(changes).alias("c"))
    return ex.select(
        *[F.col(f"c.row.{c}").alias(c) for c in cols],
        F.col("c.change_type").alias("change_type"),
    )


def merge_by_key(
    updates: DataFrame,
    path: str,
    key: str,
    max_retries: int = 5,
    staged_dir: str | None = None,
) -> int:
    """Copy-on-write MERGE (upsert by key): rows in ``updates`` replace
    live rows with the same ``key``; unmatched update rows insert.

    File-granular rewrite, the Delta MERGE shape: only live data dirs
    that actually CONTAIN a matching key are rewritten (their
    non-matching rows survive into a new dir); untouched dirs carry
    over by reference.  The commit is an ``overwrite`` record listing
    survivors + rewrites + inserts, so readers atomically flip to the
    merged snapshot and time travel still sees the pre-merge state.

    Scale: the touch-set probe is one semi-join aggregation over
    input_file_name() (pushdown-friendly: only ``key`` is read), and
    rewrite volume is proportional to matched FILES, not table size —
    the copy-on-write trade every log-structured table format makes.

    Concurrency: survivors/rewrites are computed against a LOG SNAPSHOT;
    if any other writer commits between that snapshot and this merge's
    version-file create, blindly committing the stale survivor list
    would silently drop the concurrent commit's dirs, so the merge
    ABORTS with ConcurrentModification instead — the same
    detect-and-abort contract Delta's ConcurrentAppendException
    implements; the caller re-runs the merge against the new
    snapshot."""
    spark = updates.sparkSession
    from pyspark.sql import functions as F

    entries = _read_log(spark, path)
    if not entries:
        raise FileNotFoundError(f"no commits at {path}")
    live = _live_dirs(entries, None)

    # Write the update rows FIRST (r15, guide §1.2/§5): the old order
    # evaluated the caller's ``updates`` lineage THREE times — once per
    # broadcast-key build (touch probe, keep-side anti join) and once
    # for the write.  Deriving the key set from the just-written
    # parquet runs that lineage exactly once; the key reads are then
    # column-pruned scans of a local file (and are CONSISTENT with the
    # committed rows even if the caller's plan is non-deterministic).
    # Failure semantics are unchanged: data dirs land before the log
    # references them, so an aborted merge leaves only unreferenced
    # dirs for vacuum, exactly as before.
    # ``staged_dir`` (r16, guide §2.6): the caller pre-wrote the
    # updates dir via stage_commit_data — typically from a driver
    # thread overlapping earlier lifecycle jobs — so the write is
    # skipped and the keys derive from the staged parquet, keeping the
    # r15 evaluate-once/consistency property verbatim.
    if staged_dir is not None:
        _require_staged(spark, path, staged_dir)
        upd_dir = staged_dir
    else:
        upd_dir = _write_dir(updates, path, "-upd")
    keys = _read_dirs(spark, path, [upd_dir]).select(key).distinct()
    touched: set[str] = set()
    if live:
        tagged = (
            _read_dirs(spark, path, live)
            .select(key, F.input_file_name().alias("__file"))
            .join(F.broadcast(keys), key, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        )
        for r in tagged:
            f = r["__file"]
            for d in live:
                if f"/{d.split('/', 1)[1]}/" in f or f"/{d}/" in f:
                    touched.add(d)
    survivors = [d for d in live if d not in touched]

    new_dirs = []
    if touched:
        keep = _read_dirs(spark, path, sorted(touched)).join(
            F.broadcast(keys), key, "left_anti"
        )
        new_dirs.append(_write_dir(keep, path, "-keep"))
    new_dirs.append(upd_dir)
    return _write_record(
        spark, path, "overwrite", survivors + new_dirs, max_retries,
        expect_live=live,
    )[0]


def optimize(
    spark: SparkSession,
    path: str,
    target_partitions: int = 1,
    max_retries: int = 5,
) -> int:
    """Compaction (OPTIMIZE): rewrite the live set into
    ``target_partitions`` files under one new dir and commit it as an
    overwrite — contents identical, small-file count collapsed.  Time
    travel to pre-compaction versions still works (old dirs remain on
    disk until vacuum).  Same detect-and-abort as merge_by_key: a
    commit landing during the rewrite raises ConcurrentModification
    instead of vanishing from the compacted overwrite."""
    entries = _read_log(spark, path)
    if not entries:
        raise FileNotFoundError(f"no commits at {path}")
    live = _live_dirs(entries, None)
    compacted = _read_dirs(spark, path, live).repartition(target_partitions)
    new_dir = _write_dir(compacted, path, "-compact")
    return _write_record(
        spark, path, "overwrite", [new_dir], max_retries, expect_live=live
    )[0]


def heal_log_gaps(
    spark: SparkSession,
    path: str,
    min_age_seconds: float = 3600.0,
) -> list[int]:
    """Fill DEAD torn-version gaps with explicit no-op records so
    checkpoint advancement can resume; returns the healed versions.

    A writer killed between the exclusive version-file create and the
    record write (crashed driver, streaming query stopped
    mid-foreachBatch — the r15 soak reproduced it with a restart
    during commit) leaves an EMPTY version file forever.  The
    automatic path is deliberately absolutist about it: the r14
    race-across-boundary fix checkpoints only the CONTIGUOUS parsed
    prefix, because a checkpoint spanning a gap would silently drop a
    merely-SLOW writer's commit when it lands.  The cost is that a
    genuinely dead gap stalls checkpoint advancement permanently and
    log reads degrade to O(commits-past-gap) — correct, but a
    long-lived table accumulates one stall per crash.

    This is the matching MAINTENANCE operation, with vacuum's exact
    grace contract: an empty version file older than
    ``min_age_seconds`` (measured against the filesystem's clock, same
    probe-file trick as vacuum) is declared dead and overwritten with
    a no-op append record ({dirs: []}) — snapshot contents, time
    travel, and the change feed are unaffected (the no-op changes no
    live set), the parsed prefix becomes contiguous again, and the
    next commit's checkpoint advances past it.  Pass 0 only in a
    single-writer maintenance window: a zombie writer that is alive
    but paused longer than the grace between create and write would
    have its eventual commit silently shadowed — the same
    impossible-to-distinguish case vacuum's grace exists for."""
    jvm, fs, _ = _jfs(spark, path)
    entries, _chk, _ntail, mx_disk = _read_log_ex(spark, path)
    parsed = {e["version"] for e in entries}
    if mx_disk < 0:
        return []
    now_ms = _fs_now_ms(jvm, fs, _log_dir(path))
    healed: list[int] = []
    for v in range(0, mx_disk + 1):
        if v in parsed:
            continue
        vpath = jvm.org.apache.hadoop.fs.Path(
            f"{_log_dir(path)}/{v:012d}.json"
        )
        if not fs.exists(vpath):
            continue  # foreign numbering hole: nothing to heal
        try:
            st = fs.getFileStatus(vpath)
        except Exception:
            continue
        if now_ms - st.getModificationTime() < min_age_seconds * 1000.0:
            continue  # could still be in-flight: respect the grace
        noop = {"version": v, "op": "append", "dirs": [], "batch_id": None}
        record = json.dumps(_encode({**noop, "stats": {}})).encode()
        try:
            out = fs.create(vpath, True)  # overwrite: we own the window
            try:
                out.write(record)
            finally:
                out.close()
            healed.append(v)
        except Exception:
            continue  # best-effort per slot; report only real heals
    return healed


def vacuum(
    spark: SparkSession,
    path: str,
    keep_versions: int = 1,
    min_age_seconds: float = 3600.0,
) -> int:
    """Physically delete data dirs unreachable from the last
    ``keep_versions`` snapshots; returns the number of dirs removed.
    After vacuum, time travel older than the horizon fails (by design
    — same contract as Delta's VACUUM).

    ``min_age_seconds`` is the retention grace (Delta's
    retentionDurationCheck): commit() writes its data dir BEFORE its
    version file, so a dir absent from the log may be an IN-FLIGHT
    commit, not garbage — deleting it would let that commit succeed
    pointing at vanished data.  Dirs whose modification time is within
    the grace window are never deleted; pass 0 only when no concurrent
    writer can exist (single-writer maintenance window).

    Age is measured against the FILESYSTEM's clock, not the driver's:
    "now" is the mtime of a probe file written just before the sweep,
    so the grace comparison is same-clock even on remote filesystems
    (s3a/hdfs) whose server time is skewed from the driver — a skewed
    driver wall-clock could otherwise under-estimate a fresh in-flight
    commit dir's age and delete it.  Falls back to driver time if the
    probe can't be written."""
    entries = _read_log(spark, path)
    if not entries:
        return 0
    horizon = entries[-1]["version"] - keep_versions + 1
    reachable: set[str] = set()
    for e in entries:
        if e["version"] >= horizon:
            reachable.update(_live_dirs(entries, e["version"]))
    jvm, fs, _ = _jfs(spark, path)
    base = path.rstrip("/")
    data_root = jvm.org.apache.hadoop.fs.Path(f"{base}/data")
    removed = 0
    if not fs.exists(data_root):
        return 0
    now_ms = _fs_now_ms(jvm, fs, f"{base}/data")
    for st in fs.listStatus(data_root):
        d = f"data/{st.getPath().getName()}"
        if d in reachable:
            continue
        if now_ms - st.getModificationTime() < min_age_seconds * 1000.0:
            continue  # possibly an in-flight commit's dir: keep
        fs.delete(st.getPath(), True)
        removed += 1
    return removed
