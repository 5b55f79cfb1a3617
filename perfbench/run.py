"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run, in one process:

1. copies the input tables (``perfbench/data/sf0.01``, the fixed seed-42
   tables the repository's oracle tests read) under
   ``.perfbench/run-*/data``;
2. starts the engine's Spark session at ``local[1]``, runs every
   query once and compares its output with its DuckDB oracle, then runs
   the workload's warm-up rounds; all of this is ``setup_s``;
3. runs a fixed number of rounds (each registered query of the workload
   once, in an order shuffled by the seed, materialized into Spark's
   noop sink): ``--seconds`` over the workload's nominal round time, and
   at least ``MIN_ROUNDS``;
4. prints a report, then one JSON line with the metrics: the
   end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``.

A traced run alternates traced and untraced rounds; per-layer numbers
are averages over its traced rounds, and ``trace.overhead_ratio`` is
the traced rounds' median over the untraced rounds' median, minus one.
Every file a run writes lives under its ``.perfbench/run-*`` directory
(the engine's temp files and Spark's local dirs included), which is
deleted when the run ends; a traced run keeps its spans in
``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_TABLES = os.path.join(HERE, "data", "sf0.01")
# what --trace 0 reports; --trace 1 reports the other run metrics together
# with the per-layer ones (see README.md for why they moved there)
END_TO_END = ("setup_s", "round_cpu_s")
# Spark runs local[1] with one shuffle partition: see README.md, "Noise"
SPARK_CORES = 1
# a floor on the rounds of a run, so that a traced run always has an
# untraced round to compare with
MIN_ROUNDS = 3


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tables", default=DEFAULT_TABLES, help="directory of the input tables"
    )
    return ap.parse_args(argv)


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f}s] {msg}", flush=True)


def _steal_s() -> float:
    """Host CPU steal time since boot, all CPUs, in seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _reset_hwm(pid: int | str) -> bool:
    """Restart a process's peak-RSS (VmHWM) count from its current RSS."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        return False
    return True


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) of this process, ``root_pid`` and
    every live descendant of ``root_pid``."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        stats[int(entry)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    keep, frontier = {root_pid, os.getpid()}, [root_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    ticks = sum(stats[p][1] for p in keep if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT-compiler threads (kept alive for the
    whole run by -XX:-UseDynamicNumberOfCompilerThreads, so none of
    their time leaves with an exited thread)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        if "CompilerThre" in raw[raw.index("(") + 1 : raw.rindex(")")]:
            fields = raw[raw.rindex(")") + 2 :].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def _work_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the engine's processes (``_tree_cpu_s``) less the
    JIT compiler's."""
    return _tree_cpu_s(jvm_pid) - _jit_cpu_s(jvm_pid)


def _jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def _tree_size(path: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                continue
            files += 1
    return total, files


def _clear_new(path: str, keep: set[str]) -> tuple[int, int]:
    """Delete what appeared in ``path`` since ``keep`` was listed; return
    its (bytes, files)."""
    total = files = 0
    for name in os.listdir(path):
        if name in keep:
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            b, f = _tree_size(full)
            shutil.rmtree(full, ignore_errors=True)
        else:
            b, f = os.path.getsize(full), 1
            os.remove(full)
        total += b
        files += f
    return total, files


class OracleCheck:
    """Compares query outputs with their DuckDB oracle SQL, using the
    canonicalization of the repository's oracle tests."""

    def __init__(self, data_dir: str, tables: list[str], threads: int) -> None:
        import duckdb

        from tests.oracle_compare import assert_frames_match

        self._match = assert_frames_match
        self._con = duckdb.connect()
        # Spark is idle while an oracle runs, and the slowest oracle
        # (q_minhash_dedup, about 5 s on 2 threads) is most of the check
        self._con.execute(f"SET threads TO {threads}")
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def compare(self, name: str, spark_pdf, sql: str) -> None:
        self._match(spark_pdf, self._con.execute(sql).fetchdf(), name)

    def close(self) -> None:
        self._con.close()


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _spark_totals(spark, rounds: list[dict]) -> dict[str, float]:
    """Job and stage metrics of the traced rounds, from Spark's status
    store, summed over the rounds."""
    from tracer import union_s

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    out = dict.fromkeys(
        [
            "jobs",
            "stages",
            "tasks",
            "busy_s",
            "driver_gap_s",
            "executor_cpu_s",
            "gc_s",
            "shuffle_write_bytes",
            "spill_bytes",
        ],
        0.0,
    )
    for rnd in rounds:
        lo, hi = rnd["epoch"]
        spans = []
        for jid in range(*rnd["jobs"]):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append(
                    (max(lo, sub.get().getTime() / 1e3), min(hi, done.get().getTime() / 1e3))
                )
        busy = union_s(spans)
        out["jobs"] += rnd["jobs"][1] - rnd["jobs"][0]
        out["busy_s"] += busy
        out["driver_gap_s"] += rnd["wall"] - busy
        for sid in range(*rnd["stages"]):
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
            out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
            out["gc_s"] += stage.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return out


def _planning_s(df) -> float:
    """Optimizer plus physical-planning time of the query's plan, planned
    again outside the timed query (the noop write plans a copy that
    does not expose its tracker)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    ms = 0
    for phase in ("optimization", "planning"):
        got = phases.get(phase)
        if got.isDefined():
            ms += got.get().durationMs()
    return ms / 1e3


def run(args: argparse.Namespace, run_dir: str) -> dict:
    workload = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(tmp)
    # every temp file of the engine, Spark and the Python workers lands
    # under the run's directory, which is deleted when the run ends
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    # the launcher JVM would otherwise keep its perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp

    # a copy, so that nothing a query does can change the checked-in tables
    shutil.copytree(args.tables, data_dir)
    input_sizes = {
        n.removesuffix(".parquet"): os.path.getsize(os.path.join(data_dir, n))
        for n in os.listdir(data_dir)
        if n.endswith(".parquet")
    }

    import dask_cudf_spark  # noqa: F401  (the package, not yet its queries)

    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer()
        tracer.install()
    from dask_cudf_spark.registry import REGISTRY, ordered_specs
    from dask_cudf_spark.session import get_spark

    ordered_specs()  # imports the query modules
    specs = {n: REGISTRY[n] for n in workload.queries}

    steal0 = _steal_s()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            # C1 only, compiler threads that never exit: see README.md,
            # "Warm-up"
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    if tracer:
        tracer.bind(spark)
    try:
        return _measure(
            args, workload, spark, specs, tracer, data_dir, tmp,
            input_sizes, session_s, steal0, cpus,
        )
    finally:
        _stop_spark(spark)


def _measure(
    args, workload, spark, specs, tracer, data_dir, tmp,
    input_sizes, session_s, steal0, cpus,
) -> dict:
    rng = random.Random(args.seed)
    keep = set(os.listdir(tmp))
    attempted = failed = check_failed = 0
    names = list(workload.queries)
    sc = spark.sparkContext._jsc.sc()
    phase = tracer.query_phase if tracer else (lambda *_: contextlib.nullcontext())

    # -- set-up: the first pass, whose outputs are checked, then warm-up ---
    check = OracleCheck(data_dir, sorted(input_sizes), cpus)
    try:
        t_pass = 0.0
        cold = []
        for name in rng.sample(names, len(names)):
            attempted += 1
            t = time.perf_counter()
            try:
                pdf = specs[name].fn(spark, data_dir).toPandas()
                dt = time.perf_counter() - t
                cold.append(f"{name}={dt:.3f}")
                t_pass += dt
                check.compare(name, pdf, specs[name].oracle)
            except Exception as e:  # a wrong or failing query is a result
                failed += 1
                check_failed += 1
                _log(f"check FAIL {name}: {type(e).__name__}: {str(e)[:300]}")
        _log("checked pass " + " ".join(cold))
    finally:
        check.close()
    _clear_new(tmp, keep)
    warm = []
    for _ in range(workload.warmup):
        t = time.perf_counter()
        for name in rng.sample(names, len(names)):
            specs[name].fn(spark, data_dir).write.format("noop").mode("overwrite").save()
        warm.append(time.perf_counter() - t)
        _clear_new(tmp, keep)
    setup_s = session_s + t_pass + sum(warm)
    _log(
        f"set-up {setup_s:.3f}s: session {session_s:.3f}s, checked pass {t_pass:.3f}s, "
        "warm-up rounds " + " ".join(f"{t:.3f}s" for t in warm)
    )

    # -- timed rounds -------------------------------------------------------
    # peak RSS from here on: the rounds, not the oracle check or set-up
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss_reset = _reset_hwm(jvm_pid) and _reset_hwm("self")
    # the count of rounds does not depend on how fast they run, so every
    # run's medians come from the same rounds of the warm-up drift
    n_rounds = max(MIN_ROUNDS, round(args.seconds / workload.nominal_round_s))
    rounds: list[dict] = []
    request = 0
    while len(rounds) < n_rounds:
        # traced and untraced rounds alternate as T U U T T U ..., so a
        # steady drift of round times biases neither side
        traced = tracer is not None and len(rounds) % 4 in (0, 3)
        rnd = {"traced": traced, "queries": []}
        if traced:
            rnd["jobs"] = [tracer.job_counter()]
            rnd["stages"] = [sc.dagScheduler().nextStageId()]
            rnd["py4j"] = tracer.py4j_calls
            rnd["spans"] = len(tracer.spans)
            rnd["dfs"] = []
            tracer.enabled = True
        c0 = _tree_cpu_s(jvm_pid)
        e0, r0 = time.time(), time.perf_counter()
        rnd["qcpu"] = []
        for name in rng.sample(names, len(names)):
            request += 1
            attempted += 1
            qc0 = _work_cpu_s(jvm_pid)
            q0 = time.perf_counter()
            try:
                with phase("queries.build", request):
                    df = specs[name].fn(spark, data_dir)
                with phase("queries.exec", request):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                failed += 1
                _log(f"round FAIL {name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            rnd["queries"].append((name, time.perf_counter() - q0, request))
            rnd["qcpu"].append((name, _work_cpu_s(jvm_pid) - qc0))
            if traced:
                rnd["dfs"].append(df)
        rnd["wall"] = time.perf_counter() - r0
        rnd["cpu"] = _tree_cpu_s(jvm_pid) - c0
        if traced:
            tracer.enabled = False
            rnd["epoch"] = (e0, time.time())
            rnd["jobs"].append(tracer.job_counter())
            rnd["stages"].append(sc.dagScheduler().nextStageId())
            rnd["py4j"] = tracer.py4j_calls - rnd["py4j"]
            rnd["planning_s"] = sum(_planning_s(df) for df in rnd.pop("dfs"))
            rnd["read_bytes"] = sum(
                input_sizes.get(s.name.rsplit(":", 1)[-1], 0)
                for s in tracer.spans[rnd["spans"]:]
                if s.layer == "sources.load_table" and not s.nested
            )
        rnd["written"] = _clear_new(tmp, keep)
        rounds.append(rnd)
        _log(
            f"round {len(rounds)} {'traced' if traced else 'untraced'} "
            f"{rnd['wall']:.3f}s cpu {rnd['cpu']:.3f}s "
            + " ".join(f"{n}={s:.3f}" for n, s, _ in rnd["queries"])
        )

    # -- metrics --------------------------------------------------------------
    rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024
    if not rss_reset:
        _log("peak RSS could not be reset after set-up; it includes set-up")
    gc_ms = _jvm_gc_ms(spark)
    noise = {
        "steal_s": _steal_s() - steal0,
        "jvm_gc_ms": gc_ms,
        "cpus": cpus,
        "spark_cores": SPARK_CORES,
    }
    _log(f"noise {json.dumps(noise)}")
    _log(f"oracle check: {len(names)} queries, {check_failed} failed or wrong")

    # whole-run metrics come from the untraced rounds only
    plain = [r for r in rounds if not r["traced"]]
    qtimes = [s for r in plain for _, s, _ in r["queries"]]
    run_metrics = {
        "setup_s": (setup_s, "s"),
        "round_cpu_s": (_round_of_medians(r["qcpu"] for r in plain), "s"),
        "round_s": (_round_of_medians(r["queries"] for r in plain), "s"),
        "query_p50_s": (statistics.median(qtimes), "s"),
        "query_p90_s": (_p90(qtimes), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    _log(f"{len(plain)} untraced rounds, {len(qtimes)} timed queries")
    if tracer is None:
        metrics = {k: run_metrics[k] for k in END_TO_END}
    else:
        metrics = {k: v for k, v in run_metrics.items() if k not in END_TO_END}
        metrics.update(_layer_metrics(spark, tracer, rounds, session_s, attempted, failed))
        os.makedirs(os.path.join(".perfbench", "traces"), exist_ok=True)
        path = os.path.join(".perfbench", "traces", f"{args.workload}-{args.seed}.jsonl")
        names_by_request = {req: n for r in rounds for n, _, req in r["queries"]}
        tracer.dump(path, names_by_request)
        _log(f"spans written to {path}")
    for k, (v, unit) in metrics.items():
        _log(f"  {k:34s} {v:16.6f} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _round_of_medians(rounds) -> float:
    """A round with every query at its median over the rounds: the sum of
    the per-query medians.  A slow stretch of the host that covers part
    of a round moves one sample of one query, not the sum."""
    by_query: dict[str, list[float]] = {}
    for queries in rounds:
        for name, value, *_ in queries:
            by_query.setdefault(name, []).append(value)
    return sum(statistics.median(v) for v in by_query.values())


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def _layer_metrics(spark, tracer, rounds, session_s, attempted, failed) -> dict:
    traced = [r for r in rounds if r["traced"]]
    untraced = [r for r in rounds if not r["traced"]]
    n = len(traced)
    for r in traced:
        tracer.credit_jobs(*r["jobs"])
    layers = tracer.summary()
    m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    b, e = layers["queries.build"], layers["queries.exec"]
    m["queries.build_s"] = (b["s"] / n, "s")
    m["queries.build_jobs"] = (b["jobs"] / n, "count")
    m["queries.build_self_s"] = (b["self_s"] / n, "s")
    m["queries.exec_s"] = (e["s"] / n, "s")
    m["queries.exec_jobs"] = (e["jobs"] / n, "count")
    m["queries.fail_ratio"] = (failed / attempted, "ratio")
    for layer, row in layers.items():
        if layer.startswith("queries."):
            continue
        m[f"{layer}.calls"] = (row["calls"] / n, "count")
        m[f"{layer}.s"] = (row["s"] / n, "s")
        m[f"{layer}.self_s"] = (row["self_s"] / n, "s")
        m[f"{layer}.jobs"] = (row["jobs"] / n, "count")
    written = sum(r["written"][0] for r in traced)
    m["sources.bytes_written"] = (written / n, "bytes")
    m["sources.files_written"] = (sum(r["written"][1] for r in traced) / n, "count")
    read = sum(r["read_bytes"] for r in traced)
    m["sources.write_amp"] = (written / read if read else 0.0, "ratio")
    for k, v in _spark_totals(spark, traced).items():
        unit = "bytes" if k.endswith("_bytes") else ("s" if k.endswith("_s") else "count")
        m[f"spark.{k}"] = (v / n, unit)
    m["spark.planning_s"] = (sum(r["planning_s"] for r in traced) / n, "s")
    m["py4j.calls"] = (sum(r["py4j"] for r in traced) / n, "count")
    t_med = statistics.median(r["wall"] for r in traced)
    u_med = statistics.median(r["wall"] for r in untraced)
    m["trace.overhead_ratio"] = (t_med / u_med - 1.0, "ratio")
    return m


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dask_cudf_spark", "__init__.py")):
        print(
            "perfbench: dask_cudf_spark/ not found; run from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
