"""Per-round benchmark (BASELINE.md protocol): headline queries at
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per query: full execution forced via df.count() (no driver-collect
skew), two per-query warm-up runs (the Python-worker/Arrow + C2-JIT
paths only reach steady state on the third execution — measured on
q_minhash_dedup: 18.6 -> 6.3 -> 2.5 -> 2.1 s), then MIN of BENCH_RUNS
timed runs.  Min, not median: this host shows hypervisor steal-time
spikes (measured ~6% mean, bursty), which inflate arbitrary runs by
seconds; the minimum is the standard noise-robust estimator of a
query's intrinsic cost under external interference.

Noise attribution (round-3 VERDICT item 2): every sample — warm-ups
included — carries its wall time, the /proc/stat steal-tick delta over
the sample, and `plans.plan_digest` of the POST-EXECUTION physical plan
tree (AQE final; node names and descriptions, digits stripped).  A slow
sample with high steal_ms is hypervisor noise; a slow sample whose plan
digest differs from the fast samples' is a real replan (e.g. broadcast
-> SMJ fallback).  The stdout JSON stays one COMPACT line ("queries" keeps
its historical shape); per-sample diagnostics go to the BENCH_DIAG.json
sidecar (round-4 regression fix: the inline "samples" blob outgrew the
driver's tail capture and BENCH_r04 parsed null).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dask_cudf_spark.plans import plan_digest, plan_nodes
from dask_cudf_spark.registry import all_queries
from dask_cudf_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_RUNS", "3"))


def _steal_ticks() -> int:
    """Cumulative hypervisor steal ticks from /proc/stat (field 8 of the
    aggregate cpu line); 0 where unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) if parts and parts[0] == "cpu" else 0
    except (OSError, IndexError, ValueError):
        return 0


# Headline set: one per heavy operator family (SURVEY.md §6).
HEADLINE = [
    "q_groupby_sum",        # scan+filter+multi-agg (flagship, TPC-H Q1 shape)
    "q_groupby_nunique",    # distinct aggregation (expand + 2-phase)
    "q_join_inner",         # star join fact⋈fact⋈dim + agg
    "q_tpch_q5_shape",      # six-way join, broadcast dim chain
    "q_join_broadcast",     # broadcast dim joins
    "q_join_asof",          # custom as-of operator (union + window)
    "q_sort_global",        # range-partitioned global sort
    "q_topk",               # TakeOrderedAndProject
    "q_window_rolling",     # windowed rolling aggregates
    "q_stream_session",     # session windows (stateful shape)
    "q_resample",           # time-bucket aggregation
    "q_hash_exact_dedup",   # content-hash dedup
    "q_minhash_dedup",      # minhash LSH fuzzy dedup (end-to-end)
    "q_cosine_sim",         # brute-force ANN top-k
    "q_text_stats",         # text analytics rollup
]

# Round-4 second-wave flagships: timed with the same interleaved
# protocol and reported in "extra_queries", but NOT in the headline
# total (keeps "value" comparable across rounds / BASELINE anchors).
EXTRA = [
    "q_ann_pq",                  # product-quantization ADC search
    "q_kmeans_step",             # exact distributed Lloyd iteration
    "q_semdedup",                # SemDeDup codebook-cell sweep
    "q_bm25_topk",               # integer-exact BM25 retrieval
    "q_nearest_centroid_classify",  # in-engine train+eval classifier
    "q_pagerank_items",          # iterated graph centrality (r5)
    "q_bloom_decontaminate",     # fixed-bitset decontamination (r5)
    "q_tpch_q21",                # single-partitioning rewrite (r5)
    "q_ppjoin_neardup",          # exact prefix-filtered similarity join (r5)
    "q_qcut",                    # distributed exact NTILE over the fact table (r7)
    "q_rank_global",             # distributed tie-aware global rank (r7)
    "q_matview_incremental",     # txlog matview maintenance loop (r7)
    "q_join_bucketed",           # zero-exchange co-located bucketed join (r7)
    "q_multimodal_mjpeg",        # MJPEG-in-AVI frame decode (r7)
    "q_txlog_change_feed",       # churn-proportional CDC snapshot diff (r7b)
    "q_matview_cdc",             # view maintenance THROUGH a merge (r7b)
    "q_bigram_lm_score",         # bigram-LM fluency filter (r11)
    "q_embedding_audit",         # vector-column ingest gate (r11)
]

# Frozen per-query anchors for the EXTRA set (r6 VERDICT item 8): the
# headline gates against the r2 anchor table in BASELINE.md, but extras
# had nothing to gate against, so drifts (pagerank r5->r6 +23%) were
# only caught by judge eyeballing.  Values are the driver-recorded
# BENCH_r06 extras at sf0.1/local[32]; a run where min-of-RUNS exceeds
# anchor * 1.4 is flagged in the BENCH_DIAG sidecar ("regressions").
#
# ANCHOR FREEZE POLICY (r16, r15 VERDICT item 6 — written down so
# re-freezes stop being ad-hoc): an anchor may be (re)frozen ONLY from
# a QUIET run, defined as one whose BENCH_DIAG shows (a) the query's
# min sample with steal_ms == 0, (b) no plan_flips entry for it, and
# (c) run-wide steal_ms_total under ~5000 ms (the r15 driver run
# carried >30 s of measured steal and flagged 8 untouched queries —
# anchors taken there would bake the noise in).  Each regression flag
# now carries the flagged min-sample's own steal_ms so a reader can
# tell "slow code" from "stolen host" without excavating samples.
EXTRA_ANCHORS = {
    "q_ann_pq": 1.0383,
    "q_kmeans_step": 1.1795,
    "q_semdedup": 1.4238,
    "q_bm25_topk": 0.5608,
    "q_nearest_centroid_classify": 1.2235,
    # re-frozen r10 from the driver's BENCH_r09 quiet run (1.6885; the
    # r9 limit-then-rank fix is a permanent plan improvement — a
    # regression back to the catalog-wide window must flag)
    "q_pagerank_items": 1.6885,
    "q_bloom_decontaminate": 1.3757,
    "q_tpch_q21": 0.9426,
    # re-frozen r12 from that round's quiet protocol run (steal=0
    # samples, ONE plan digest): the old r6 anchor 1.6344 predated the
    # digest-artifact bisect (BASELINE.md round 12) — readings 1.30-1.94
    # across r10-r12 all executed the IDENTICAL plan; the anchor_creep
    # ratchet now catches sub-1.4x drift the frozen gate would hide
    "q_ppjoin_neardup": 1.8375,
    # r7 additions, frozen from the round-7 local protocol run
    # (min of 3, sf0.1/local[32], quiet machine)
    "q_matview_incremental": 2.0934,
    "q_join_bucketed": 1.1057,
    "q_multimodal_mjpeg": 0.378,
    # r10 additions: these two joined EXTRA in r7 but never had anchors
    # (drifts were invisible to the BENCH_DIAG flag); frozen from the
    # driver's BENCH_r09 quiet run
    "q_qcut": 0.8909,
    "q_rank_global": 0.2119,
    # r7b pair RE-FROZEN in r10 (r9 VERDICT item 6) from the driver's
    # BENCH_r09 quiet run (1.8488 / 2.3944) — the old same-day anchors
    # (2.1003 / 2.9324) were taken under measured host steal and sat
    # ABOVE every subsequent reading, making the 1.4x flag ~2x loose
    "q_txlog_change_feed": 1.8488,
    "q_matview_cdc": 2.3944,
    # r11 addition, frozen from the round-11 quiet protocol run
    # (min of RUNS, sf0.1/local[32], headline 5.6801 s — BASELINE.md)
    "q_embedding_audit": 0.1512,
    # RE-FROZEN r13: the O(len^2) HOF fix (BASELINE.md round 13) is a
    # permanent plan/expression improvement — the old 3.2635 anchor
    # would hide a 2.7x regression back to the per-element re-split.
    # Value from the r13 protocol run (ONE digest across all samples,
    # low-steal readings 1.19-1.26 s).
    "q_bigram_lm_score": 1.2575,
}


def _gc_millis(spark) -> int:
    """Cumulative JVM GC time (ms) across all collectors, via the
    in-process management beans (local mode: driver JVM == executor
    JVM, so this covers task-side GC too).  Per-sample deltas separate
    'slow because collecting garbage' from hypervisor steal and
    replans in the BENCH_DIAG sidecar (r6 VERDICT item 5: ppjoin/q21
    samples showed 5x spreads with steal_ms~0 and identical plans)."""
    try:
        beans = (
            spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return sum(
            max(0, beans.get(i).getCollectionTime())
            for i in range(beans.size())
        )
    except Exception:
        return 0


def main() -> None:
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    # keep stdout clean: the one JSON line must not share the stream
    # with Spark's console progress bar
    spark = get_spark(
        app_name="bench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # widen the per-value metadata abbreviation (default 100
            # chars) so FileScan PushedFilters usually survive whole —
            # the digest keeps them now (r12 ADVICE item 3) and the
            # truncated-token fallback should be the rare path
            "spark.sql.maxMetadataStringLength": "2048",
        },
    )
    # ERROR with ONE message filtered (r9 ADVICE item 4; replaces the
    # r8 blanket FATAL): local-mode teardown has a known benign race —
    # tasks of a query that localCheckpoint()s (matview/CDC paths)
    # can report accumulator updates after the ContextCleaner already
    # dropped the accumulator, logging "DAGScheduler: Failed to update
    # accumulator N ... non-existent accumulator" at ERROR level into
    # the committed bench artifact's stderr tail (r8 VERDICT item 9).
    # rc and all timings are unaffected, so ONLY that message is denied
    # via a log4j2 StringMatchFilter on the root logger; every other
    # ERROR (real executor/task failures) still reaches the artifact.
    spark.sparkContext.setLogLevel("ERROR")
    try:
        jvm = spark._jvm
        result = jvm.org.apache.logging.log4j.core.Filter.Result
        flt = (
            jvm.org.apache.logging.log4j.core.filter.StringMatchFilter
            .newBuilder()
            .setMatchString("Failed to update accumulator")
            .setOnMatch(result.DENY)
            .setOnMismatch(result.NEUTRAL)
            .build()
        )
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        ctx.getConfiguration().getRootLogger().addFilter(flt)
        ctx.updateLoggers()
    except Exception:
        # log4j internals moved: fall back to the old blanket FATAL
        # rather than let the benign race dirty the committed artifact.
        # Announce it on stderr (r10 ADVICE item 4) so a quiet stderr
        # tail is distinguishable from a filtered one — under FATAL,
        # real executor ERRORs are hidden from the artifact.
        import sys as _sys

        print(
            "bench: log4j StringMatchFilter unavailable; falling back "
            "to blanket FATAL log level (real ERRORs suppressed)",
            file=_sys.stderr,
        )
        spark.sparkContext.setLogLevel("FATAL")
    queries = all_queries()

    # Warm up JVM / parquet footers once (excluded from timing).
    queries["q_groupby_sum"](spark, SF_DIR).count()

    # Interleaved rounds (BASELINE.md protocol): the host's steal-time
    # bursts last minutes, so back-to-back samples of one query can ALL
    # land inside a burst.  Round-robin over the whole headline list
    # spreads each query's RUNS samples across the full bench duration;
    # min per query then rejects any burst that didn't cover every
    # round.  Rounds 0-1 are per-query warm-up (JIT/codegen,
    # Python-worker spawn, C2 tiered compile) and are discarded.
    clk_tck = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
    timed = HEADLINE + EXTRA
    times: dict[str, list[float]] = {name: [] for name in timed}
    samples: dict[str, list[dict]] = {name: [] for name in timed}
    from pyspark.sql import functions as F

    for rnd in range(RUNS + 2):
        for name in timed:
            s0 = _steal_ticks()
            g0 = _gc_millis(spark)
            t0 = time.perf_counter()
            # full execution forced via a one-row count AGGREGATE built
            # ON the query frame and collect()ed: unlike Dataset.count()
            # (which runs its own separate QueryExecution), this df's
            # queryExecution IS the one executed, so the plan digest
            # below reflects the AQE-FINAL executed plan — a broadcast
            # -> SMJ replan is actually visible (round-4 review fix)
            df = queries[name](spark, SF_DIR).agg(
                F.count(F.lit(1)).alias("n")
            )
            df.collect()
            sec = time.perf_counter() - t0
            samples[name].append(
                {
                    "sec": round(sec, 4),
                    "steal_ms": round((_steal_ticks() - s0) * 1000 / clk_tck),
                    "gc_ms": _gc_millis(spark) - g0,
                    "plan": plan_digest(plan_nodes(df)),
                    "warmup": rnd <= 1,
                }
            )
            if rnd > 1:
                times[name].append(sec)
    per_query = {n: round(min(times[n]), 4) for n in HEADLINE}
    extra = {n: round(min(times[n]), 4) for n in EXTRA}

    total = round(sum(per_query.values()), 4)
    # Per-sample diagnostics (wall time + steal ticks + plan digest per
    # sample) go to a SIDECAR file, never stdout: round 4 proved that
    # embedding "samples" in the stdout line grows it past the driver's
    # tail capture and the truncated JSON parses as null (VERDICT r4 §1).
    diag_path = os.environ.get("BENCH_DIAG_PATH", "BENCH_DIAG.json")
    # anchors are sf0.1/local[32] measurements: only meaningful there
    def _min_sample_steal(name: str) -> int:
        """steal_ms of the non-warmup sample that produced the min —
        the noise context of the exact reading a regression flag is
        built from (anchor freeze policy above)."""
        ss = [s for s in samples.get(name, []) if not s["warmup"]]
        return min(ss, key=lambda s: s["sec"])["steal_ms"] if ss else -1

    regressions = (
        {
            n: {
                "sec": extra[n],
                "anchor": a,
                "ratio": round(extra[n] / a, 2),
                "min_sample_steal_ms": _min_sample_steal(n),
            }
            for n, a in EXTRA_ANCHORS.items()
            if n in extra and extra[n] > a * 1.4
        }
        if sf == 0.1
        else {}
    )
    # Plan-flip detector (r11 VERDICT item 7): a query whose NON-WARMUP
    # samples executed under >1 distinct plan digest had a real AQE
    # replan mid-bench — the min-of-RUNS then compares apples to
    # oranges and the anchor policy can't see it.  Recorded per query
    # so a flip is visible in the artifact without judge eyeballing.
    plan_flips = {}
    for name, ss in samples.items():
        digests = sorted({s["plan"] for s in ss if not s["warmup"]})
        if len(digests) > 1:
            plan_flips[name] = digests
    # Warmup-replan visibility (r12 VERDICT item 2 / next-round item 5):
    # plan_flips correctly IGNORES warmup samples for gating, but that
    # hid q_minhash_dedup's real first-run-vs-steady digest change in
    # r12.  Record warmup digests that never appear in the steady set as
    # a separate INFORMATIONAL key — an AQE first-run replan (stats only
    # materialize after the first exchange) is expected and harmless,
    # but it should be visible in the artifact, not judge-excavated.
    warmup_replans = {}
    for name, ss in samples.items():
        steady = {s["plan"] for s in ss if not s["warmup"]}
        stray = sorted(
            {s["plan"] for s in ss if s["warmup"]} - steady
        )
        if stray and steady:
            warmup_replans[name] = {
                "warmup_only": stray,
                "steady": sorted(steady),
            }
    # Anchor-creep ratchet (r11 VERDICT item 3): the 1.4x flag let
    # ppjoin drift 1.30 -> 1.63 -> 1.94 invisibly.  An extra that reads
    # ABOVE its anchor this run AND read above it in the latest
    # committed driver artifact gets flagged even under 1.4x.
    creep = {}
    if sf == 0.1:
        try:
            import glob as _glob

            prior_files = sorted(_glob.glob("BENCH_r*.json"))
            prior = (
                json.load(open(prior_files[-1])).get("extra_queries", {})
                if prior_files
                else {}
            )
        except (OSError, ValueError):
            prior = {}
        for n, a in EXTRA_ANCHORS.items():
            if (
                n in extra
                and n not in regressions
                and extra[n] > a
                and prior.get(n, 0) > a
            ):
                creep[n] = {
                    "sec": extra[n],
                    "prev": prior[n],
                    "anchor": a,
                    "ratio": round(extra[n] / a, 2),
                }
    try:
        with open(diag_path, "w") as f:
            json.dump(
                {
                    "samples": samples,
                    "regressions": regressions,
                    "plan_flips": plan_flips,
                    "warmup_replans": warmup_replans,
                    "anchor_creep": creep,
                    "host": {"clk_tck": clk_tck, "cpus": os.cpu_count()},
                },
                f,
            )
    except OSError as e:
        print(f"bench: diag sidecar write failed: {e}", file=sys.stderr)
    # The FINAL stdout line is the compact headline object only.
    # "cpus" and "steal_ms_total" are ADDITIONS (r15 VERDICT item 2):
    # the one-line JSON previously carried no core count and no noise
    # signal, so the driver could not distinguish "core knob ignored"
    # from "overhead-dominated SF measured under hypervisor steal".
    # value/queries/extra_queries keep their historical shape so every
    # anchor comparison stays valid.  steal_ms_total sums the
    # /proc/stat steal-tick deltas over ALL samples (warm-ups
    # included) — the bench-wide external-interference budget; a run
    # with a large value is noise-inflated and its regressions suspect.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_min_sec",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "extra_queries": extra,
                "sf": sf,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                "steal_ms_total": sum(
                    s["steal_ms"] for ss in samples.values() for s in ss
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
