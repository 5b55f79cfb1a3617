"""Generate COVERAGE.md: the registered-query inventory grouped by
operator family, with oracle status, the first docstring line, and a
physical-plan digest per query (join strategies / shuffle count /
Python boundaries) so plan regressions show up in COVERAGE.md diffs.

Run after adding queries:  python scripts/gen_coverage.py
(use --no-plans to skip the Spark session + plan digests)
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dask_cudf_spark.registry import REGISTRY, _ensure_loaded

PLAN_SF_DIR = "/root/testdata/sf0.001"


def _plan_digest(spec, spark) -> str:
    """``PlanAudit.summary()`` of the query's plan.  Deterministic for a
    fixed Spark version, so a changed digest in a COVERAGE.md diff means
    the plan changed."""
    from dask_cudf_spark.plans.audit import audit

    try:
        return audit(spec.fn(spark, PLAN_SF_DIR)).summary()
    except Exception as e:  # pragma: no cover - surfaced in the doc
        return f"plan-error: {type(e).__name__}"

_FAMILY_SURVEY = {
    "scan": "§2.1 scans/sources/sinks",
    "projection": "§2.2 projections/filters",
    "filter": "§2.2 projections/filters",
    "join": "§2.3 joins",
    "aggregate": "§2.4 aggregations",
    "window": "§2.5 window/rolling/cumulative",
    "sort": "§2.6 sorts/limits/top-k",
    "setops": "§2.7 set operations",
    "scalar": "§2.8 scalar functions",
    "semistructured": "§2.8 list/struct/json",
    "streaming": "§2.9 streaming",
    "udf": "§2.10 UDF/UDAF/UDTF",
    "partitioning": "§2.11 partitioning/skew",
    "text": "§2.8 nvtext / §2.12 text analysis",
    "dedup": "§2.12 deduplication",
    "similarity": "§2.12 similarity search",
    "multimodal": "§2.12 multimodal columns",
}


def main() -> None:
    _ensure_loaded()
    fams: dict[str, list] = defaultdict(list)
    for spec in REGISTRY.values():
        fams[spec.family].append(spec)

    spark = None
    if "--no-plans" not in sys.argv:
        from dask_cudf_spark.session import get_spark

        spark = get_spark(app_name="gen-coverage")
        spark.sparkContext.setLogLevel("ERROR")

    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle)
    lines = [
        "# COVERAGE — registered queries vs SURVEY.md §2 inventory",
        "",
        "Generated by `scripts/gen_coverage.py`; regenerate after adding",
        "queries.  Every row is a `queries()` entry in `__spark_entry__.py`;",
        "`oracle` = checked against DuckDB SQL by the driver (row count +",
        "schema + order-insensitive value hash at sf0.01), `rows-only` =",
        "non-SQL-expressible op (Spark-specific hash / approximate /",
        "heuristic), weaker driver check, noted per SURVEY.md §5.3.",
        "",
        "`plan` is the physical-plan digest at sf0.001: `sh` = data-moving",
        "shuffles, `bx` = broadcast exchanges, join strategies (BHJ/SMJ/",
        "SHJ/BNLJ/CART), `py:` = Python-boundary nodes (Arrow-batched),",
        "`topk` = TakeOrderedAndProject.  A changed digest in a diff means",
        "the plan changed — review it.",
        "",
        f"**{len(REGISTRY)} queries; {n_oracle} oracle-checked, "
        f"{len(REGISTRY) - n_oracle} rows-only.**",
        "",
        "## New-query checklist (steady-state, r13 — r12 VERDICT item 7)",
        "",
        "Every new query lands with ALL of these in the round it lands:",
        "1. an `oracle=` DuckDB twin (rows-only needs a SURVEY §5.3 note);",
        "2. a rotation pair in `registry._ROTATIONS` + `_PINNED_WINDOW`",
        "   update + a driver-style replay of the new first-50",
        "   (`scripts/driver_replay.py /root/testdata/sf0.01 --window`);",
        "3. its HOSTILE corpus leg: `scripts/corpus_fuzz.py` with the axis",
        "   matching every table its oracle reads — documents/embeddings",
        "   (default), EVENTS=1, RELATIONAL=1, DIMS=1, GEO=1 — on a FRESH",
        "   seed range, recorded in the round's FUZZ artifact.  The ~26",
        "   divergence classes to date were all caught by these legs, not",
        "   the clean-testdata gate;",
        "4. an x100 scale-probe row (scripts/scale_probe.py PROBES) or a",
        "   one-line reason in BASELINE.md's coverage ledger",
        "   (scan-bound / map-only / family:<probed query> / out-bounded);",
        "5. `scripts/gen_coverage.py` re-run (this file).",
        "",
    ]
    for fam in sorted(fams):
        survey = _FAMILY_SURVEY.get(fam, "")
        lines.append(f"## {fam} — {survey} ({len(fams[fam])} queries)")
        lines.append("")
        lines.append("| query | check | plan | summary |")
        lines.append("|---|---|---|---|")
        for spec in sorted(fams[fam], key=lambda s: s.name):
            head = spec.doc.split("\n")[0].strip().rstrip(".") if spec.doc else ""
            check = "oracle" if spec.oracle else "rows-only"
            plan = _plan_digest(spec, spark) if spark else "-"
            lines.append(f"| `{spec.name}` | {check} | {plan} | {head} |")
        lines.append("")

    lines.extend(_fuzz_ledger())
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(REGISTRY)} queries in {len(fams)} families")


def _fuzz_ledger() -> list[str]:
    """Seed-range ledger aggregated from the committed FUZZ_r*.json
    artifacts (r9 VERDICT item 9): one row per recorded leg so
    round-over-round differential-fuzz coverage is diffable in one
    place.  Legs keyed by (round, grammar, seed range, data, hostile)."""
    import glob
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows: list[tuple] = []
    total = matched = 0
    for path in sorted(glob.glob(os.path.join(root, "FUZZ_r*.json"))):
        art = json.load(open(path))
        rnd = art.get("round", "?")
        for key in sorted(k for k in art if k.endswith("legs") or k == "closing_leg"):
            legs = art[key] if isinstance(art[key], list) else [art[key]]
            for leg in legs:
                if not leg.get("seeds"):
                    continue  # placeholders
                # r10 ADVICE item 2: a crashed/partial run may record a
                # leg without start_seed/matches — emit a visible
                # placeholder row instead of dying with KeyError so one
                # malformed artifact can't break COVERAGE.md regen
                start = leg.get("start_seed")
                matches = leg.get("matches")
                seed_range = (
                    f"{start}-{start + leg['seeds'] - 1}"
                    if start is not None
                    else "?(partial)"
                )
                # corpus legs replay MANY queries per seed: the unit
                # that pairs with `matches` is `executions` there, not
                # `seeds` (a seeds-vs-matches subtraction would go
                # negative) — use executions when recorded
                attempts = leg.get("executions", leg["seeds"])
                rows.append((
                    rnd,
                    leg.get("grammar", "relational"),
                    seed_range,
                    attempts,
                    matches if matches is not None else "?(partial)",
                    leg.get("sf_dir", ""),
                    leg.get("hostile", "") or "-",
                ))
                total += attempts
                matched += matches if isinstance(matches, int) else 0
    out = [
        "## Differential-fuzz seed-range ledger",
        "",
        "Aggregated from the committed `FUZZ_r*.json` artifacts (plus",
        "~48k pre-artifact executions through round 7b recorded in",
        "SURVEY.md §5); regenerate with `scripts/gen_coverage.py`.",
        "",
        "| round | grammar | seed range | runs | matches | data | hostile |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(str(c) for c in r) + " |")
    out.append("")
    out.append(
        f"**Artifact-recorded total: {total} runs, {matched} matches, "
        f"{total - matched} divergences.**"
    )
    out.append("")
    return out


if __name__ == "__main__":
    main()
