"""Capture `.explain("formatted")` for the bench set (HEADLINE + EXTRA)
into plans/<round>/<query>_<tag>.txt, plus the one-line plan summary
(`PlanAudit.summary()`: shuffles, broadcast exchanges, join strategies,
Python-boundary nodes, top-k) on stdout.

Usage:
    python scripts/capture_plans.py before [--sf-dir DIR] [--round rNN]
                                    [name_substr ...]
    python scripts/capture_plans.py after  [--sf-dir DIR] [--round rNN]
                                    [name_substr ...]

The plan is the pre-execution physical plan (AQE initial); plan claims
are checked against these files.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA, HEADLINE  # noqa: E402
from dask_cudf_spark.plans import audit  # noqa: E402
from dask_cudf_spark.registry import all_queries  # noqa: E402
from dask_cudf_spark.session import get_spark  # noqa: E402


def main() -> None:
    # argparse instead of the old '/'-presence heuristic (r15 ADVICE
    # item 4): a pattern containing '/' was silently misread as sf_dir
    # and a relative sf_dir as a pattern — explicit flags cannot.
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--round", default="r16", dest="round_dir")
    ap.add_argument("patterns", nargs="*", help="query-name substrings")
    args = ap.parse_args()
    tag, sf_dir, pats = args.tag, args.sf_dir, args.patterns
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round_dir,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    if pats:
        # patterns select from the WHOLE registry (bench set first)
        bench = [n for n in HEADLINE + EXTRA if any(p in n for p in pats)]
        rest = [
            n for n in sorted(qs)
            if n not in bench and any(p in n for p in pats)
        ]
        names = bench + rest
    else:
        names = list(HEADLINE + EXTRA)
    for name in names:
        try:
            a = audit(qs[name](spark, sf_dir))
        except Exception as e:  # pragma: no cover - diagnostic path
            print(f"{name}: ERROR {e}")
            continue
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(a.text)
        print(f"{name}: {a.summary()}")
    spark.stop()


if __name__ == "__main__":
    main()
