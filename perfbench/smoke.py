"""Self-test of the benchmark, on the small tables (``data/sf0.001``).

    python3 perfbench/smoke.py

Run from the repository root.  For each workload of BENCHMARK.json it
makes one untraced and two traced runs with the same seed, each of the
fewest rounds a run makes, and checks that:

- every run's outputs matched their oracles and no query failed;
- each run printed exactly the metrics BENCHMARK.json names for its
  mode, each with the declared unit;
- the counts ``queries.build_jobs``, ``sources.load_table.jobs`` and
  ``sources.bytes_written`` are identical in the two traced runs.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import subprocess
import sys

EXACT = ["queries.build_jobs", "sources.load_table.jobs", "sources.bytes_written"]


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", "5",
            "--seconds", "0",
            "--trace", str(trace),
            "--tables", "perfbench/data/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, declared: list[dict], label: str) -> list[str]:
    errors = []
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    if set(got) != set(want):
        errors.append(f"{label}: metrics differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        if name in got and got[name]["unit"] != unit:
            errors.append(f"{label}: {name} unit {got[name]['unit']!r} != {unit!r}")
    if not result["correct"] or result["failed"]:
        errors.append(f"{label}: correct={result['correct']} failed={result['failed']}")
    return errors


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    errors: list[str] = []
    for w in spec["workloads"]:
        name = w["name"]
        plain = _run(name, 0)
        errors += _check_metrics(plain, spec["end_to_end"], f"{name} untraced")
        traced = [_run(name, 1), _run(name, 1)]
        for i, t in enumerate(traced):
            errors += _check_metrics(t, spec["per_layer"], f"{name} traced #{i + 1}")
        for key in EXACT:
            a, b = (t["metrics"].get(key, {}).get("value") for t in traced)
            if a != b:
                errors.append(f"{name}: {key} differs between traced runs: {a} vs {b}")
        print(f"smoke: {name} done", flush=True)
    for e in errors:
        print(f"smoke: FAIL {e}")
    print("smoke: OK" if not errors else f"smoke: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
