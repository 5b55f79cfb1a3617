"""The benchmark's workloads: which registered queries one round runs,
and why each set was chosen.

A round runs every query of the workload once, in an order shuffled by
the run's seed; one client runs rounds back to back (closed loop).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: list[str]
    # untimed rounds after the checked pass, counted in setup_s (README.md,
    # "Warm-up")
    warmup: int
    # nominal seconds per timed round (README.md, "Warm-up"); a run makes
    # --seconds / nominal_round_s rounds, however fast they go
    nominal_round_s: float
    why: str


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "analytics",
            [
                "q_groupby_sum",
                "q_tpch_q5_shape",
                "q_topk",
                "q_qcut",
                "q_rank_global",
                "q_minhash_dedup",
                "q_cosine_sim",
            ],
            warmup=0,
            nominal_round_s=6.0,
            why="read-only: table loads, planning, shuffles, ranking, dedup and similarity operators",
        ),
        Workload(
            "lakehouse",
            ["q_matview_cdc", "q_join_bucketed"],
            warmup=2,
            nominal_round_s=4.0,
            why="the write path: txlog commits, merges and view refreshes before each action",
        ),
    ]
}
