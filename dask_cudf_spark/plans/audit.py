"""Physical-plan audit: the 100TB-scale invariants as checkable facts.

The reference exposes its plan as a dask expression tree; Spark's
equivalent is the executed physical plan.  ``plan_nodes`` walks that
tree the way Spark's SQL UI does (``SparkPlanInfo``): through the
adaptive plan's current plan (initial before execution, final after),
query stages, reused exchanges, cached relations and subqueries.
Everything else here reads node names and scan metadata from that walk
— ``audit`` counts operators, ``single_partition_window_feeds`` follows
window inputs, ``plan_digest`` fingerprints a plan — so engine code and
tests assert the properties that matter at scale (pushdown reached the
scan, small dims broadcast, nothing fell out into Python, no accidental
cartesian) without parsing explain text.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

#: (depth, nodeName, simpleString, metadata) — one pre-order plan node;
#: ``metadata`` is non-empty only for file scans, where it holds the
#: unabbreviated PushedFilters / PartitionFilters / ReadSchema / ... map
PlanNode = tuple[int, str, str, dict[str, str]]


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan as a string (what ``df.explain(mode)`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def plan_nodes(df: DataFrame) -> list[PlanNode]:
    """Pre-order records of ``df``'s executed physical plan."""
    jvm = df._sc._jvm
    to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    root = jvm.org.apache.spark.sql.execution.SparkPlanInfo.fromSparkPlan(
        df._jdf.queryExecution().executedPlan()
    )
    nodes: list[PlanNode] = []
    stack = [(0, root)]
    while stack:
        depth, info = stack.pop()
        meta = info.metadata()
        nodes.append((
            depth,
            info.nodeName(),
            info.simpleString(),
            {} if meta.isEmpty() else dict(to_java(meta)),
        ))
        kids = info.children()
        stack.extend((depth + 1, kids.apply(i)) for i in reversed(range(kids.size())))
    return nodes


def descendants(nodes: list[PlanNode], i: int) -> list[PlanNode]:
    """The subtree below ``nodes[i]``, in pre-order."""
    end = i + 1
    while end < len(nodes) and nodes[end][0] > nodes[i][0]:
        end += 1
    return nodes[i + 1 : end]


def plan_digest(nodes: list[PlanNode]) -> str:
    """8-hex structural digest of a ``plan_nodes`` list: tree shape,
    node names and descriptions with every digit stripped (expression
    ids, plan ids, stage ids, estimates), so two runs of one plan digest
    alike while a broadcast -> SMJ fallback or an AQE replan does not.
    A scan contributes its name, ReadSchema and PushedFilters instead of
    its description, which Spark cuts at
    ``spark.sql.maxMetadataStringLength`` at a point that moves with the
    width of the run's expression ids."""
    h = hashlib.md5()
    for depth, name, desc, meta in nodes:
        if meta:
            desc = f"{meta.get('ReadSchema')} {meta.get('PushedFilters')}"
        h.update(re.sub(r"\d+", "", f"{' ' * depth}{name} {desc}\n").encode())
    return h.hexdigest()[:8]


_PYTHON_NODES = {
    "BatchEvalPython": "udf",
    "ArrowEvalPython": "arrow-udf",
    "FlatMapGroupsInPandas": "grouped-pd",
    "MapInPandas": "map-pd",
    "MapInArrow": "map-arrow",
    "AggregateInPandas": "agg-pd",
}


@dataclass
class PlanAudit:
    nodes: list[PlanNode] = field(default_factory=list)
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    #: data-moving exchanges (broadcast exchanges excluded)
    n_shuffles: int = 0
    n_broadcast_exchanges: int = 0
    n_broadcast_hash_joins: int = 0
    n_sort_merge_joins: int = 0
    n_shuffled_hash_joins: int = 0
    n_nested_loop_joins: int = 0
    n_cartesian: int = 0
    n_hash_aggregates: int = 0
    python_nodes: list[str] = field(default_factory=list)
    has_take_ordered: bool = False
    #: the formatted explain, for humans reading an assertion message
    text: str = ""

    def summary(self) -> str:
        """One-line plan fingerprint: shuffle/broadcast-exchange counts,
        join strategies, Python boundaries, top-k."""
        joins = [
            f"{tag}x{n}"
            for n, tag in [
                (self.n_broadcast_hash_joins, "BHJ"),
                (self.n_sort_merge_joins, "SMJ"),
                (self.n_shuffled_hash_joins, "SHJ"),
                (self.n_nested_loop_joins, "BNLJ"),
                (self.n_cartesian, "CART"),
            ]
            if n
        ]
        parts = [f"sh={self.n_shuffles}", f"bx={self.n_broadcast_exchanges}"]
        if joins:
            parts.append("+".join(joins))
        if self.python_nodes:
            parts.append(
                "py:" + ",".join(_PYTHON_NODES[n] for n in self.python_nodes)
            )
        if self.has_take_ordered:
            parts.append("topk")
        return " ".join(parts)


def audit(df: DataFrame) -> PlanAudit:
    nodes = plan_nodes(df)
    names = [name for _, name, _, _ in nodes]
    scans = [meta for _, _, _, meta in nodes if meta]

    def count(kind: str) -> int:
        # substring: "SortMergeJoin(skew=true)", "ObjectHashAggregate"
        return sum(kind in name for name in names)

    return PlanAudit(
        nodes=nodes,
        pushed_filters=[
            m["PushedFilters"][1:-1]
            for m in scans
            if m.get("PushedFilters", "[]") != "[]"
        ],
        read_schemas=[m["ReadSchema"] for m in scans if "ReadSchema" in m],
        n_shuffles=names.count("Exchange"),
        n_broadcast_exchanges=names.count("BroadcastExchange"),
        n_broadcast_hash_joins=count("BroadcastHashJoin"),
        n_sort_merge_joins=count("SortMergeJoin"),
        n_shuffled_hash_joins=count("ShuffledHashJoin"),
        n_nested_loop_joins=count("BroadcastNestedLoopJoin"),
        n_cartesian=count("CartesianProduct"),
        n_hash_aggregates=count("HashAggregate"),
        python_nodes=[p for p in _PYTHON_NODES if count(p)],
        has_take_ordered="TakeOrderedAndProject" in names,
        text=explain_str(df),
    )


def single_partition_window_feeds(df: DataFrame) -> list[str]:
    """``Window`` nodes whose input chain is repartitioned to a SINGLE
    partition (``Exchange SinglePartition`` on the window's unary input
    chain) — the plan shape that serializes ALL rows through one task
    and dies at 100 TB unless the input is provably bounded (e.g. an
    aggregate over a fixed-cardinality key).

    Each Window descends through single-child nodes to the first
    Exchange and is reported if that exchange is ``SinglePartition``.
    Descent stops at a node with several children (joins, unions, a
    hosted subquery): there the window's distribution is satisfied by
    that operator itself, not an inserted exchange."""
    nodes = plan_nodes(df)
    flagged: list[str] = []
    for i, (_, name, _, _) in enumerate(nodes):
        if name != "Window":
            continue
        j = i
        while True:
            below = descendants(nodes, j)
            if sum(d == nodes[j][0] + 1 for d, _, _, _ in below) != 1:
                break
            j += 1
            if nodes[j][1] == "Exchange":
                if "SinglePartition" in nodes[j][2]:
                    flagged.append(f"Window#{i}<-Exchange#{j}")
                break
    return flagged


def assert_scalable(
    df: DataFrame,
    max_shuffles: int | None = None,
    forbid_python: bool = False,
    forbid_cartesian: bool = True,
    require_pushed_filter: str | None = None,
    require_broadcast_join: bool = False,
) -> PlanAudit:
    """Assert the plan properties that must survive a 100x scale-up;
    returns the audit for further checks. Raises AssertionError with the
    offending plan attached."""
    a = audit(df)
    problems = []
    if max_shuffles is not None and a.n_shuffles > max_shuffles:
        problems.append(f"{a.n_shuffles} shuffles > allowed {max_shuffles}")
    if forbid_python and a.python_nodes:
        problems.append(f"Python boundary in plan: {a.python_nodes}")
    if forbid_cartesian and a.n_cartesian:
        problems.append("CartesianProduct in plan")
    if require_pushed_filter and not any(
        require_pushed_filter in f for f in a.pushed_filters
    ):
        problems.append(
            f"no pushed filter mentioning {require_pushed_filter!r}; "
            f"pushed={a.pushed_filters}"
        )
    if require_broadcast_join and not a.n_broadcast_hash_joins:
        problems.append("expected a BroadcastHashJoin")
    if problems:
        raise AssertionError("; ".join(problems) + "\n--- plan ---\n" + a.text)
    return a
