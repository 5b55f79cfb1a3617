"""Plan-quality gates (SURVEY.md: 'explain the plan and iterate until
it's the plan you'd want').  These assertions encode the 100TB-scale
invariants: pushdown reaches the scan, dims broadcast, aggregation is
partial->final, top-k never globally sorts, and the Python boundary
stays out of JVM-only pipelines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_cudf_spark.plans import explain_str
from dask_cudf_spark.registry import REGISTRY, _ensure_loaded
from dask_cudf_spark.sources import load_table

from .conftest import SF_DIR

_ensure_loaded()


def plan(spark, name: str, mode: str = "formatted") -> str:
    return explain_str(REGISTRY[name].fn(spark, SF_DIR), mode)


def test_scan_pushdown(spark):
    p = plan(spark, "q_scan_parquet")
    assert "PushedFilters: [" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    # projection pruned to exactly the used columns
    for col in ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"]:
        assert col in read_schema
    assert "l_extendedprice" not in read_schema


def test_filter_pushdown_through_query(spark):
    p = plan(spark, "q_filter_pred")
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p or "GreaterThan" in p


def test_broadcast_join_plan(spark):
    p = plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_star_join_broadcasts_dims(spark):
    # lineitem⋈orders⋈customer: at test scale all joins may broadcast,
    # but there must be no cartesian/nested-loop anywhere
    p = plan(spark, "q_join_inner")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_partial_final_aggregate(spark):
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_groupby_sum"].fn(spark, SF_DIR))
    # two HashAggregate nodes (partial + final) around an exchange
    assert a.n_hash_aggregates >= 2
    assert a.n_shuffles >= 1


def test_topk_is_take_ordered(spark):
    p = plan(spark, "q_topk")
    assert "TakeOrderedAndProject" in p
    # no full sort node
    assert "Sort [" not in p or "TakeOrderedAndProject" in p


def test_no_python_in_native_pipelines(spark):
    # every query that claims native-only must not cross into Python
    for name in ["q_groupby_sum", "q_join_inner", "q_window_rolling", "q_cosine_sim"]:
        p = plan(spark, name)
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name
        assert "FlatMapGroupsInPandas" not in p, name


def test_semi_anti_plans(spark):
    for name, kind in [("q_join_semi", "LeftSemi"), ("q_join_anti", "LeftAnti")]:
        p = plan(spark, name)
        assert kind in p, f"{name} should plan a {kind} join"


def test_codegen_coverage(spark):
    # flagship stays inside whole-stage codegen (no interpreted gaps)
    p = plan(spark, "q_groupby_sum", mode="codegen")
    assert "WholeStageCodegen" in p


def test_facade_broadcast_hint(spark):
    from dask_cudf_spark import frame as dcs

    o = dcs.read_parquet(spark, f"{SF_DIR}/orders.parquet")
    c = dcs.read_parquet(spark, f"{SF_DIR}/customer.parquet").rename(
        {"c_custkey": "o_custkey"}
    )
    j = o.merge(c, on="o_custkey", broadcast=True)
    assert "BroadcastHashJoin" in explain_str(j.spark)


def test_cosine_corpus_not_shuffled(spark):
    from dask_cudf_spark.operators.similarity import cosine_topk
    from dask_cudf_spark.plans import audit

    em = load_table(spark, SF_DIR, "embeddings")
    q = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # no join at all — the corpus streams through one MapInPandas; the
    # only hash exchange is the top-k window
    a = audit(cosine_topk(em, q))
    assert a.python_nodes == ["MapInPandas"]
    assert "Join" not in a.text
    assert a.n_shuffles <= 2  # scale_out round-robin + window partitionBy


def test_plan_audit_api(spark):
    from dask_cudf_spark.plans import assert_scalable, audit

    df = REGISTRY["q_join_broadcast"].fn(spark, SF_DIR)
    a = assert_scalable(
        df, forbid_python=True, require_broadcast_join=True
    )
    assert a.n_cartesian == 0

    scan = REGISTRY["q_scan_parquet"].fn(spark, SF_DIR)
    a = audit(scan)
    assert any("l_shipdate" in f for f in a.pushed_filters)
    assert a.read_schemas and "l_extendedprice" not in a.read_schemas[0]


def test_ivf_corpus_never_shuffles(spark):
    # IVF list assignment is a literal-codebook expression; the corpus
    # must reach the probe join without an Exchange on its side
    from dask_cudf_spark.plans import audit

    df = REGISTRY["q_ann_ivf"].fn(spark, SF_DIR)
    a = audit(df)
    assert a.n_broadcast_hash_joins >= 1  # probes broadcast, corpus streams
    pre_join = a.text.split("Join")[0]
    assert "Exchange hashpartitioning" not in pre_join


def test_multimodal_frames_stay_jvm_side(spark):
    from dask_cudf_spark.plans import assert_scalable

    df = REGISTRY["q_multimodal_frames"].fn(spark, SF_DIR)
    assert_scalable(df, forbid_python=True)


def test_scaled_sum_stays_integral(spark):
    # determinism invariant: flagship sums are long until the final division
    li = load_table(spark, SF_DIR, "lineitem")
    from dask_cudf_spark.functions.det import scaled_int

    assert dict(li.select(scaled_int("l_extendedprice", 100).alias("c")).dtypes)[
        "c"
    ] == "bigint"
    assert (
        li.agg(F.sum(scaled_int("l_extendedprice", 100)).alias("s")).dtypes[0][1]
        == "bigint"
    )


# ---------------------------------------------------------------------------
# Global sweep: every registered query must satisfy the baseline scale
# invariants.  Explicit allowlists keep exceptions visible and reviewed.

# queries whose SEMANTICS are a Python UDF surface (Arrow-batched)
_PYTHON_OK = {
    "q_udaf_grouped",        # applyInPandas is the operator under test
    "q_explode_udtf",        # Python UDTF
    "q_multimodal_features", # mapInPandas decode stand-in
    "q_stream_stateful",     # batch twin is JVM, stream twin is stateful python
    "q_minhash_dedup",       # vectorized md5 signature (declared Arrow path)
    "q_minhash_pairs",       # vectorized md5 signature (declared Arrow path)
    "q_containment_lsh",     # same banded-LSH signature stage (r14)
    "q_dedup_components",    # single-task union-find mapInPandas fast path
    "q_cosine_sim",          # vectorized BLAS scoring (declared Arrow path)
    "q_ann_recall",          # brute-force half reuses the BLAS Arrow path
    "q_arrow_batch_stats",   # mapInArrow is the surface under test
    "q_python_udtf",         # the Python UDTF surface is the op under test
    "q_stem_tokens",         # full Porter stemmer pandas_udf (nvtext parity)
    "q_subword_tokens",      # greedy WordPiece pandas_udf (nvtext parity)
    "q_ewm",                 # per-key sequential recurrence via applyInPandas
    "q_cogroup_udf",         # cogrouped applyInPandas is the op under test
    "q_multimodal_resample", # mapInPandas block-mean pooling (codec stand-in)
    "q_multimodal_wav",      # REAL RIFF/WAVE decode in mapInPandas (r4)
    "q_multimodal_jpeg",     # REAL baseline JPEG codec in mapInPandas (r5)
    "q_multimodal_png",      # REAL PNG decode in mapInPandas (r4)
    "q_multimodal_avi",      # REAL RIFF/AVI decode in mapInPandas (r4)
    "q_multimodal_mjpeg",    # REAL MJPEG-in-AVI decode in mapInPandas (r7)
}
# queries that intentionally build a cartesian/nested-loop product
_CARTESIAN_OK = {"q_join_cross"}


def _all_query_names():
    return sorted(REGISTRY)


def test_no_accidental_cartesian(spark):
    from dask_cudf_spark.plans import audit

    bad = []
    for name in _all_query_names():
        if name in _CARTESIAN_OK:
            continue
        a = audit(REGISTRY[name].fn(spark, SF_DIR))
        if a.n_cartesian:
            bad.append(name)
    assert not bad, f"CartesianProduct in: {bad}"


# Queries whose plan legitimately repartitions a window input to ONE
# partition: every entry's window feeds on a PROVABLY BOUNDED table —
# bounded by a constant of the problem (key cardinality, calendar
# span, bucket count, LIMIT literal, cluster width), never by data
# volume.  Anything else funnels the corpus through one task and is a
# registry-wide failure (r7/r8 VERDICT item: single-partition windows
# only over provably bounded inputs).
_SINGLE_PARTITION_WINDOW_OK = {
    # replicate-mean ranking: 32 rows (n_replicates literal).  Appears
    # twice since r10 made the lo/hi CI picks aggregate-shaped (empty-
    # input convention) — each recomputes the tiny ranked table.
    "q_bootstrap_ci",
    # distinct c_mktsegment codes: 5 rows (key cardinality)
    "q_factorize",
    # per-week lifetable: |weeks| rows (calendar horizon)
    "q_kaplan_meier",
    # (q_pagerank_items left this list in round 9: limit-then-rank
    # replaced its catalog-wide window — see test below)
    # cumulative day-total offsets: |days| rows (calendar horizon)
    "q_peak_concurrency",
    # prefix-offset windows over per-partition counts:
    # <= spark.sql.shuffle.partitions rows (cluster width, not data)
    # — operators/ranking.py's two-phase distributed rank
    # (q_ks_drift: the same fused two-phase pattern for its ECDF
    # cumulative sums; its argmax is limit-then-select, no window)
    "q_ks_drift",
    "q_qcut",
    "q_rank_global",
    "q_rfm_segmentation",
    # day-level residual ranking: |days| rows (calendar horizon)
    "q_seasonal_anomaly",
    # ten corpus-prefix buckets: 10 rows (bucket-count literal)
    "q_vocab_growth",
}


def test_no_unbounded_single_partition_windows(spark):
    """Registry-wide (r7 VERDICT item 4 / r8 item 3): any Exchange
    SinglePartition feeding a WindowExec must sit on a provably bounded
    input, tracked by the documented allowlist above.  Two failure
    directions: a NEW query funneling data-scaled rows through one
    window task (flagged, not allowlisted), and a STALE allowlist entry
    whose query no longer has the shape (allowlisted, not flagged —
    e.g. after a fix like q_pagerank_items' limit-then-rank)."""
    from dask_cudf_spark.plans.audit import single_partition_window_feeds

    flagged = {}
    for name in _all_query_names():
        hits = single_partition_window_feeds(
            REGISTRY[name].fn(spark, SF_DIR)
        )
        if hits:
            flagged[name] = hits
    unexplained = set(flagged) - _SINGLE_PARTITION_WINDOW_OK
    assert not unexplained, (
        f"single-partition window over possibly unbounded input in "
        f"{sorted(unexplained)}: "
        f"{ {n: flagged[n] for n in unexplained} }; either distribute "
        "the window (operators/ranking.py pattern) or document the "
        "bounded input in _SINGLE_PARTITION_WINDOW_OK"
    )


def test_pagerank_ranks_after_limit(spark):
    """q_pagerank_items' final global row_number must run AFTER the
    top-20 cut (TakeOrderedAndProject), so its single-partition window
    sees 20 rows, not the item catalog."""
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_pagerank_items"].fn(spark, SF_DIR))
    assert a.has_take_ordered, a.text[:800]


def test_pagerank_broadcast_posture(spark):
    """q_pagerank_items' per-iteration (src, r, d) broadcast is a
    DIMENSION-bound contract (|items| catalog-scale — documented in the
    query docstring, r15 VERDICT item 7).  Pin the posture: the edge
    list must NEVER be the build side of a join (edges are data-scale),
    no iteration may fall back to a sort-merge join (that would
    re-exchange + re-sort the edge list every iteration, the exact r15
    before-shape), and the plan must keep exactly the per-iteration
    broadcasts the design calls for."""
    from dask_cudf_spark.plans.audit import audit

    a = audit(REGISTRY["q_pagerank_items"].fn(spark, SF_DIR))
    assert a.n_sort_merge_joins == 0, (
        f"pagerank regressed to {a.n_sort_merge_joins} SMJ — the edge "
        "list is being re-exchanged per iteration\n" + a.text[:1500]
    )
    # every edges⋈rd join must build on the broadcast (rd) side: the
    # join's description names the build side ("BroadcastHashJoin
    # [src...], [src...], Inner, BuildRight"); edges are the streamed
    # (left) input by construction, so BuildLeft on any src-keyed join
    # means the DATA-scale side was hashed into memory
    src_joins = [
        desc
        for _, name, desc, _ in a.nodes
        if name == "BroadcastHashJoin" and desc.startswith("BroadcastHashJoin [src")
    ]
    assert src_joins, "no src-keyed broadcast joins found:\n" + a.text[:1500]
    for desc in src_joins:
        assert "BuildRight" in desc, (
            "pagerank item-join builds on the streamed side: " + desc
        )


def test_all_query_outputs_are_scalar_columns(spark):
    """Registry-wide (r9 VERDICT item 1): no registered query may emit
    an Array/Map/Struct output column.  The driver canonicalizes results
    with pandas.sort_values over every column, which throws `unhashable
    type` on list cells — q_feature_hash_embed was driver-red for
    exactly this in r9 while values matched.  The discipline (documented
    at q_groupby_collect): array_join the vector into a string."""
    from pyspark.sql import types as T

    bad = []
    for name in _all_query_names():
        schema = REGISTRY[name].fn(spark, SF_DIR).schema
        for field in schema.fields:
            if isinstance(
                field.dataType, (T.ArrayType, T.MapType, T.StructType)
            ):
                bad.append((name, field.name, field.dataType.simpleString()))
    assert not bad, (
        f"non-scalar output columns (driver canonicalizer cannot hash "
        f"these — emit array_join'd strings): {bad}"
    )


def test_python_boundary_only_in_udf_queries(spark):
    from dask_cudf_spark.plans import audit

    bad = []
    for name in _all_query_names():
        if name in _PYTHON_OK:
            continue
        a = audit(REGISTRY[name].fn(spark, SF_DIR))
        if a.python_nodes:
            bad.append((name, a.python_nodes))
    assert not bad, f"unexpected Python nodes: {bad}"


def test_salted_aggs_are_two_phase(spark):
    # the salted ops must show two aggregate layers and shuffle on
    # (key, salt) first — the skew-safety property itself
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_skew_salted_sum"].fn(spark, SF_DIR))
    assert a.n_hash_aggregates >= 4  # partial+final for each of 2 phases
    assert "__salt" in a.text


def test_tpch_shapes_broadcast_dims_and_push_dates(spark):
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_tpch_q5_shape"].fn(spark, SF_DIR))
    assert a.n_broadcast_hash_joins >= 3  # supplier, nation, region chain
    assert a.n_cartesian == 0
    q3 = audit(REGISTRY["q_tpch_q3_shape"].fn(spark, SF_DIR))
    assert any("o_orderdate" in f for f in q3.pushed_filters)
    assert any("l_shipdate" in f for f in q3.pushed_filters)
    assert q3.has_take_ordered  # top-10 must not globally sort


def test_tpch_q5_region_pruned_below_fact_joins(spark):
    # The 100x-scale property (round-5 fix): the region='ASIA'
    # restriction must hit CUSTOMER before the c |x| o |x| li shuffles,
    # not after them via the supplier->nation->region chain — at scale
    # ~4/5 of the fact shuffle volume would be discarded rows otherwise.
    # Disable auto-broadcast so the fact joins take their at-scale SMJ
    # form; the explicit dim broadcast hints must still hold.
    from dask_cudf_spark.plans import audit, descendants

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = audit(REGISTRY["q_tpch_q5_shape"].fn(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert a.n_sort_merge_joins >= 2  # c|x|o and o|x|li are fact joins now

    def is_asia_prejoin(node) -> bool:
        # the (unique) BroadcastHashJoin keyed on c_nationkey
        _, name, desc, _ = node
        return name == "BroadcastHashJoin" and desc.startswith(
            "BroadcastHashJoin [c_nationkey"
        )

    assert any(map(is_asia_prejoin, a.nodes)), (
        "customer must pre-join the broadcast ASIA nation set"
    )
    first_smj = next(
        i for i, (_, name, _, _) in enumerate(a.nodes) if name == "SortMergeJoin"
    )
    assert any(map(is_asia_prejoin, descendants(a.nodes, first_smj))), (
        "region restriction lands ABOVE the fact joins", a.text[:2000]
    )


def test_asof_variants_single_shuffle(spark):
    # The merge_asof OPERATOR itself is one exchange (nearest evaluates
    # BOTH directions over that same exchange).  The registered queries
    # carry exactly one more: the right-side (user_id, ts) dedupe
    # aggregation — the uniqueness PRECONDITION the r11 events corpus
    # forced (operators/asof.py docstring).  That shuffle is map-side-
    # combinable and touches only the (smaller) point-in-time side, so
    # the 100 TB cost story is unchanged; pin the count at exactly 2 so
    # any third exchange (a lost reuse, an accidental join) still flags.
    from dask_cudf_spark.plans import audit

    for name in [
        "q_join_asof",
        "q_join_asof_forward",
        "q_join_asof_nearest",
        "q_join_asof_tolerance",
    ]:
        a = audit(REGISTRY[name].fn(spark, SF_DIR))
        assert a.n_shuffles == 2, (name, a.n_shuffles)
        assert not a.python_nodes, name
        # event_type filters must reach the parquet scan
        assert any("event_type" in f for f in a.pushed_filters), name


def test_group_zscore_single_pass(spark):
    # all three window aggregates (sum, sumsq, count) over ONE exchange;
    # never the naive groupby + self-join (2 shuffles + a join)
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_group_zscore"].fn(spark, SF_DIR))
    assert a.n_shuffles == 1
    assert a.n_broadcast_hash_joins + a.n_sort_merge_joins == 0
    assert not a.python_nodes


def test_mapside_ops_never_shuffle(spark):
    # hash-bucket sampling and elementwise quantization are pure map
    # work: any exchange here would be a scale bug
    from dask_cudf_spark.plans import audit

    for name in ["q_sample", "q_stratified_sample", "q_embed_quantize"]:
        a = audit(REGISTRY[name].fn(spark, SF_DIR))
        assert a.n_shuffles == 0, (name, a.n_shuffles)
        assert not a.python_nodes, name


def test_curation_pipeline_shuffle_budget(spark):
    # quality filter (map) -> exact dedup (1 shuffle on text hash) ->
    # split stats (1 shuffle on the groupBy): 2 total.  A third
    # exchange means someone broke the single-pass dedup.
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_curation_pipeline"].fn(spark, SF_DIR))
    assert a.n_shuffles == 2, a.n_shuffles
    assert not a.python_nodes
    assert a.n_cartesian == 0


def test_group_head_prunes_before_output(spark):
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_group_head"].fn(spark, SF_DIR))
    assert a.n_shuffles == 1
    # Spark 4 plans a PARTIAL WindowGroupLimit below the exchange: each
    # map task keeps only its local top-3 per group BEFORE shuffling —
    # the property that bounds shuffle bytes by 3x|groups| at 100 TB
    limits = [name for _, name, _, _ in a.nodes if name == "WindowGroupLimit"]
    assert len(limits) >= 2, a.text[:500]


def test_tfidf_broadcasts_vocab_side(spark):
    # document-frequency table is vocabulary-sized: must broadcast to
    # the tf side, never shuffle-join the corpus-sized tf relation
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_tfidf_topterms"].fn(spark, SF_DIR))
    assert a.n_broadcast_hash_joins >= 1
    assert a.n_sort_merge_joins == 0 and a.n_shuffled_hash_joins == 0
    assert a.n_cartesian == 0  # N joins as broadcast NLJ, not cartesian
    assert not a.python_nodes


def test_tpch_q1_single_shuffle_partial_agg(spark):
    # the canonical scan-bound query: pushdown reaches the scan, one
    # data-sized shuffle (partial->final agg); the second exchange is
    # the ORDER BY over the ~6 grouped rows — constant-sized at any SF
    from dask_cudf_spark.plans import assert_scalable

    a = assert_scalable(
        REGISTRY["q_tpch_q1"].fn(spark, SF_DIR),
        max_shuffles=2,
        forbid_python=True,
        require_pushed_filter="l_shipdate",
    )
    assert a.n_hash_aggregates >= 2


def test_tpch_q6_scan_bound(spark):
    from dask_cudf_spark.plans import assert_scalable

    a = assert_scalable(
        REGISTRY["q_tpch_q6"].fn(spark, SF_DIR),
        max_shuffles=1,
        forbid_python=True,
        require_pushed_filter="l_discount",
    )
    assert a.n_hash_aggregates >= 2


def test_tpch_q19_stays_hash_join(spark):
    # OR-of-ANDs residual must NOT degrade the equi-join to
    # nested-loop/cartesian — the classic Q19 plan trap
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_tpch_q19"].fn(spark, SF_DIR))
    assert a.n_broadcast_hash_joins >= 1
    assert a.n_nested_loop_joins == 0 and a.n_cartesian == 0


def test_tpch_q7_broadcasts_all_dims(spark):
    # supplier + nation x2 broadcast; only fact-fact joins may shuffle
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_tpch_q7"].fn(spark, SF_DIR))
    assert a.n_broadcast_exchanges >= 3, a.text[:800]
    assert a.n_cartesian == 0 and not a.python_nodes


def test_curation_pipeline_stays_scalable(spark):
    # Redundant with the exact-count test above by construction, but
    # exercises the public assert_scalable() helper on a composite
    # pipeline (the API a user would reach for).
    from dask_cudf_spark.plans import assert_scalable

    assert_scalable(
        REGISTRY["q_curation_pipeline"].fn(spark, SF_DIR),
        max_shuffles=2,
        forbid_python=True,
    )


def test_tpch_q8_deep_join_tree_broadcasts_every_dim(spark):
    # 8-table tree: part/supplier/customer/nation x2/region all broadcast;
    # the ONLY data-sized exchanges are the lineitem-orders fact join and
    # the final per-year agg.  Date + type filters reach the scans.
    from dask_cudf_spark.plans import assert_scalable

    a = assert_scalable(
        REGISTRY["q_tpch_q8"].fn(spark, SF_DIR),
        forbid_python=True,
        require_pushed_filter="o_orderdate",
        require_broadcast_join=True,
    )
    assert a.n_broadcast_hash_joins >= 6
    assert any("p_type" in f for f in a.pushed_filters)


def test_tpch_q4_semi_join_no_fanout(spark):
    # EXISTS becomes LEFT SEMI (one output row per order, no distinct);
    # the order-date range prunes the probe side at the scan
    from dask_cudf_spark.plans import assert_scalable

    a = assert_scalable(
        REGISTRY["q_tpch_q4"].fn(spark, SF_DIR),
        forbid_python=True,
        require_pushed_filter="o_orderdate",
    )
    assert "LeftSemi" in a.text


def test_tpch_q11_reuses_fact_exchange_at_runtime(spark):
    # the scalar-subquery threshold branch shares v's per-part shuffle:
    # the STATIC plan prints the lineitem subtree twice, but AQE's
    # exchange reuse collapses it — the executed plan must contain a
    # ReusedExchange so the fact is scanned/shuffled once per run
    from dask_cudf_spark.plans import audit, plan_nodes

    df = REGISTRY["q_tpch_q11"].fn(spark, SF_DIR)
    a = audit(df)
    assert a.n_cartesian == 0 and not a.python_nodes
    df.collect()
    executed = plan_nodes(df)
    assert executed[0][2] == "AdaptiveSparkPlan isFinalPlan=true"
    assert any(name == "ReusedExchange" for _, name, _, _ in executed), executed


def test_tpch_q21_stays_on_orderkey_partitioning(spark):
    # the lateness double-self-join is re-expressed as groupBys + joins
    # all keyed on l_orderkey; after the first exchange everything is
    # co-partitioned, and the status filter reaches the orders scan
    from dask_cudf_spark.plans import assert_scalable

    a = assert_scalable(
        REGISTRY["q_tpch_q21"].fn(spark, SF_DIR),
        forbid_python=True,
        require_pushed_filter="o_orderstatus",
    )
    assert a.n_cartesian == 0


def test_curation_ops_shuffle_budgets(spark):
    # the round-2 curation/imputation family: each op's scale story is
    # a fixed shuffle budget (documented in its docstring)
    from dask_cudf_spark.plans import audit

    budgets = {
        "q_pii_redact": 0,          # pure map-side regex
        "q_repetition_ngrams": 0,   # per-row array expressions
        "q_doc_packing": 1,         # sharded window + reusable agg
        "q_ffill": 1,               # one shuffle on user_id
        "q_interpolate_linear": 1,  # fwd+bwd windows share partitioning
        "q_rolling_median": 1,      # one shuffle on user_id
    }
    for name, max_shuffles in budgets.items():
        a = audit(REGISTRY[name].fn(spark, SF_DIR))
        assert a.n_shuffles <= max_shuffles, (name, a.n_shuffles)
        assert not a.python_nodes, name
        assert a.n_cartesian == 0, name


def test_cogroup_is_two_shuffles_no_join_fallback(spark):
    # cogroup must plan as co-partitioned FlatMapCoGroupsInPandas —
    # one exchange per side, never a join + regroup
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_cogroup_udf"].fn(spark, SF_DIR))
    assert a.n_shuffles == 2, a.n_shuffles
    assert a.n_cartesian == 0
    assert a.n_sort_merge_joins + a.n_broadcast_hash_joins == 0


def test_salted_join_is_shuffle_not_broadcast(spark):
    # the whole point of the salted join: the dim must NOT broadcast
    # (that would make salting a no-op demo) and nothing may plan as
    # cartesian/nested-loop despite the compound join condition
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_skew_salted_join"].fn(spark, SF_DIR))
    assert a.n_broadcast_hash_joins == 0, "dim broadcast defeats salting demo"
    assert a.n_cartesian == 0
    assert a.n_nested_loop_joins == 0
    assert a.n_shuffled_hash_joins + a.n_sort_merge_joins >= 1


def test_salting_bounds_hot_key_partitions(spark):
    """Skew stress evidence (round-2 VERDICT item 7): one key holding
    50% of all rows.  Under the naive hash shuffle the entire hot key
    lands in ONE reduce partition (the 100TB OOM/straggler); under the
    salted two-phase plan every post-shuffle partition is bounded by
    ~hot/n_salts.  Also asserts the salted results are IDENTICAL to the
    naive ones, i.e. salting is pure execution strategy."""
    from dask_cudf_spark.operators.skew import salted_join, salted_sum, with_salt

    n = 100_000
    hot = n // 2
    n_salts = 16
    df = (
        spark.range(n)
        .withColumn(
            "k",
            F.when(F.col("id") % 2 == 0, F.lit("hot")).otherwise(
                F.concat(F.lit("k"), (F.col("id") % 1000).cast("string"))
            ),
        )
        .withColumn("v", (F.col("id") % 97).cast("double"))
    )

    def max_partition_rows(d, *cols):
        # mirror the groupBy/join shuffle: hash-partition on the key(s)
        # and measure the largest resulting partition
        return (
            d.repartition(32, *cols)
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

    naive_max = max_partition_rows(df, F.col("k"))
    salted_max = max_partition_rows(
        with_salt(df, n_salts, on=F.col("id")), F.col("k"), F.col("__salt")
    )
    assert naive_max >= hot, "hot key did not concentrate — test data broken"
    # bound: one salt-group is hot/n_salts rows; a 32-partition hash of
    # 16 groups lands <=~4 groups in one partition (birthday collisions)
    # plus the non-hot background -> 5x group size is a stable ceiling,
    # still ~3.6x below the naive concentration
    assert salted_max <= hot // n_salts * 5, (
        f"salted partitions not bounded: {salted_max}"
    )

    # value parity: salted_sum == naive groupBy().sum()
    naive_sum = {
        r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    salted = {
        r["k"]: r["sum_v"]
        for r in salted_sum(
            df, ["k"], "v", n_salts=n_salts, salt_on=F.col("id")
        ).collect()
    }
    assert naive_sum == salted

    # value parity: salted_join == naive shuffle join (hot fact x dim)
    dim = df.select(F.col("k").alias("kk")).distinct().withColumn(
        "attr", F.length("kk")
    )
    naive_cnt = df.join(dim, df["k"] == dim["kk"]).count()
    assert (
        salted_join(df, dim, "k", "kk", salt_on=F.col("id"), n_salts=8).count()
        == naive_cnt
    )


def test_semdedup_and_span_dedup_plan_shapes(spark):
    """Round-4 operators keep their documented scale shapes: semdedup
    pairs only form within a cell (no cartesian, no broadcast of the
    corpus side needed for assignment — the codebook is literals), and
    span dedup is two keyed shuffles (gram, doc_id) with no Python
    boundary anywhere in either plan."""
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_semdedup"].fn(spark, SF_DIR))
    assert a.n_cartesian == 0
    assert not a.python_nodes
    b = audit(REGISTRY["q_ngram_span_dedup"].fn(spark, SF_DIR))
    assert b.n_cartesian == 0
    assert not b.python_nodes
    assert b.n_broadcast_hash_joins + b.n_sort_merge_joins + b.n_shuffled_hash_joins >= 1


def test_r4_second_wave_shuffle_budgets(spark):
    """Pin the shuffle count of every round-4 second-wave operator so a
    refactor can't silently regress the documented plan shape.  Budgets
    are the docstring claims: map-side ops stay at <=1 exchange (the
    final rollup / rank), two-stage aggs at their declared counts.
    Exceeding a budget = a new data-sized exchange crept in."""
    from dask_cudf_spark.plans import audit

    budgets = {
        "q_ann_pq": 1,            # corpus encodes map-side; rank window only
        "q_zorder_cluster": 1,    # interleave map-side; one rollup
        "q_max_drawdown": 1,      # window + rollup share the user_id exchange
        "q_retention_cohort": 2,  # user_id window/dedup + matrix agg
        "q_event_paths": 2,       # user_id window + path rollup (topk local)
        "q_entity_match_blocked": 2,  # name collapse + block-key join
        "q_drift_chi2": 3,        # bin table + two tiny marginal apexes
        "q_token_rarity": 3,      # tf + vocab (broadcast back) + doc rollup
        "q_winsorized_stats": 2,  # percentile bounds + winsorized rollup
        "q_inverted_index": 4,    # tf, vocab, rank, posting assembly
        "q_bm25_topk": 5,         # tf/df/stats + per-doc sum + topk rank
        "q_pmi_collocations": 4,  # bigram + unigram + stats + topk rank
        "q_basket_pairs": 3,      # baskets checkpointed once (r5) + rollups
        "q_kmeans_step": 6,       # comp sums + small centroid/rollup apexes
        "q_semdedup": 2,          # cell join + anti join (codebook literal)
        "q_cohort_ltv": 3,        # coh checkpointed once (r5) + cell + window
        "q_nearest_centroid_classify": 10,  # comp checkpointed once (r5)
    }
    for name, budget in budgets.items():
        a = audit(REGISTRY[name].fn(spark, SF_DIR))
        assert a.n_shuffles <= budget, (name, a.n_shuffles, budget)
        assert a.n_cartesian == 0, name


def test_grouping_sets_one_expand_one_shuffle(spark):
    """ROLLUP/CUBE/GROUPING SETS must plan as ONE Expand feeding the
    usual partial->final HashAggregate over ONE exchange — the subtotal
    rows are map-side replicas, never extra scans of the fact table
    (r11 VERDICT item 2)."""
    for name in ("q_rollup_revenue", "q_cube_orders",
                 "q_grouping_sets_lineitem"):
        p = plan(spark, name, mode="simple")
        assert p.count("Expand") == 1, name
        assert p.count("Exchange") == 1, name
        assert p.count("HashAggregate") == 2, name
        # one scan of the input table, not one per grouping set
        assert p.count("Scan parquet") == 1, name


def test_plan_digest_invariant_to_metadata_truncation(spark):
    """Spark cuts a scan's description at
    spark.sql.maxMetadataStringLength, at a point that moves with the
    width of the run's expression ids — once recorded as a ppjoin 'plan
    flip' across identical plans.  The digest reads the scan's
    unabbreviated metadata instead, so the cut point cannot move it."""
    from dask_cudf_spark.plans import plan_digest, plan_nodes

    key = "spark.sql.maxMetadataStringLength"
    saved = spark.conf.get(key)
    digests, descs = [], []
    try:
        for length in ("20", "100"):
            spark.conf.set(key, length)
            nodes = plan_nodes(REGISTRY["q_join_broadcast"].fn(spark, SF_DIR))
            digests.append(plan_digest(nodes))
            descs.append([d for _, _, d, m in nodes if m])
    finally:
        spark.conf.set(key, saved)
    assert descs[0] != descs[1]  # the truncation really differed
    assert digests[0] == digests[1]


def test_plan_digest_flips_on_broadcast_to_smj(spark):
    from dask_cudf_spark.plans import plan_digest, plan_nodes

    def nodes():
        return plan_nodes(REGISTRY["q_join_inner"].fn(spark, SF_DIR))

    bhj = nodes()
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        smj = nodes()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert any(n == "BroadcastHashJoin" for _, n, _, _ in bhj)
    assert not any(n == "BroadcastHashJoin" for _, n, _, _ in smj)
    assert any(n == "SortMergeJoin" for _, n, _, _ in smj)
    assert plan_digest(bhj) != plan_digest(smj)


def test_plan_digest_sees_lost_pushed_filter(spark):
    """Two plans that differ only in a scan's PushedFilters (a lost
    filter pushdown) or ReadSchema (lost column pruning) must digest
    differently."""
    from dask_cudf_spark.plans import plan_digest, plan_nodes

    nodes = plan_nodes(REGISTRY["q_scan_parquet"].fn(spark, SF_DIR))
    (i,) = [i for i, (_, _, _, m) in enumerate(nodes) if m]
    depth, name, desc, meta = nodes[i]
    assert meta["PushedFilters"] != "[]"
    for key, value in [("PushedFilters", "[]"), ("ReadSchema", "struct<>")]:
        changed = list(nodes)
        changed[i] = (depth, name, desc, {**meta, key: value})
        assert plan_digest(nodes) != plan_digest(changed), key


def test_fk_integrity_audit_shuffle_budget(spark):
    """The relational ingest gate must stay counts-only across its
    exchanges: two anti joins + one dup-PK groupBy + fused per-table
    domain aggregates; no cartesian blow-up beyond the 1-row count
    cross-joins, no Python."""
    from dask_cudf_spark.plans import audit

    a = audit(REGISTRY["q_fk_integrity_audit"].fn(spark, SF_DIR))
    assert a.python_nodes == []
    # r12 ADVICE item 4: the old disjunction (`n_cartesian == 0 or BNLJ
    # in text`) was near-vacuous — Spark prints 1-row count cross-joins
    # AS BNLJ, satisfying the second arm by construction.  Bound them
    # instead: NO CartesianProduct ever, and at most the three 1-row
    # count cross-joins.
    assert a.n_cartesian == 0
    assert a.n_nested_loop_joins <= 3
    # exactly the two dangling-FK anti joins
    anti = [
        desc for _, name, desc, _ in a.nodes if "Join" in name and "LeftAnti" in desc
    ]
    assert len(anti) == 2, anti
