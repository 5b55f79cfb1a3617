"""Invariant tests for the round-4 operator additions (PQ/ADC search,
k-means Lloyd step, BM25 retrieval, PMI collocations, Z-order layout,
blocked entity matching, cohort retention) — structural properties the
DuckDB oracle hash can't articulate on its own."""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_cudf_spark.registry import REGISTRY, _ensure_loaded
from dask_cudf_spark.sources import load_table

from .conftest import SF_DIR

_ensure_loaded()


def test_pq_ranks_and_monotone_distance(spark):
    rows = REGISTRY["q_ann_pq"].fn(spark, SF_DIR).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 10
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        dists = [r.adc_dist_s6 for r in rs]
        assert dists == sorted(dists), f"non-monotone ADC for query {q}"
        assert all(r.neighbor_id != q for r in rs)


def test_pq_identical_vectors_collapse_in_code_space(spark):
    """ADC scores a neighbor ONLY through its codes, so two corpus
    clones of the same vector must receive byte-identical ADC distances
    (equal to the query's quantization residual, not 0) and occupy
    adjacent ranks ordered by id."""
    from dask_cudf_spark.operators.similarity import pq_topk

    em = load_table(spark, SF_DIR, "embeddings")
    clones = (
        em.filter(F.col("vec_id") == 20)
        .select(
            F.explode(F.array(F.lit(999998), F.lit(999999))).alias("nid"),
            "embedding",
            "label",
        )
        .select(
            F.col("nid").cast("long").alias("vec_id"), "embedding", "label"
        )
    )
    out = pq_topk(
        em.unionByName(clones),
        em.filter(F.col("vec_id") == 20).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=len(em.collect()) + 2,
    ).collect()
    by_id = {r.neighbor_id: r for r in out}
    a, b = by_id[999998], by_id[999999]
    assert a.adc_dist_s6 == b.adc_dist_s6
    assert b.rank == a.rank + 1
    # the residual is the minimum over the returned set: nothing can
    # score closer in code space than the query's own cell
    assert a.adc_dist_s6 == min(r.adc_dist_s6 for r in out)


def test_kmeans_sizes_partition_corpus(spark):
    em = load_table(spark, SF_DIR, "embeddings")
    n = em.count()
    rows = REGISTRY["q_kmeans_step"].fn(spark, SF_DIR).collect()
    assert sum(r.n_points for r in rows) == n
    assert len({r.cluster for r in rows}) == len(rows) <= 8
    assert all(r.n_points > 0 for r in rows)
    assert all(r.centroid_sum_s6 is not None for r in rows)


def test_kmeans_deterministic_across_runs(spark):
    a = sorted(map(tuple, REGISTRY["q_kmeans_step"].fn(spark, SF_DIR).collect()))
    b = sorted(map(tuple, REGISTRY["q_kmeans_step"].fn(spark, SF_DIR).collect()))
    assert a == b


def test_bm25_rank_contract(spark):
    rows = sorted(
        REGISTRY["q_bm25_topk"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    scores = [r.score_s3 for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_pmi_min_count_and_positive_lift(spark):
    rows = REGISTRY["q_pmi_collocations"].fn(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 20
    assert all(r.c_ab >= 5 for r in rows)
    assert all(r.lift_s6 > 0 for r in rows)


def test_zorder_buckets_cover_all_rows_with_tight_envelopes(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    rows = REGISTRY["q_zorder_cluster"].fn(spark, SF_DIR).collect()
    assert sum(r.n_rows for r in rows) == li.count()
    # the whole point of z-order: each bucket's envelope must be a
    # PROPER sub-rectangle of the global key space on both dimensions
    gp = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    span_p, span_s = gp[1] - gp[0], gp[3] - gp[2]
    multi = [r for r in rows if len(rows) > 1]
    for r in multi:
        assert r.max_part - r.min_part <= span_p
        assert r.max_supp - r.min_supp <= span_s
    if len(rows) > 1:
        # at least one bucket is strictly tighter than the full space
        assert any(
            (r.max_part - r.min_part) < span_p
            or (r.max_supp - r.min_supp) < span_s
            for r in rows
        )


def test_zorder_interleave_is_injective(spark):
    """Distinct (x, y) pairs must map to distinct Morton codes."""
    from dask_cudf_spark.queries.sorts import _z_terms

    df = spark.range(0, 32).selectExpr("id % 8 AS x", "id div 8 AS y")
    z = df.select(F.expr(_z_terms("x", "y", 20, spark=True)).alias("z"))
    assert z.distinct().count() == 32


def test_entity_match_pair_contract(spark):
    rows = REGISTRY["q_entity_match_blocked"].fn(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.name_a < r.name_b
        assert 0 < r.dist <= 2
        # blocked on the last token: it must agree
        assert r.name_a.split(" ")[-1] == r.name_b.split(" ")[-1]
        assert r.n_a > 0 and r.n_b > 0


def test_retention_cohort_triangle(spark):
    ev = load_table(spark, SF_DIR, "events")
    n_users = ev.select("user_id").distinct().count()
    rows = REGISTRY["q_retention_cohort"].fn(spark, SF_DIR).collect()
    # offset-0 cells exist for every cohort and count the whole cohort
    # (a user is by definition active in their first week)
    zero = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    assert sum(zero.values()) == n_users
    for r in rows:
        assert r.week_offset >= 0
        # retention can never exceed the cohort's size
        assert r.n_users <= zero[r.cohort_week]


def test_kmeans_iterations_reduce_exact_inertia(spark):
    """Multi-iteration Lloyd: the exact integer inertia must drop from
    the seed centroids after the first update, never end above its
    start, and be bit-identical across runs (determinism under any
    partitioning)."""
    from dask_cudf_spark.operators.similarity import kmeans

    em = load_table(spark, SF_DIR, "embeddings")
    out1, in1 = kmeans(em, n_clusters=8, n_iter=3)
    out2, in2 = kmeans(em, n_clusters=8, n_iter=3)
    assert len(in1) == 3
    assert in1[1] < in1[0]           # first update strictly improves
    assert in1[-1] <= in1[0]
    assert in1 == in2
    a = sorted(map(tuple, out1.collect()))
    assert a == sorted(map(tuple, out2.collect()))
    assert len(a) == em.count()


def test_persisted_ivf_index_matches_inline_ivf(spark, tmp_path):
    """build_ivf_index + query_ivf_index must return exactly what the
    inline ivf_topk computes (same codebook, same probes, same
    re-rank) — the index is a layout, not a different algorithm.  Also
    asserts the search plan actually prunes: the scan touches only the
    probed list partitions."""
    from dask_cudf_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        query_ivf_index,
    )

    em = load_table(spark, SF_DIR, "embeddings")
    queries = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    codebook = build_ivf_index(em, path, n_centroids=16)
    assert len(codebook) == 16

    got = query_ivf_index(spark, path, queries, nprobe=4, k=5)
    want = ivf_topk(em, queries, n_centroids=16, nprobe=4, k=5)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w

    # partition pruning: the index scan's PartitionFilters must carry
    # the list_id IN (...) predicate
    from dask_cudf_spark.plans import plan_nodes

    assert any(
        "list_id" in meta.get("PartitionFilters", "")
        for _, _, _, meta in plan_nodes(got)
    )


def test_semdedup_derived_k_bounds_cell_size(spark):
    """q_semdedup derives its centroid count from the corpus size
    (K = max(16, ceil(N/64)), r4 VERDICT item 5), so a 10x corpus
    blow-up grows K instead of quadrupling within-cell pair work.
    Check both halves: the K formula scales, and at a blown-up corpus
    the realized MEAN cell population stays within a constant factor of
    the 64-vector target (cells are stride-sampled, not k-means-fitted,
    so individual cells vary; the mean is the O(N^2/K) driver)."""
    import math

    from dask_cudf_spark.operators.similarity import semdedup

    em = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n = em.count()
    # 10x blow-up via vec_id-shifted copies: same vectors, distinct ids
    # (explode, not a 10-way union — unioned lineages trip a Spark
    # localCheckpoint attribute-rewrite bug inside the operator)
    big = em.select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("i"),
        "vec_id",
        "embedding",
    ).select(
        (F.col("vec_id") + F.col("i") * 1_000_000).alias("vec_id"),
        "embedding",
    )
    n_big = 10 * n
    k_small = max(16, math.ceil(n / 64))
    k_big = max(16, math.ceil(n_big / 64))
    assert n_big / k_big <= 64  # derived K keeps the target cell size
    assert k_big > k_small  # K actually grew with the corpus

    out = semdedup(big, threshold=0.9, n_centroids=k_big, centroid_stride=13)
    cells = out.groupBy("cell").count().collect()
    # survivors-per-cell underestimates assignment size only by dropped
    # dups; mean must stay O(target), far below the fixed-K-16 regime
    # (which would average n_big/16 = 312+ per cell at sf0.001)
    mean_pop = sum(r["count"] for r in cells) / max(1, len(cells))
    assert mean_pop <= 2 * 64, mean_pop


def test_cosine_topk_rejects_oversized_query_side(spark, monkeypatch):
    """r4 VERDICT item 7 (nit): the queries side is driver-collected,
    so misuse (swapped corpus/queries) must raise, not OOM."""
    import pytest

    from dask_cudf_spark.operators import similarity
    from dask_cudf_spark.operators.similarity import cosine_topk

    em = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    monkeypatch.setattr(similarity, "MAX_QUERIES", 10)
    big_queries = em.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="must be small"):
        cosine_topk(em, big_queries, k=3)
    # within the cap it still works
    small = big_queries.filter(F.col("query_id") < 3)
    assert cosine_topk(em, small, k=3).count() == 9
