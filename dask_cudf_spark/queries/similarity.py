"""Similarity-search queries over `embeddings` (SURVEY.md §2.12)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

# DuckDB-side dot product: index lambda over 64 dims, double precision.
_DOT = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)
_NORM_A = (
    "sqrt(list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))"
)
_NORM_B = (
    "sqrt(list_sum(list_transform(range(1, 65), "
    "i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))"
)


def _geom_sql(e: str = "embedding") -> str:
    """DuckDB predicate for the directional-geometry input contract."""
    return f"{e} IS NOT NULL AND len(list_filter({e}, x -> x <> 0)) > 0"


#: Directional-geometry input contract (r11 corpus fuzz): a ZERO-NORM
#: vector has no direction — normalizing it is 0/0 = NaN, which poisons
#: cosine ranking, IVF/SemDeDup centroid assignment, and LSH signs with
#: engine-dependent NaN ordering (numpy argmin propagates NaN where SQL
#: ORDER BY sorts it last).  Zero vectors are excluded from DIRECTIONAL
#: queries exactly like NULLs (the round-9 "no geometry" contract);
#: magnitude-based ops (norms, quantization, L2 k-means/PQ, centroids,
#: JL projection) keep them — zero is a perfectly good POINT, just not
#: a direction.
_GEOM_WHERE = _geom_sql()


def _geom(em: DataFrame) -> DataFrame:
    """Spark twin of _GEOM_WHERE (see contract note above)."""
    return em.filter(
        F.col("embedding").isNotNull()
        & F.exists("embedding", lambda x: x != F.lit(0.0))
    )


@register(
    "q_cosine_sim",
    family="similarity",
    oracle=f"""
        SELECT query_id, neighbor_id, cosine, rank
        FROM (
            SELECT
                a.vec_id AS query_id,
                b.vec_id AS neighbor_id,
                ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cosine,
                ROW_NUMBER() OVER (
                    PARTITION BY a.vec_id
                    ORDER BY ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) DESC,
                             b.vec_id
                ) AS rank
            -- NULL vectors have no geometry: neither query nor
            -- neighbor (round-9 null leg; caught by the 30-percent
            -- density run — the 3-percent mask never nulled a
            -- vec_id < 10 query)
            FROM (SELECT * FROM embeddings WHERE {_GEOM_WHERE}) a
            JOIN (SELECT * FROM embeddings WHERE {_GEOM_WHERE}) b
              ON b.vec_id <> a.vec_id
            WHERE a.vec_id < 10
        ) WHERE rank <= 5
    """,
)
def q_cosine_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-5 cosine neighbors for 10 query vectors
    (operators/similarity.cosine_topk): driver-collected queries, single
    corpus scan scored by one Arrow-batched matmul per batch, per-query
    top-k window."""
    from ..operators.similarity import cosine_topk

    em = _geom(load_table(spark, sf_dir, "embeddings"))
    queries = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(em, queries, k=5, query_id_col="query_id")


@register(
    "q_centroids",
    family="similarity",
    oracle="""
        SELECT
            label,
            u.pos AS dim,
            ROUND(AVG(CAST(u.v AS DOUBLE)), 6) AS centroid_v,
            COUNT(*) AS n_vecs
        FROM (
            SELECT label,
                   unnest(list_transform(range(1, len(embedding) + 1),
                          i -> struct_pack(pos := i - 1, v := embedding[i]))) AS u
            FROM embeddings
        )
        GROUP BY label, u.pos
    """,
)
def q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids in exploded (label, dim) layout
    (operators/similarity.centroids) — groupBy(label, dim), never a
    per-label vector collect; scales to any embedding count."""
    from ..operators.similarity import centroids

    em = load_table(spark, sf_dir, "embeddings")
    out = centroids(em, "label", "embedding", round_dp=6)
    return out.select(
        F.col("label").cast("int").alias("label"),
        F.col("dim").cast("long").alias("dim"),
        "centroid_v",
        "n_vecs",
    )


def _duck_lsh_sig(vec: str, dim: int = 64, n_planes: int = 6, seed: int = 42) -> str:
    """DuckDB replica of lsh_bucket_topk's hyperplane signature: the
    planes are deterministic literals (seeded), the dot is the same
    sequential float64 sum, the sign bits pack identically."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    bits = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(p) for p in plane) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({lit}::DOUBLE[])[i]))"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


@register(
    "q_ann_lsh",
    family="similarity",
    oracle=None,  # replaced at import time below (needs generated plane literals)
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH
    (operators/similarity.lsh_bucket_topk) — the 100TB path: candidates
    only within matching signature buckets, exact re-rank inside.
    Fully oracle-checked: the seeded hyperplanes are replicated as SQL
    literals, so bucketing AND re-rank replay exactly in DuckDB."""
    from ..operators.similarity import lsh_bucket_topk

    em = _geom(load_table(spark, sf_dir, "embeddings"))
    queries = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucket_topk(em, queries, dim=64, k=5, n_planes=6, seed=42)


def _install_lsh_oracle() -> None:
    from ..registry import REGISTRY

    sig_c = _duck_lsh_sig("c.embedding")
    sig_q = _duck_lsh_sig("q.embedding")
    REGISTRY["q_ann_lsh"].oracle = f"""
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT q.vec_id AS query_id,
                   c.vec_id AS neighbor_id,
                   {_duck_cos("q.embedding", "c.embedding")} AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_duck_cos("q.embedding", "c.embedding")} DESC,
                                c.vec_id
                   ) AS rank
            FROM embeddings q
            JOIN embeddings c
              ON {sig_q} = {sig_c} AND c.vec_id <> q.vec_id
                 AND {_geom_sql("c.embedding")}
            WHERE q.vec_id < 10 AND {_geom_sql("q.embedding")}
        ) WHERE rank <= 5
    """


def _duck_cos(x: str, y: str) -> str:
    dot = (
        f"list_sum(list_transform(range(1, 65), "
        f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
    )
    nx = (
        f"sqrt(list_sum(list_transform(range(1, 65), "
        f"i -> CAST({x}[i] AS DOUBLE) * CAST({x}[i] AS DOUBLE))))"
    )
    ny = (
        f"sqrt(list_sum(list_transform(range(1, 65), "
        f"i -> CAST({y}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE))))"
    )
    return f"ROUND({dot} / ({nx} * {ny}), 6)"


@register(
    "q_ann_ivf",
    family="similarity",
    oracle=f"""
        WITH embeddings AS (
            -- engine semantics: NULL and ZERO-NORM vectors have no
            -- direction and are excluded (r9 null / r11 zero legs)
            SELECT * FROM main.embeddings WHERE {_GEOM_WHERE}
        ),
        seeds AS (
            SELECT cid, cvec, ROW_NUMBER() OVER (ORDER BY cid) - 1 AS cidx
            FROM (
                SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                WHERE vec_id % 13 = 0 ORDER BY vec_id LIMIT 16
            )
        ),
        assign AS (
            SELECT neighbor_id, cvec, list_id FROM (
                SELECT e.vec_id AS neighbor_id, e.embedding AS cvec,
                       s.cidx AS list_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY -{_duck_cos("e.embedding", "s.cvec")}, s.cidx
                       ) AS rn
                FROM embeddings e CROSS JOIN seeds s
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT query_id, qvec, list_id FROM (
                SELECT e.vec_id AS query_id, e.embedding AS qvec,
                       s.cidx AS list_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY -{_duck_cos("e.embedding", "s.cvec")}, s.cidx
                       ) AS rn
                FROM embeddings e CROSS JOIN seeds s
                WHERE e.vec_id < 10
            ) WHERE rn <= 4
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT p.query_id, a.neighbor_id,
                   {_duck_cos("p.qvec", "a.cvec")} AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_duck_cos("p.qvec", "a.cvec")} DESC, a.neighbor_id
                   ) AS rank
            FROM probes p
            JOIN assign a ON a.list_id = p.list_id
                         AND a.neighbor_id <> p.query_id
        ) WHERE rank <= 5
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN (operators/similarity.ivf_topk): deterministic
    coarse codebook (driver-collected, literal-inlined), partition-local
    list assignment — corpus never shuffles — broadcast probe join, exact
    re-rank. Fully oracle-checked (assignment + probing replicated in
    SQL), unlike the rows-only LSH path."""
    from ..operators.similarity import ivf_topk

    em = _geom(load_table(spark, sf_dir, "embeddings"))
    queries = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(em, queries, n_centroids=16, nprobe=4, k=5)


@register(
    "q_vector_norms",
    family="similarity",
    oracle="""
        SELECT
            vec_id,
            ROUND(sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6) AS l2_norm,
            ROUND(list_sum(list_transform(range(1, 65),
                i -> CAST(embedding[i] AS DOUBLE))), 6) AS v_sum
        FROM embeddings
        WHERE vec_id < 200
    """,
)
def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm + component sum per vector (reference Series.list
    reductions) — left-fold aggregate, rounded 6dp (float32 -> double)."""
    from ..operators.similarity import l2_norm

    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    e = F.col("embedding")
    return em.select(
        "vec_id",
        F.round(l2_norm(e), 6).alias("l2_norm"),
        F.round(
            F.aggregate(
                F.transform(e, lambda x: x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("v_sum"),
    )


@register(
    "q_neardup_embedding",
    family="dedup",
    oracle=f"""
        SELECT label, id_a, id_b, cosine, rank FROM (
            SELECT a.label,
                   a.vec_id AS id_a,
                   b.vec_id AS id_b,
                   {_duck_cos("a.embedding", "b.embedding")} AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.label
                       ORDER BY {_duck_cos("a.embedding", "b.embedding")} DESC,
                                a.vec_id, b.vec_id
                   ) AS rank
            FROM embeddings a
            JOIN embeddings b
              ON a.label = b.label AND b.vec_id > a.vec_id
                 AND {_geom_sql("b.embedding")}
            WHERE a.vec_id < 300 AND b.vec_id < 300
              AND {_geom_sql("a.embedding")}
        ) WHERE rank <= 3
    """,
)
def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: block on label (the
    cluster id — the production pattern blocks on a coarse quantizer
    cell), score pairs within blocks, keep the top-3 most similar per
    block.  Norms precomputed per row; pairs only form within blocks so
    the join never goes quadratic in the corpus."""
    from ..operators.similarity import dot, l2_norm
    from ..sources import scale_out

    em = (
        scale_out(_geom(load_table(spark, sf_dir, "embeddings")))
        .filter(F.col("vec_id") < 300)
        .select(
            "label",
            "vec_id",
            "embedding",
            l2_norm(F.col("embedding")).alias("__norm"),
        )
    )
    a = em.select(
        "label",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("__va"),
        F.col("__norm").alias("__na"),
    )
    b = em.select(
        "label",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    pairs = a.join(b, on="label").filter(F.col("id_b") > F.col("id_a"))
    scored = pairs.withColumn(
        "cosine",
        F.round(
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
        ),
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("cosine"), F.asc("id_a"), F.asc("id_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("label", "id_a", "id_b", "cosine", F.col("rank").cast("long").alias("rank"))
    )


_install_lsh_oracle()


@register(
    "q_embed_quantize",
    family="similarity",
    oracle="""
        SELECT vec_id,
               -- RAW division, deliberately un-ROUNDed: one IEEE divide
               -- of identical operands is bit-identical in both engines,
               -- while ROUND(x, 6) at huge magnitudes (scale ~1e21 for a
               -- 1e-20-magnitude vector) perturbs the ulp differently in
               -- DuckDB than Spark's BigDecimal rounding (r11 corpus fuzz)
               127.0 / maxabs AS q_scale,
               array_to_string(list_transform(range(1, 65),
                   i -> CAST(CAST(floor(CAST(embedding[i] AS DOUBLE)
                                        * (127.0 / maxabs) + 0.5) AS INTEGER)
                             AS VARCHAR)), ',') AS q_vals
        FROM (
            SELECT vec_id, embedding,
                   list_max(list_transform(range(1, 65),
                       i -> abs(CAST(embedding[i] AS DOUBLE)))) AS maxabs
            FROM embeddings
            WHERE vec_id < 300
        )
        WHERE maxabs > 0
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of an embedding column (the storage /
    ANN-index compression step of an embedding pipeline): per-vector
    scale = 127 / max|v_i|, q_i = floor(v_i * scale + 0.5).  Pure
    elementwise math — map-side only, no shuffle, scales linearly to
    any corpus size.  floor(x+0.5) is used instead of round() so both
    engines apply the same explicit half-up rule (float32 widens to
    float64 exactly, so all intermediate arithmetic is bit-identical).
    Quantized vector is emitted comma-joined: the driver comparator
    hashes pandas rows and cannot hash raw arrays."""
    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(e, F.abs))
    with_scale = em.select(
        "vec_id", e.alias("e"), (F.lit(127.0) / maxabs).alias("scale")
    ).filter(maxabs > 0)
    q = F.transform(
        F.col("e"),
        lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("int").cast("string"),
    )
    return with_scale.select(
        "vec_id",
        # raw division (no ROUND): see the oracle comment — rounding a
        # ~1e21 scale diverges at the ulp between engines
        F.col("scale").alias("q_scale"),
        F.array_join(q, ",").alias("q_vals"),
    )


@register(
    "q_semdedup",
    family="dedup",
    oracle=f"""
        WITH embeddings AS (
            -- engine semantics: NULL and ZERO-NORM vectors have no
            -- direction and are excluded (r9 null / r11 zero legs)
            SELECT * FROM main.embeddings WHERE {_GEOM_WHERE}
        ),
        k AS (
            SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) AS kk
            FROM embeddings
        ),
        seeds AS (
            SELECT cvec, rn - 1 AS cidx
            FROM (
                SELECT embedding AS cvec,
                       ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                FROM embeddings WHERE vec_id % 13 = 0
            ), k
            WHERE rn <= kk
        ),
        p AS (
            SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS stride2
            FROM seeds
        ),
        coarse AS (
            SELECT s.cidx // p.stride2 AS gidx, s.cvec AS gvec
            FROM seeds s, p WHERE s.cidx % p.stride2 = 0
        ),
        f2c_near AS (
            SELECT cidx, gidx FROM (
                SELECT s.cidx, c.gidx,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.cidx
                           ORDER BY -{_duck_cos("s.cvec", "c.gvec")}, c.gidx
                       ) AS rn
                FROM seeds s CROSS JOIN coarse c
            ) WHERE rn = 1
        ),
        f2c AS (
            SELECT s.cidx, s.cvec,
                   CASE WHEN s.cidx % p.stride2 = 0
                        THEN s.cidx // p.stride2
                        ELSE n.gidx END AS gidx
            FROM seeds s JOIN f2c_near n USING (cidx), p
        ),
        vcoarse AS (
            SELECT vec_id, embedding, gidx FROM (
                SELECT e.vec_id, e.embedding, c.gidx,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY -{_duck_cos("e.embedding", "c.gvec")}, c.gidx
                       ) AS rn
                FROM embeddings e CROSS JOIN coarse c
            ) WHERE rn = 1
        ),
        assign AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT v.vec_id, v.embedding, CAST(f.cidx AS BIGINT) AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY -{_duck_cos("v.embedding", "f.cvec")}, f.cidx
                       ) AS rn
                FROM vcoarse v JOIN f2c f ON f.gidx = v.gidx
            ) WHERE rn = 1
        ),
        normed AS (
            SELECT vec_id, cell,
                   list_transform(embedding, x -> CAST(x AS DOUBLE) /
                       sqrt(list_sum(list_transform(range(1, 65),
                           i -> CAST(embedding[i] AS DOUBLE)
                                * CAST(embedding[i] AS DOUBLE))))) AS nvec
            FROM assign
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM normed a JOIN normed b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ROUND(list_sum(list_transform(range(1, 65),
                      i -> a.nvec[i] * b.nvec[i])), 6) >= 0.9
        )
        SELECT a.vec_id, a.cell
        FROM assign a
        WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup survivors:
    quantize every embedding to its nearest coarse-codebook centroid
    (the deterministic stride-sample codebook ivf_topk uses, inlined as
    literals so the corpus never shuffles for assignment), then drop
    within-cell cosine near-duplicates (>= 0.9), keeping each group's
    min-id member.  Pairwise similarity only ever forms WITHIN a cell —
    one shuffle on the cell id, never O(N^2) across the corpus.  The
    DuckDB oracle replays codebook, assignment, and sweep exactly.

    K is DERIVED from the corpus count (r4 VERDICT item 5): ceil(N/64)
    centroids, floor 16, so cells stay ~64 vectors as the corpus grows
    and within-cell pair work stays linear in N — the shipped query is
    the scale-safe instance, not the quadratic fixed-K one.  The count
    is a metadata-only parquet job; the oracle computes the identical K
    from the same table.

    Assignment is TWO-LEVEL (r5 VERDICT item 2): nearest of ceil(
    sqrt(K)) super-centroids first, then nearest fine centroid within
    that group only — O(N*sqrt(K)) instead of the flat O(N*K) scan,
    still zero-shuffle map-side.  The oracle replays the identical
    two-level rule (coarse codebook = every sqrt(K)-th fine centroid;
    sampled fines pinned to their own group so no group is empty)."""
    import math

    from ..operators.similarity import semdedup

    em = _geom(load_table(spark, sf_dir, "embeddings"))
    k = max(16, math.ceil(em.count() / 64))
    return semdedup(em, threshold=0.9, n_centroids=k, centroid_stride=13)


def _duck_sqd_s6(x: str, y: str, m: str) -> str:
    """1e6-scaled BIGINT squared-L2 distance between 16-dim subvectors
    ``m`` (0-based) of two 64-dim list columns — the DuckDB twin of
    operators.similarity._sqdist_s6 over a slice."""
    d = (
        f"(CAST({x}[{m}*16 + i] AS DOUBLE) - CAST({y}[{m}*16 + i] AS DOUBLE))"
    )
    return (
        f"CAST(ROUND(list_sum(list_transform(range(1, 17), "
        f"i -> {d} * {d})) * 1000000, 0) AS BIGINT)"
    )


@register(
    "q_ann_pq",
    family="similarity",
    tags=["flagship"],
    oracle=f"""
        WITH embeddings AS (
            -- engine semantics: NULL vectors have no geometry and are
            -- excluded from codebooks, corpus, and queries alike
            SELECT * FROM main.embeddings WHERE embedding IS NOT NULL
        ),
        seeds AS (
            SELECT cvec, ROW_NUMBER() OVER (ORDER BY cid) - 1 AS cidx
            FROM (
                SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                WHERE vec_id % 17 = 0 ORDER BY vec_id LIMIT 8
            )
        ),
        ms AS (SELECT UNNEST(range(0, 4)) AS m),
        codes AS (
            SELECT vec_id, m, cidx AS code FROM (
                SELECT e.vec_id, ms.m, s.cidx,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id, ms.m
                           ORDER BY {_duck_sqd_s6("e.embedding", "s.cvec", "ms.m")} ASC,
                                    s.cidx
                       ) AS rn
                FROM embeddings e CROSS JOIN ms CROSS JOIN seeds s
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT q.vec_id AS query_id, ms.m, s.cidx,
                   {_duck_sqd_s6("q.embedding", "s.cvec", "ms.m")} AS d
            FROM embeddings q CROSS JOIN ms CROSS JOIN seeds s
            WHERE q.vec_id < 10
        )
        SELECT query_id, neighbor_id, adc_dist_s6, rank FROM (
            SELECT query_id, neighbor_id, adc_dist_s6,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY adc_dist_s6 ASC, neighbor_id
                   ) AS rank
            FROM (
                SELECT l.query_id, c.vec_id AS neighbor_id,
                       CAST(SUM(l.d) AS BIGINT) AS adc_dist_s6
                FROM codes c
                JOIN lut l ON l.m = c.m AND l.cidx = c.code
                WHERE c.vec_id <> l.query_id
                GROUP BY l.query_id, c.vec_id
            )
        ) WHERE rank <= 5
    """,
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (operators/similarity.pq_topk): 4 subspaces x 8-code deterministic
    codebooks inlined as literals, corpus encoded to 4 small ints
    partition-locally (never shuffles; at scale the candidate scan
    reads codes, not floats), per-query ADC lookup tables built
    map-side, scoring = 4 integer array lookups + adds per pair.
    Distances are 1e6-scaled squared-L2 BIGINTs end to end, so the
    codebook assignment, candidate ranking, and oracle hash are exact
    on both engines."""
    from ..operators.similarity import pq_topk

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(em, queries, n_subspaces=4, n_codes=8, k=5)


def _duck_s6(x: str) -> str:
    """list<float> -> list<bigint>, each component 1e6-scaled + rounded
    (the DuckDB twin of operators.similarity._s6)."""
    return (
        f"list_transform({x}, x -> "
        f"CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
    )


def _duck_sqd_int(a: str, b: str) -> str:
    """Integer squared-L2 between two 64-dim list<bigint> columns."""
    return (
        f"list_sum(list_transform(range(1, 65), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


@register(
    "q_kmeans_step",
    family="similarity",
    tags=["flagship"],
    oracle=f"""
        WITH embeddings AS (
            -- engine semantics: NULL vectors have no geometry and are
            -- excluded from codebooks, corpus, and queries alike
            SELECT * FROM main.embeddings WHERE embedding IS NOT NULL
        ),
        seeds AS (
            SELECT cvec, ROW_NUMBER() OVER (ORDER BY cid) - 1 AS cidx
            FROM (
                SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                WHERE vec_id % 19 = 0 ORDER BY vec_id LIMIT 8
            )
        ),
        vs AS (
            SELECT vec_id, {_duck_s6("embedding")} AS v FROM embeddings
        ),
        cs AS (
            SELECT CAST(cidx AS BIGINT) AS cl, {_duck_s6("cvec")} AS c
            FROM seeds
        ),
        assign0 AS (
            SELECT vec_id, cl FROM (
                SELECT vs.vec_id, cs.cl,
                       ROW_NUMBER() OVER (
                           PARTITION BY vs.vec_id
                           ORDER BY {_duck_sqd_int("vs.v", "cs.c")} ASC, cs.cl
                       ) AS rn
                FROM vs CROSS JOIN cs
            ) WHERE rn = 1
        ),
        comp AS (
            SELECT a.cl, g.i AS pos,
                   CAST(SUM(vs.v[g.i]) AS BIGINT) AS s, COUNT(*) AS n
            FROM assign0 a JOIN vs USING (vec_id)
            CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) g
            GROUP BY a.cl, g.i
        ),
        newc AS (
            SELECT cl,
                   list(CAST(TRUNC(CAST(s AS DOUBLE) / n) AS BIGINT)
                        ORDER BY pos) AS c
            FROM comp GROUP BY cl
        ),
        reassign AS (
            SELECT vec_id, cl1 FROM (
                SELECT vs.vec_id, nc.cl AS cl1,
                       ROW_NUMBER() OVER (
                           PARTITION BY vs.vec_id
                           ORDER BY {_duck_sqd_int("vs.v", "nc.c")} ASC, nc.cl
                       ) AS rn
                FROM vs CROSS JOIN newc nc
            ) WHERE rn = 1
        )
        SELECT cluster, n_points, centroid_sum_s6
        FROM (SELECT cl1 AS cluster, COUNT(*) AS n_points
              FROM reassign GROUP BY cl1) r
        LEFT JOIN (SELECT cl AS cluster,
                          CAST(list_sum(c) AS BIGINT) AS centroid_sum_s6
                   FROM newc) nc
        USING (cluster)
    """,
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact distributed Lloyd k-means iteration
    (operators/similarity.kmeans_step): map-side assignment against
    codebook literals, ONE map-side-combined shuffle of (cluster,
    component) partial sums (K*dim rows reach the reducers regardless
    of corpus size), updated centroids broadcast back as a single-row
    array for the map-side re-assignment.  All arithmetic in 1e6-scaled
    BIGINT space with truncated component means, so assignments, ties,
    and the oracle hash are exact on both engines."""
    from ..operators.similarity import kmeans_step

    em = load_table(spark, sf_dir, "embeddings")
    return kmeans_step(em, n_clusters=8, seed_stride=19)


def _ann_recall_oracle() -> str:
    """Brute-force and IVF top-5 CTE chains (the q_cosine_sim and
    q_ann_ivf oracles verbatim) joined into per-query recall@5."""
    return f"""
        WITH embeddings AS (
            -- engine semantics: NULL and ZERO-NORM vectors have no
            -- direction and are excluded (r9 null / r11 zero legs)
            SELECT * FROM main.embeddings WHERE {_GEOM_WHERE}
        ),
        brute AS (
            SELECT query_id, neighbor_id FROM (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_duck_cos("a.embedding", "b.embedding")}
                                        DESC,
                                    b.vec_id
                       ) AS rank
                FROM embeddings a
                JOIN embeddings b ON b.vec_id <> a.vec_id
                WHERE a.vec_id < 10
            ) WHERE rank <= 5
        ),
        seeds AS (
            SELECT cid, cvec, ROW_NUMBER() OVER (ORDER BY cid) - 1 AS cidx
            FROM (
                SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                WHERE vec_id % 13 = 0 ORDER BY vec_id LIMIT 16
            )
        ),
        assign AS (
            SELECT neighbor_id, cvec, list_id FROM (
                SELECT e.vec_id AS neighbor_id, e.embedding AS cvec,
                       s.cidx AS list_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY -{_duck_cos("e.embedding", "s.cvec")},
                                    s.cidx
                       ) AS rn
                FROM embeddings e CROSS JOIN seeds s
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT query_id, qvec, list_id FROM (
                SELECT e.vec_id AS query_id, e.embedding AS qvec,
                       s.cidx AS list_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY -{_duck_cos("e.embedding", "s.cvec")},
                                    s.cidx
                       ) AS rn
                FROM embeddings e CROSS JOIN seeds s
                WHERE e.vec_id < 10
            ) WHERE rn <= 4
        ),
        ivf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT p.query_id, a.neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.query_id
                           ORDER BY {_duck_cos("p.qvec", "a.cvec")} DESC,
                                    a.neighbor_id
                       ) AS rank
                FROM probes p
                JOIN assign a ON a.list_id = p.list_id
                             AND a.neighbor_id <> p.query_id
            ) WHERE rank <= 5
        )
        SELECT b.query_id,
               CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
               (1000000 * CAST(COUNT(i.neighbor_id) AS BIGINT)) // 5
                   AS recall_ppm
        FROM brute b
        LEFT JOIN ivf i USING (query_id, neighbor_id)
        GROUP BY b.query_id
        ORDER BY b.query_id
    """


@register(
    "q_ann_recall",
    family="similarity",
    oracle=None,  # set below (generated from the shared cosine twin)
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality self-evaluation: recall@5 of the IVF path against
    the exact brute-force ground truth, per query — the metric that
    decides nprobe/n_centroids in production, computed IN the engine
    as one relational query (top-k set intersection), not an offline
    script.  Both the approximate and the exact path are themselves
    oracle-verified queries (q_ann_ivf / q_cosine_sim); this composes
    them into the evaluation harness.

    Scale: ground truth is the expensive half (brute top-k) — in
    production you run this on a SAMPLED query set (here: the same 10
    queries both paths serve), so cost is |sample| x corpus, one scan
    each, no quadratic blow-up."""
    from ..operators.similarity import cosine_topk, ivf_topk

    em = _geom(load_table(spark, sf_dir, "embeddings"))
    queries = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = cosine_topk(em, queries, k=5, query_id_col="query_id").select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_topk(em, queries, n_centroids=16, nprobe=4, k=5).select(
        F.col("query_id").alias("ivf_query"),
        F.col("neighbor_id").alias("ivf_neighbor"),
    )
    return (
        brute.join(
            ivf,
            (F.col("query_id") == F.col("ivf_query"))
            & (F.col("neighbor_id") == F.col("ivf_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("ivf_neighbor").cast("long").alias("n_hits"),
            F.expr("(1000000 * count(ivf_neighbor)) div 5").alias(
                "recall_ppm"
            ),
        )
        .orderBy("query_id")
    )


_REG_SIM = __import__(
    "dask_cudf_spark.registry", fromlist=["REGISTRY"]
).REGISTRY
_REG_SIM["q_ann_recall"].oracle = _ann_recall_oracle()


def _duck_cos_prefix(x: str, y: str, ndims: int) -> str:
    """ROUND-6 cosine over the first ``ndims`` components (DuckDB)."""
    dot = (
        f"list_sum(list_transform(range(1, {ndims + 1}), "
        f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
    )
    nx = (
        f"sqrt(list_sum(list_transform(range(1, {ndims + 1}), "
        f"i -> CAST({x}[i] AS DOUBLE) * CAST({x}[i] AS DOUBLE))))"
    )
    ny = (
        f"sqrt(list_sum(list_transform(range(1, {ndims + 1}), "
        f"i -> CAST({y}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE))))"
    )
    return f"ROUND({dot} / ({nx} * {ny}), 6)"


def _mrl_oracle() -> str:
    def topk(ndims: int, name: str) -> str:
        return f"""
        {name} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_duck_cos_prefix("a.embedding", "b.embedding", ndims)}
                                        DESC,
                                    b.vec_id
                       ) AS rank
                -- directional contract: NULL and zero-norm excluded
                -- on both sides (r11; see _GEOM_WHERE)
                FROM (SELECT * FROM embeddings WHERE {_GEOM_WHERE}) a
                JOIN (SELECT * FROM embeddings WHERE {_GEOM_WHERE}) b
                  ON b.vec_id <> a.vec_id
                WHERE a.vec_id < 10
            ) WHERE rank <= 5
        )"""

    return f"""
        WITH {topk(64, "full64")},
        {topk(16, "pre16")},
        {topk(32, "pre32")}
        SELECT d.dim_budget, f.query_id,
               CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
               (1000000 * CAST(COUNT(p.neighbor_id) AS BIGINT)) // 5
                   AS recall_ppm
        FROM full64 f
        CROSS JOIN (SELECT UNNEST([16, 32]) AS dim_budget) d
        LEFT JOIN (
            SELECT 16 AS dim_budget, * FROM pre16
            UNION ALL
            SELECT 32 AS dim_budget, * FROM pre32
        ) p USING (dim_budget, query_id, neighbor_id)
        GROUP BY d.dim_budget, f.query_id
        ORDER BY d.dim_budget, f.query_id
    """


@register(
    "q_mrl_recall",
    family="similarity",
    oracle=None,  # set below (generated from the prefix-cosine twin)
)
def q_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022,
    arXiv:2205.13147): recall@5 of brute-force search over only the
    FIRST 16 / 32 embedding dimensions against the full-64-dim ground
    truth — the measurement behind shipping truncated embeddings (4x /
    2x cheaper storage and scan) at a known recall cost.

    Scale: one broadcast-queries corpus scan computes ALL prefix
    cosines at once (the 16-dim dot is a prefix sum of the 64-dim
    fold, so the marginal cost of extra budgets is one fold, not one
    scan each); per-(budget, query) top-5 windows and a set-intersect
    rollup follow."""
    em = _geom(load_table(spark, sf_dir, "embeddings"))
    q = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )

    def cos_prefix(n: int):
        dot = F.aggregate(
            F.zip_with(
                F.slice("qvec", 1, n),
                F.slice("embedding", 1, n),
                lambda a, b: a.cast("double") * b.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        nq = F.sqrt(
            F.aggregate(
                F.slice("qvec", 1, n),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        nc = F.sqrt(
            F.aggregate(
                F.slice("embedding", 1, n),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        return F.round(dot / (nq * nc), 6)

    scored = (
        em.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos_prefix(64).alias("cos64"),
            cos_prefix(16).alias("cos16"),
            cos_prefix(32).alias("cos32"),
        )
        # three top-k windows consume this |queries| x |corpus| frame;
        # checkpoint so the scan + three cosine folds run once
        .localCheckpoint(eager=False)
    )

    def top5(col: str):
        w = Window.partitionBy("query_id").orderBy(
            F.desc(col), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "neighbor_id")
        )

    truth = top5("cos64")
    cand = top5("cos16").select(
        F.lit(16).cast("long").alias("dim_budget"), "query_id", "neighbor_id"
    ).unionByName(
        top5("cos32").select(
            F.lit(32).cast("long").alias("dim_budget"),
            "query_id",
            "neighbor_id",
        )
    )
    budgets = truth.crossJoin(
        F.broadcast(
            truth.sparkSession.createDataFrame(
                [(16,), (32,)], "dim_budget long"
            )
        )
    )
    cand_r = cand.select(
        F.col("dim_budget").alias("c_budget"),
        F.col("query_id").alias("c_query"),
        F.col("neighbor_id").alias("hit"),
    )
    return (
        budgets.join(
            cand_r,
            (F.col("query_id") == F.col("c_query"))
            & (F.col("dim_budget") == F.col("c_budget"))
            & (F.col("neighbor_id") == F.col("hit")),
            "left",
        )
        .groupBy("dim_budget", "query_id")
        .agg(
            F.count("hit").cast("long").alias("n_hits"),
            F.expr("(1000000 * count(hit)) div 5").alias("recall_ppm"),
        )
        .orderBy("dim_budget", "query_id")
    )


_REG_SIM["q_mrl_recall"].oracle = _mrl_oracle()


def _jl_signs(n_in: int = 64, n_out: int = 16) -> list[list[int]]:
    """Deterministic +-1 projection matrix from md5 — shared by the
    Spark expression and the generated oracle so both engines project
    with the SAME rotation."""
    import hashlib

    signs = []
    for j in range(n_out):
        row = []
        for i in range(n_in):
            hd = hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()
            row.append(1 if int(hd[:2], 16) % 2 == 0 else -1)
        signs.append(row)
    return signs


def _jl_oracle() -> str:
    signs = _jl_signs()
    proj = ", ".join(
        "CAST(list_sum(list_transform(range(1, 65), i -> "
        f"CAST(TRUNC(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)"
        f" * ([{', '.join(str(v) for v in row)}]::BIGINT[])[i])) AS BIGINT)"
        f" AS p{j}"
        for j, row in enumerate(signs)
    )
    p2 = " + ".join(f"p{j} * p{j}" for j in range(16))
    return f"""
        WITH s AS (
            SELECT vec_id,
                   CAST(list_sum(list_transform(range(1, 65), i ->
                       CAST(TRUNC(CAST(embedding[i] AS DOUBLE) * 10000)
                            AS BIGINT)
                       * CAST(TRUNC(CAST(embedding[i] AS DOUBLE) * 10000)
                              AS BIGINT))) AS BIGINT) AS norm2,
                   {proj}
            FROM embeddings WHERE vec_id < 200
        )
        SELECT vec_id, norm2,
               CAST({p2} AS BIGINT) AS proj_norm2,
               (1000000 * CAST({p2} AS BIGINT))
                   // (16 * GREATEST(norm2, 1)) AS distortion_ppm
        FROM s
        ORDER BY vec_id
    """


@register(
    "q_jl_projection",
    family="similarity",
    oracle=None,  # set below (generated from the shared sign matrix)
)
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch (Achlioptas 2003's +-1 variant):
    project 64-dim embeddings to 16 dims through a deterministic
    +-1 matrix and AUDIT the distortion per vector — since
    E[proj_j^2] = ||x||^2 for +-1 rows, the ratio ||proj||^2 /
    (16 ||x||^2) concentrates at 1, and the query reports it in ppm
    so downstream consumers can decide whether 4x cheaper vectors
    hold their distances (the random-rotation complement to
    q_mrl_recall's learned-prefix truncation).  Embeddings quantize
    to 1e4-scaled integers first (the scale that keeps 1e6*||proj||^2
    inside int64), so projections, norms, and ratios
    are exact integers in both engines.

    Scale: entirely map-side; no shuffle but the output ORDER BY.  The
    sign matrix rides into the plan as ONE from_json constant (r5
    VERDICT nit: 1024 separate literal expressions made this the
    slowest replay row purely on analyzer/codegen cost — a single
    constant-folded literal keeps the plan flat)."""
    import json as _json

    signs = _jl_signs()
    signs_lit = F.from_json(
        F.lit(_json.dumps(signs)), "array<array<bigint>>"
    )
    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200
    )
    xs6 = F.transform(
        F.col("embedding"),
        lambda x: F.expr("CAST(1 AS LONG)")
        * (x.cast("double") * 10000).cast("long"),
    )
    staged = em.select("vec_id", xs6.alias("xs"))
    norm2 = F.aggregate(
        F.transform(F.col("xs"), lambda v: v * v),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    proj_arr = F.transform(
        signs_lit,
        lambda row: F.aggregate(
            F.zip_with(F.col("xs"), row, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ),
    )
    proj_norm2 = F.aggregate(
        F.transform(proj_arr, lambda p: p * p),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    s = staged.select(
        "vec_id",
        norm2.alias("norm2"),
        proj_norm2.alias("proj_norm2"),
    )
    return s.select(
        "vec_id",
        "norm2",
        "proj_norm2",
        F.expr(
            "CAST((1000000 * proj_norm2) div (16 * greatest(norm2, 1))"
            " AS LONG)"
        ).alias("distortion_ppm"),
    ).orderBy("vec_id")


_REG_JL = __import__(
    "dask_cudf_spark.registry", fromlist=["REGISTRY"]
).REGISTRY
_REG_JL["q_jl_projection"].oracle = _jl_oracle()


@register(
    "q_embedding_audit",
    family="similarity",
    oracle="""
        SELECT
            COUNT(*) AS n_rows,
            CAST(SUM(CASE WHEN embedding IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
            CAST(SUM(CASE WHEN embedding IS NOT NULL
                          AND len(embedding) <> 64
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
            CAST(SUM(CASE WHEN embedding IS NOT NULL
                          AND len(list_filter(embedding,
                                  x -> isnan(x) OR NOT isfinite(x))) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
            CAST(SUM(CASE WHEN embedding IS NOT NULL
                          AND len(list_filter(embedding,
                                  x -> isnan(x) OR NOT isfinite(x))) = 0
                          AND len(list_filter(embedding, x -> x <> 0)) = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
            CAST(SUM(CASE WHEN embedding IS NOT NULL
                          AND len(embedding) = 64
                          AND len(list_filter(embedding,
                                  x -> isnan(x) OR NOT isfinite(x))) = 0
                          AND len(list_filter(embedding, x -> x <> 0)) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_geometry_ready
        FROM embeddings
    """,
)
def q_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding ingest gate (r11) — the vector-column counterpart of
    q_null_audit's "gate, don't guess" stance: ONE metadata-light scan
    profiles every way a vector can violate the geometry contract the
    directional operators declare — NULL, wrong dimension (the table
    invariant is 64), non-finite elements (NaN/Inf poison every
    distance kernel), zero norm (no direction) — plus the count that
    remains geometry-ready.  The RAGGED corpus-fuzz probe
    (RAGGED=1 scripts/corpus_fuzz.py) deliberately produces all four
    defect classes; geometry queries are NOT required to accept them —
    this audit is the pipeline step that keeps such rows out, exactly
    as a production ingest job would before building an ANN index.

    Scale: one map-side pass, conditional aggregates only — no
    shuffle beyond the single global rollup; linear at any corpus
    size."""
    em = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    nonfinite = F.exists(
        e, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    nonzero = F.exists(e, lambda x: x != F.lit(0.0))
    return em.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(e.isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(
            F.when(e.isNotNull() & (F.size(e) != 64), 1).otherwise(0)
        ).alias("n_wrong_dim"),
        F.sum(F.when(e.isNotNull() & nonfinite, 1).otherwise(0)).alias(
            "n_nonfinite"
        ),
        F.sum(
            F.when(e.isNotNull() & ~nonfinite & ~nonzero, 1).otherwise(0)
        ).alias("n_zero_norm"),
        F.sum(
            F.when(
                e.isNotNull() & (F.size(e) == 64) & ~nonfinite & nonzero,
                1,
            ).otherwise(0)
        ).alias("n_geometry_ready"),
    )


@register(
    "q_class_balance",
    family="similarity",
    oracle="""
        -- exact counts -> one double division per share -> ln on the
        -- same doubles -> x1e6 scaled round (the stat-oracle
        -- discipline).  NULL labels are a class like any other (SQL
        -- GROUP BY) — the audit must SEE unlabeled mass, not drop it.
        WITH c AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n
            FROM embeddings GROUP BY label
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM c
        )
        SELECT label, n,
               CAST(FLOOR(1000000.0 * n / n_total + 0.5) AS BIGINT)
                   AS share_s6,
               CAST(FLOOR(1000000.0 * n_total / (k * n) + 0.5) AS BIGINT)
                   AS weight_s6,
               CAST(FLOOR(1000000 * (
                   -(CAST(n AS DOUBLE) / n_total)
                   * ln(CAST(n AS DOUBLE) / n_total)) + 0.5) AS BIGINT)
                   AS entropy_term_s6
        FROM c, tot
    """,
)
def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-balance audit over the embeddings table — the
    pre-training sanity gate for any labeled corpus: per-class counts,
    corpus share, the sklearn-style 'balanced' inverse-frequency
    weight n_total/(k*n_i) a reweighted loss would use, and each
    class's Shannon-entropy term (sum them for dataset entropy;
    exp(sum) is the effective class count).  NULL labels form a real
    class — an audit that silently drops unlabeled rows understates
    exactly the mass it exists to surface.

    Scale: ONE |classes|-row shuffle with map-side partial counts; the
    (n_total, k) pair broadcasts back as a 1-row literal.  Nothing
    grows with corpus size except the map side."""
    e = load_table(spark, sf_dir, "embeddings")
    c = e.groupBy("label").agg(F.count("*").cast("long").alias("n"))
    tot = c.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("k"),
    )
    j = c.crossJoin(F.broadcast(tot))
    share = F.col("n").cast("double") / F.col("n_total")
    # scaled shares use the oracle's single-rounding order (1e6 * n is
    # exact over the integer range, then ONE division rounding) — the
    # divide-then-multiply form rounds twice and can flip an exact-half
    return j.select(
        "label",
        "n",
        F.floor(F.lit(1000000.0) * F.col("n") / F.col("n_total") + F.lit(0.5))
        .cast("long")
        .alias("share_s6"),
        F.floor(
            F.lit(1000000.0) * F.col("n_total") / (F.col("k") * F.col("n"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("weight_s6"),
        F.floor(-share * F.log(share) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("entropy_term_s6"),
    )


@register(
    "q_centroid_shift",
    family="similarity",
    oracle="""
        -- embedding drift per label: squared L2 distance between the
        -- per-label MEAN vectors of two corpus halves (vec_id
        -- parity).  Determinism: elements land as x1e4 scaled BIGINTs
        -- (floor(x*1e4+0.5), det.py discipline) so per-dimension sums
        -- are EXACT integers in any order; each dimension's
        -- contribution is rounded to a BIGINT before the cross-dim
        -- sum, so the final total is an order-free integer sum — a
        -- raw double sum over dims would hash-flake on reduction
        -- order.  Labels present in only one half drop (a mean shift
        -- needs both means).
        WITH e AS (
            SELECT label, vec_id % 2 = 0 AS even, u.i AS dim,
                   CAST(FLOOR(CAST(u.x AS DOUBLE) * 10000 + 0.5)
                        AS BIGINT) AS sx
            FROM (
                SELECT label, vec_id,
                       unnest(list_transform(
                           range(1, len(embedding) + 1),
                           i -> struct_pack(i := i - 1, x := embedding[i])
                       )) AS u
                FROM embeddings
            )
        ),
        per_dim AS (
            SELECT label, dim,
                   CAST(SUM(CASE WHEN even THEN sx ELSE 0 END) AS BIGINT)
                       AS se,
                   CAST(SUM(CASE WHEN even THEN 0 ELSE sx END) AS BIGINT)
                       AS so,
                   CAST(SUM(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_e,
                   CAST(SUM(CASE WHEN even THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_o
            FROM e GROUP BY label, dim
            HAVING SUM(CASE WHEN even THEN 1 ELSE 0 END) > 0
               AND SUM(CASE WHEN even THEN 0 ELSE 1 END) > 0
        )
        SELECT label,
               CAST(MAX(n_e) AS BIGINT) AS n_even,
               CAST(MAX(n_o) AS BIGINT) AS n_odd,
               CAST(SUM(CAST(FLOOR(
                   (CAST(se AS DOUBLE) / n_e - CAST(so AS DOUBLE) / n_o)
                   * (CAST(se AS DOUBLE) / n_e - CAST(so AS DOUBLE) / n_o)
                   + 0.5) AS BIGINT)) AS BIGINT) AS shift_sq
        FROM per_dim GROUP BY label
    """,
)
def q_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per label: squared L2 distance between
    the mean vectors of two corpus halves (vec_id parity) — the
    geometric drift screen the categorical stats (chi2/JSD on counts)
    cannot see: a class whose FREQUENCY is stable but whose embedding
    cloud migrated (new topic under an old label, encoder change) has
    zero count drift and a large centroid shift.  Reported in scaled
    element units squared (x1e4 per axis).

    Determinism discipline: elements are scaled to exact int64
    (floor(x*1e4+0.5)) so per-dimension sums are order-free; the
    dimension contributions round to BIGINT before the final sum, so
    no double ever crosses a reduction whose order Spark/DuckDB could
    disagree on.  Labels missing a half drop (HAVING both counts > 0).

    Scale: posexplode multiplies rows by dims but collapses map-side
    into |labels| x dims partial sums — the shuffle carries counts,
    never vectors; the final |labels|-row aggregate is metadata-scale."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("even"),
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).select(
        "label",
        "even",
        "dim",
        F.floor(F.col("x").cast("double") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("sx"),
    )
    per_dim = (
        ex.groupBy("label", "dim")
        .agg(
            F.sum(F.when(F.col("even"), F.col("sx")).otherwise(0))
            .cast("long")
            .alias("se"),
            F.sum(F.when(F.col("even"), 0).otherwise(F.col("sx")))
            .cast("long")
            .alias("so"),
            F.sum(F.when(F.col("even"), 1).otherwise(0))
            .cast("long")
            .alias("n_e"),
            F.sum(F.when(F.col("even"), 0).otherwise(1))
            .cast("long")
            .alias("n_o"),
        )
        .filter((F.col("n_e") > 0) & (F.col("n_o") > 0))
    )
    d = F.col("se").cast("double") / F.col("n_e") - F.col("so").cast(
        "double"
    ) / F.col("n_o")
    return per_dim.groupBy("label").agg(
        F.max("n_e").cast("long").alias("n_even"),
        F.max("n_o").cast("long").alias("n_odd"),
        F.sum(F.floor(d * d + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("shift_sq"),
    )
