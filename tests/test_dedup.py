"""Dedup operator unit tests: connected-components path parity
(union-find vs distributed label propagation), type-generic node ids,
and the explicit cap_bucket oversize policies (round-4 ADVICE — no
silent bucket truncation)."""

from __future__ import annotations

import pytest

from dask_cudf_spark.operators.dedup import (
    connected_components,
    minhash_sig_pairs,
    near_dedup_minhash_sig,
)


def _comp_map(df):
    return {r["node"]: r["component"] for r in df.collect()}


# ------------------------------------------------- connected components


def test_cc_chain_label_propagation_matches_unionfind(spark):
    """Round-3 VERDICT item 4: force the distributed label-propagation
    path (local_threshold=0) on a CHAIN graph — the worst case for
    O(diameter) convergence (a 60-node path needs the most min-label
    hops per merge round) — and assert exact parity with the
    union-find fast path on the same edges."""
    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    via_lp = _comp_map(
        connected_components(edges, local_threshold=0, max_iter=100)
    )
    via_uf = _comp_map(connected_components(edges))  # fast path
    expect = {i: 0 for i in range(n)}
    assert via_uf == expect
    assert via_lp == expect


def test_cc_overflow_sentinel_falls_back_exact(spark):
    """r16 guarded one-job switch (r15 VERDICT item 5): when the edge
    count exceeds ``local_threshold`` the union-find task emits the
    null sentinel and connected_components must fall back to the
    distributed loop — with results identical to the unrestricted
    fast path.  threshold=3 against a 59-edge chain forces the
    overflow on every attempt batch size."""
    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    via_overflow = _comp_map(
        connected_components(edges, local_threshold=3, max_iter=100)
    )
    expect = {i: 0 for i in range(n)}
    assert via_overflow == expect
    # the sentinel never leaks into the result
    assert None not in via_overflow


def test_cc_null_endpoint_edges_dropped(spark, monkeypatch):
    """An edge with a null endpoint names no node and is dropped: the
    union-find neither fails on it nor emits a null node (which reads
    as the overflow sentinel), so the call stays on the union-find
    path and returns the components of the clean edges."""
    from dask_cudf_spark.operators import dedup

    def no_fallback(*args, **kwargs):
        raise AssertionError("fell back to label propagation")

    monkeypatch.setattr(dedup, "_cc_label_propagation", no_fallback)
    clean = [(1, 2), (3, 2), (7, 8)]
    schema = "id_a long, id_b long"
    got = _comp_map(
        connected_components(
            spark.createDataFrame(
                clean + [(None, 9), (4, None), (None, None)], schema
            )
        )
    )
    assert got == _comp_map(
        connected_components(spark.createDataFrame(clean, schema))
    )
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_cc_label_propagation_multi_component_parity(spark):
    """Both paths agree on a mixed graph: two chains + a star + an
    isolated pair, with edges listed in arbitrary direction."""
    raw = (
        [(i + 1, i) for i in range(0, 9)]  # chain 0..9, reversed edges
        + [(i, i + 1) for i in range(20, 29)]  # chain 20..29
        + [(40, j) for j in range(41, 46)]  # star at 40
        + [(100, 99)]
    )
    edges = spark.createDataFrame(raw, "id_a long, id_b long")
    via_lp = _comp_map(
        connected_components(edges, local_threshold=0, max_iter=100)
    )
    via_uf = _comp_map(connected_components(edges))
    assert via_lp == via_uf
    assert via_lp[9] == 0 and via_lp[29] == 20
    assert via_lp[45] == 40 and via_lp[100] == 99


def test_cc_string_node_ids_both_paths(spark):
    """Round-4 ADVICE: the union-find fast path used to coerce ids with
    int() and hardcode a long output schema, crashing on string ids.
    Both paths must carry the source dtype through."""
    edges = spark.createDataFrame(
        [("url/b", "url/a"), ("url/b", "url/c"), ("url/x", "url/y")],
        "id_a string, id_b string",
    )
    expect = {
        "url/a": "url/a",
        "url/b": "url/a",
        "url/c": "url/a",
        "url/x": "url/x",
        "url/y": "url/x",
    }
    uf = connected_components(edges)
    assert dict(uf.dtypes) == {"node": "string", "component": "string"}
    assert _comp_map(uf) == expect
    lp = connected_components(edges, local_threshold=0, max_iter=10)
    assert _comp_map(lp) == expect


def test_cc_isolated_nodes_param(spark):
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    got = _comp_map(connected_components(edges, nodes=nodes))
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 4}


# ------------------------------------------------- cap_bucket policies


def _boilerplate_df(spark, n=12, text="the same boilerplate text repeated"):
    return spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )


def test_oversize_bucket_star_policy_full_coverage(spark):
    """12 identical docs with cap_bucket=4: the old slice() silently
    dropped ids 5..12 (under-dedup).  The star policy must still emit a
    pair reaching EVERY doc, and the full pipeline must keep exactly
    one survivor."""
    df = _boilerplate_df(spark, n=12)
    pairs = minhash_sig_pairs(df, cap_bucket=4, on_oversize="star")
    touched = set()
    n_pairs = 0
    for r in pairs.collect():
        touched.update((r["id_a"], r["id_b"]))
        n_pairs += 1
        assert r["n_match"] == 16  # identical docs -> full agreement
    assert touched == set(range(12))
    # star emits O(n) pairs per oversized bucket, not O(n^2)
    assert n_pairs <= 4 * 11  # <= bands * (n - 1)

    kept = near_dedup_minhash_sig(df, threshold=0.8)
    assert [r["doc_id"] for r in kept.collect()] == [0]


def test_oversize_bucket_error_policy_raises(spark):
    df = _boilerplate_df(spark, n=12)
    pairs = minhash_sig_pairs(df, cap_bucket=4, on_oversize="error")
    with pytest.raises(Exception, match="cap_bucket"):
        pairs.collect()


def test_within_cap_policies_identical(spark):
    """Below the cap all three policies are the same all-pairs plan."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally different content over here now"),
        ],
        "doc_id long, text string",
    )
    outs = [
        sorted(
            (r["id_a"], r["id_b"], r["n_match"])
            for r in minhash_sig_pairs(
                df, cap_bucket=100, on_oversize=p
            ).collect()
        )
        for p in ("star", "error", "truncate")
    ]
    assert outs[0] == outs[1] == outs[2]
    assert outs[0] and all(a == 1 and b == 2 for a, b, _ in outs[0])


def test_invalid_oversize_policy_rejected(spark):
    with pytest.raises(ValueError, match="on_oversize"):
        minhash_sig_pairs(_boilerplate_df(spark, 2), on_oversize="drop")


def test_truncate_mode_degenerate_cap(spark):
    """Round-4 review: cap_bucket<=1 in truncate mode used to build a
    DESCENDING index sequence (self-pairs + element_at(_, 0) crash);
    it must yield zero pairs like the old slice path."""
    df = _boilerplate_df(spark, n=5)
    got = minhash_sig_pairs(df, cap_bucket=1, on_oversize="truncate").collect()
    assert got == []
    # cap=2 keeps exactly the first two ids per bucket
    got2 = minhash_sig_pairs(df, cap_bucket=2, on_oversize="truncate").collect()
    assert {(r["id_a"], r["id_b"]) for r in got2} == {(0, 1)}


def test_neardup_blocked_banding_lossless_and_bounded(spark):
    """Round-5 (r4 VERDICT item 7): q_neardup_blocked's length-band
    blocking must (a) return EXACTLY the pairs the plain quadratic
    (lang, source) sweep finds at Jaccard >= 0.5 — banding is lossless
    because J >= 0.5 forces a <= 2x distinct-token-count ratio, i.e.
    band distance <= 1 — and (b) bound candidate generation: one
    (lang, source) group with length-stratified docs must produce far
    fewer candidates than the quadratic n*(n-1)/2."""
    from pyspark.sql import functions as F

    from dask_cudf_spark.queries.text import _neardup_blocked_candidates

    # one block, 64 docs across 4 length strata (4, 16, 64, 256 toks);
    # within a stratum every doc shares a long common prefix -> dups
    rows = []
    doc = 0
    for stratum, length in enumerate([4, 16, 64, 256]):
        for j in range(16):
            toks = [f"s{stratum}w{k}" for k in range(length - 1)]
            toks.append(f"uniq{doc}")  # 1-token difference inside stratum
            rows.append((doc, "en", "web", " ".join(toks)))
            doc += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    d = df.select(
        "doc_id", "lang", "source",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))

    cand = _neardup_blocked_candidates(d)
    n_cand = cand.count()
    n = len(rows)
    quadratic = n * (n - 1) // 2  # 2016 for the single (lang, source)
    # only same-stratum pairs can band together: 4 * C(16,2) = 480
    assert n_cand <= quadratic // 4, (n_cand, quadratic)

    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    banded = {
        (r["id_a"], r["id_b"])
        for r in cand.withColumn("j", jac).filter(F.col("j") >= 0.5).collect()
    }
    # brute-force ground truth over ALL pairs (no blocking at all)
    a = d.select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"),
        F.col("n_toks").alias("n_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"),
        F.col("n_toks").alias("n_b"),
    )
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_b") > F.col("id_a"))
        .withColumn("j", jac).filter(F.col("j") >= 0.5).collect()
    }
    assert banded == brute
    assert len(brute) == 4 * (16 * 15 // 2)  # every same-stratum pair


def test_containment_pairs_scores_exact_on_lsh_candidates(spark):
    """containment_pairs (r14): every emitted score must equal the
    EXACT word-3-gram containment computed brute-force in pandas, and
    an asymmetric near-dup (doc fully contained in its padded variant)
    must surface with contain_ab ~ 1.0 and contain_ba < 1."""
    from dask_cudf_spark.operators.dedup import containment_pairs

    base = "alpha bravo charlie delta echo foxtrot golf hotel india " * 6
    rows = [
        (0, base.strip()),
        (1, (base + "juliet kilo lima mike november oscar").strip()),
        (2, ("zulu yankee " + base).strip()),
        (3, "totally different words papa quebec romeo sierra tango"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = containment_pairs(df, num_hashes=16, bands=8, shingle=5).collect()
    assert got, "no LSH candidates at all"

    def grams(t):
        toks = [x for x in (t or "").split(" ") if x != ""]
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    g = {i: grams(t) for i, t in rows}
    found_contained = False
    for r in got:
        ga, gb = g[r["id_a"]], g[r["id_b"]]
        inter = len(ga & gb)
        assert r["n_a"] == len(ga) and r["n_b"] == len(gb)
        assert r["contain_ab"] == pytest.approx(inter / max(len(ga), 1))
        assert r["contain_ba"] == pytest.approx(inter / max(len(gb), 1))
        if {r["id_a"], r["id_b"]} <= {0, 1, 2} and max(
            r["contain_ab"], r["contain_ba"]
        ) > 0.95 and min(r["contain_ab"], r["contain_ba"]) < 1.0:
            found_contained = True
    assert found_contained, (
        "the contained-doc pair never surfaced: " + str(got)
    )


def test_ppjoin_hot_bucket_exact_and_streamed(spark, tmp_path):
    """r16 two-level explode (r15 VERDICT item 3 / ADVICE hot-bucket
    hazard): a synthetic templated corpus where ONE shingle is every
    document's entire prefix puts all N docs into a single prefix-token
    bucket.  The candidate pairs must still be exact — all N*(N-1)/2
    ordered pairs at jaccard 1.0 — and the plan must not contain the
    r15 single-cell O(n^2) pair-array construct (flatten-of-transform),
    which on a hot bucket materialized every pair struct in one cell of
    one task."""
    from dask_cudf_spark.registry import all_queries

    n = 300
    # each doc is exactly the hot 3-word shingle: one token per doc,
    # prefix length 1, so the hot token is every doc's whole prefix
    spark.createDataFrame(
        [(i, "hot1 hot2 hot3") for i in range(n)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = all_queries()["q_ppjoin_neardup"](spark, str(tmp_path))
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "flatten(transform" not in plan.replace(" ", "").lower(), (
        "single-cell pair-array construct is back in the ppjoin plan"
    )
    rows = out.collect()
    assert len(rows) == n * (n - 1) // 2
    assert all(r["jaccard_ppm"] == 1000000 for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)
