"""Text-analysis column functions (SURVEY.md §2.8 nvtext family, §2.12).

Everything here is a *pure Column expression* (JVM-side) except
:func:`minhash_signature_md5_np`, the Arrow-vectorized signature twin
(numpy pandas_udf) that the fuzzy-dedup operator uses — Catalyst
higher-order functions are interpreted, so for the heaviest per-row
kernel the columnar-batch path wins, exactly the trade cuDF makes with
GPU kernels.  These are the building blocks the LLM-pipeline operators
(dedup, fingerprinting, quality filtering) compose; at 100 TB they run
inside the scan stage.

Reference parity: nvtext tokenize/token_count/ngrams/minhash/jaccard
(upstream: cpp/src/text/*) re-expressed as Spark SQL expressions.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(col: Column | str, pattern: str = r"\s+") -> Column:
    """nvtext.tokenize: whitespace split (drop empties)."""
    return F.filter(F.split(_c(col), pattern), lambda t: t != F.lit(""))


def token_count(col: Column | str, pattern: str = r"\s+") -> Column:
    return F.size(tokenize(col, pattern))


def word_ngrams(col: Column | str, n: int = 2, sep: str = " ") -> Column:
    """nvtext.ngrams_tokenize: word n-grams as an array<string>.

    The token array is LET-BOUND via the 1-element-array transform
    trick (same as minhash_signature below): referenced inline, the
    tokenize(col) expression would re-evaluate per gram position inside
    the lambda — O(len^2) per document (the r13 longdoc finding).

    Documents with fewer than `n` tokens have NO grams — an explicit
    empty array, guarded the same way as char_ngrams: without the
    guard, sequence(1, size-(n-1)) with size < n DESCENDS through 0
    and slice(toks, 0, n) raises INVALID_PARAMETER_VALUE.START
    (r13 ADVICE: the r13 let-bound rewrite dropped the guard that
    char_ngrams and q_ngrams already carry)."""
    return F.element_at(
        F.transform(
            F.array(tokenize(col)),
            lambda toks: F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), sep),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1,
    )


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """nvtext.character_ngrams: character shingles as array<string>.

    PUBLIC CONTRACT — NULL text returns [] (empty array), NOT NULL.
    This deliberately diverges from nvtext.character_ngrams (which
    keeps null rows null): every fingerprint built on top
    (minhash_signature / simhash64 / jaccard / the md5 oracle twins)
    folds the shingle list from a fixed init, so [] and NULL must
    resolve to the SAME signature for the Spark/DuckDB differential
    oracles to agree under null injection — the DuckDB twins
    coalesce(list_min(...), p) both cases to the init already.  A
    consumer that needs NULL-in/NULL-out should wrap:
    when(col.isNull(), lit(None)).otherwise(char_ngrams(col)).
    (r10 ADVICE item 1: the conflation is a visible contract, not an
    accident.)

    Text shorter than `n` chars (including '') has NO shingles — an
    explicit empty array, NOT the phantom shingles the old
    greatest(len-(n-1), 0) bound produced: Spark's sequence(1, 0)
    DESCENDS to [1, 0], so a too-short text yielded two truncated
    substrings and a nonzero simhash/minhash signature where the
    DuckDB twin (range over max(len-(n-1), 0)) correctly yields []
    (r10 empty-string leg; latent for any short doc, invisible on the
    long-doc testdata).  NULL text also lands in the empty branch —
    identical fingerprints to before (votes of [] and of [NULL, NULL]
    both resolve every bit to 0), now by construction."""
    s = _c(col)
    # O(len * n), not O(len^2): the old substring(s, i, n) per position
    # paid UTF8String's O(i) codepoint seek per shingle — measured 87 s
    # for 12M shingles of ~18KB docs vs 11 s for this form (r13 longdoc
    # probe).  The text is split ONCE into a let-bound codepoint array
    # (Java regex advances by code points, so a zero-width split never
    # lands inside a surrogate pair — astral chars stay whole, verified
    # against the old expression on the hostile corpus) and each
    # shingle is an O(n) slice+join.  The zero-width split yields
    # exactly length(s) elements (no trailing '' — verified live, r13
    # ADVICE corrected the old off-by-one claim here), so every
    # position i <= len-(n-1) slices n real characters.
    return F.when(
        F.length(s) >= n,
        F.element_at(
            F.transform(
                F.array(F.split(s, "")),
                lambda cs: F.transform(
                    F.sequence(F.lit(1), F.length(s) - F.lit(n - 1)),
                    lambda i: F.array_join(F.slice(cs, i, n), ""),
                ),
            ),
            1,
        ),
    ).otherwise(F.array().cast("array<string>"))


_MERSENNE_P = (1 << 31) - 1  # permutation modulus (fits all arithmetic in long)


def _minhash_perm_constants(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def minhash_signature(col: Column | str, num_hashes: int = 16, shingle: int = 5) -> Column:
    """nvtext.minhash: array of num_hashes min-hash values over character
    shingles — all JVM-side, one pass.

    Each shingle is hashed ONCE (xxhash64), then the k permutations are
    affine maps h_i(x) = (a_i*x + b_i) mod p over the base hash — the
    standard minhash trick; ~10x cheaper than re-hashing the string per
    permutation and ANSI-safe (no 64-bit overflow: operands < 2^62).

    Scale note: signature is O(num_hashes) per row with no shuffle; the
    LSH banding that follows (operators/dedup.py) is where the shuffle is.
    """
    base = F.transform(
        F.array_distinct(char_ngrams(col, shingle)),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P)),
    )
    consts = _minhash_perm_constants(num_hashes)
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in consts])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in consts])
    p = F.lit(_MERSENNE_P).cast("long")
    # let-bind the shingle hashes once (1-element-array transform trick;
    # a bare `base` referenced k times would be inlined k times by
    # CollapseProject — measured 16x slower), then one SCALAR fold per
    # permutation.  HOFs are interpreted, so allocation dominates: the
    # scalar accumulator allocates nothing per shingle, vs the
    # all-k-at-once zip_with fold which allocated two 16-element arrays
    # per shingle (measured ~3x slower + GC pressure at 32 threads).
    return F.element_at(
        F.transform(
            F.array(base),
            lambda bs: F.zip_with(
                a_arr,
                b_arr,
                lambda a, b: F.aggregate(
                    bs,
                    p,
                    lambda acc, h: F.least(acc, F.pmod(h * a + b, p)),
                ),
            ),
        ),
        1,
    )


def simhash64(col: Column | str, shingle: int = 4) -> Column:
    """SimHash: 64-bit fingerprint; near-dups differ in few bits
    (compare with bit_count(a ^ b) <= k).

    Pure SQL, ONE pass: a single fold over the shingle hashes carries
    all 63 bit-vote counters in an array<long> accumulator, then the
    sign bits are packed.  (The naive form — 63 independent
    aggregate() votes — inlines 63 copies of the shingling pipeline
    after CollapseProject, measured ~60x slower; same trap as
    minhash_signature, same fix.)
    """
    hashes = F.transform(
        F.array_distinct(char_ngrams(col, shingle)), lambda s: F.xxhash64(s)
    )
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(63)])
    one = F.lit(1).cast("long")
    neg = F.lit(-1).cast("long")
    zero = F.lit(0).cast("long")
    # let-bind the hashes once, then one allocation-free scalar vote
    # fold per bit (same interpreted-HOF cost model as
    # minhash_signature: scalar accumulators beat per-element array
    # rebuilds).  Bit b is set iff its +-1 vote sum is positive.
    return F.element_at(
        F.transform(
            F.array(hashes),
            lambda hs: F.aggregate(
                F.transform(
                    masks,
                    lambda m: F.when(
                        F.aggregate(
                            hs,
                            zero,
                            lambda acc, h: acc
                            + F.when(h.bitwiseAND(m) != 0, one).otherwise(neg),
                        )
                        > 0,
                        m,
                    ).otherwise(zero),
                ),
                zero,
                lambda a, x: a + x,
            ),
        ),
        1,
    )


# ------------------------------------------------- md5-based oracle twins
#
# xxhash64 has no DuckDB implementation, so the xxhash-based minhash /
# simhash above are rows-only under the correctness driver.  The
# functions below are the ORACLE-CHECKABLE twins: same algorithms, base
# hash swapped for the first 60 bits of md5 — which both engines
# compute bit-identically (Spark conv(substr(md5(x),1,15),16,10),
# DuckDB CAST('0x'||substr(md5(x),1,15) AS BIGINT)).  The SQL
# generators emit DuckDB expressions from the SAME permutation
# constants, the q_ann_lsh literal-replay pattern.  The fuzzy-dedup
# operator (operators/dedup.near_dedup_minhash_sig) runs on these
# twins, through the Arrow-vectorized minhash_signature_md5_np, so its
# LSH pipeline is hash-verified end to end.


def md5_long(col: Column | str) -> Column:
    """First 60 bits of md5 as a non-negative long (DuckDB twin:
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("long")


def _md5_long_sql(e: str) -> str:
    return f"CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)"


def _char_shingle_hashes_sql(e: str, shingle: int, mod: int | None) -> str:
    """DuckDB: distinct char-`shingle`-gram md5-longs of expr `e`
    (optionally mod `mod`) — the twin of array_distinct(char_ngrams)
    + md5_long."""
    grams = (
        f"list_distinct(list_transform(range(greatest(len({e}) - {shingle - 1}, 0)), "
        f"i -> substr({e}, i + 1, {shingle})))"
    )
    h = _md5_long_sql("s")
    if mod is not None:
        h = f"({h} % {mod})"
    return f"list_transform({grams}, s -> {h})"


def _token_hashes_sql(e: str, mod: int | None) -> str:
    """DuckDB: distinct whitespace-token md5-longs of expr `e` — the
    twin of array_distinct(split) + md5_long (token-SET minhash)."""
    toks = f"list_distinct(string_split({e}, ' '))"
    h = _md5_long_sql("s")
    if mod is not None:
        h = f"({h} % {mod})"
    return f"list_transform({toks}, s -> {h})"


def minhash_signature_md5(
    col: Column | str,
    num_hashes: int = 16,
    shingle: int = 5,
    unit: str = "char",
) -> Column:
    """minhash_signature with the md5 base hash (oracle twin; same
    affine permutations from _minhash_perm_constants).  unit='char'
    shingles characters (near-dup detection robust to small edits);
    unit='token' minhashes the distinct-token SET, estimating exactly
    the token jaccard that q_neardup_blocked verifies."""
    if unit == "token":
        items = F.array_distinct(F.split(_c(col), " "))
    else:
        items = F.array_distinct(char_ngrams(col, shingle))
    base = F.transform(
        items,
        lambda s: F.pmod(md5_long(s), F.lit(_MERSENNE_P)),
    )
    consts = _minhash_perm_constants(num_hashes)
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in consts])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in consts])
    p = F.lit(_MERSENNE_P).cast("long")
    return F.element_at(
        F.transform(
            F.array(base),
            lambda bs: F.zip_with(
                a_arr,
                b_arr,
                lambda a, b: F.aggregate(
                    bs,
                    p,
                    lambda acc, h: F.least(acc, F.pmod(h * a + b, p)),
                ),
            ),
        ),
        1,
    )


def minhash_md5_sig_sql(
    e: str, num_hashes: int = 16, shingle: int = 5, unit: str = "char"
) -> str:
    """DuckDB twin of minhash_signature_md5: a LIST expression (use
    inside ``SELECT ... AS sig``).  Emitted from the same permutation
    constants as the Spark path."""
    consts = _minhash_perm_constants(num_hashes)
    if unit == "token":
        hv = _token_hashes_sql(e, _MERSENNE_P)
    else:
        hv = _char_shingle_hashes_sql(e, shingle, _MERSENNE_P)
    mins = ", ".join(
        f"coalesce(list_min(list_transform(hv, h -> (h * {a} + {b}) % {_MERSENNE_P})), {_MERSENNE_P})"
        for a, b in consts
    )
    # bind hv once via a single-element unnest-free trick: DuckDB allows
    # referencing a lateral alias in the same SELECT via a subquery;
    # callers instead get a two-step form: sig over a hv column they
    # must provide as `hv` (see q_minhash_pairs oracle).
    return f"[{mins}]", hv


def simhash16_md5(col: Column | str, shingle: int = 4) -> Column:
    """16-bit SimHash over md5 shingle hashes (oracle twin of
    simhash64's vote semantics: bit b set iff the +-1 vote sum over
    distinct shingles is > 0)."""
    hashes = F.transform(
        F.array_distinct(char_ngrams(col, shingle)), lambda s: md5_long(s)
    )
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(16)])
    one = F.lit(1).cast("long")
    neg = F.lit(-1).cast("long")
    zero = F.lit(0).cast("long")
    return F.element_at(
        F.transform(
            F.array(hashes),
            lambda hs: F.aggregate(
                F.transform(
                    masks,
                    lambda m: F.when(
                        F.aggregate(
                            hs,
                            zero,
                            lambda acc, h: acc
                            + F.when(h.bitwiseAND(m) != 0, one).otherwise(neg),
                        )
                        > 0,
                        m,
                    ).otherwise(zero),
                ),
                zero,
                lambda a, x: a + x,
            ),
        ),
        1,
    )


def simhash16_md5_sql(e: str, shingle: int = 4) -> str:
    """DuckDB twin of simhash16_md5 as a scalar expression."""
    hv = _char_shingle_hashes_sql(e, shingle, None)
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform({hv}, "
        f"h -> CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    return f"CAST({bit_terms} AS BIGINT)"


_EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]


def lang_id_heuristic(col: Column | str) -> Column:
    """Cheap language ID: CJK codepoint ratio -> zh; accented-latin hints
    for fr/es/de; English stopword hit-rate -> en; else 'unknown'.
    Deterministic, SQL-expressible (mirrors fastText-style pipelines'
    pre-filter stage, not a real classifier)."""
    s = _c(col)
    total = F.greatest(F.length(s), F.lit(1))
    cjk = F.length(F.regexp_replace(s, r"[^一-鿿]", ""))
    toks = tokenize(F.lower(s))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in _EN_STOPWORDS]))
    )
    fr = F.length(F.regexp_replace(s, r"[^éèêàçùôî]", ""))
    es = F.length(F.regexp_replace(s, r"[^ñáíóúü¿¡]", ""))
    de = F.length(F.regexp_replace(s, r"[^äöüß]", ""))
    return (
        F.when(cjk * 10 > total, F.lit("zh"))
        .when(fr > es, F.when(fr > de, F.lit("fr")).otherwise(F.lit("de")))
        .when(es > de, F.lit("es"))
        .when(de > 0, F.lit("de"))
        .when(stop_hits > 0, F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


def quality_score(col: Column | str) -> Column:
    """Document quality heuristics -> struct of signals (Gopher/C4-style
    filters): char count, token count, mean token length, alpha ratio,
    punct ratio, stopword ratio, max repeated-token fraction."""
    s = _c(col)
    toks = tokenize(s)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    total = F.greatest(F.length(s), F.lit(1))
    alpha = F.length(F.regexp_replace(s, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(s, r"[^.,;:!?]", ""))
    stop_hits = F.size(
        F.filter(
            F.transform(toks, F.lower),
            lambda t: t.isin(*[F.lit(w) for w in _EN_STOPWORDS]),
        )
    )
    return F.struct(
        F.length(s).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        (F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n_tok).alias(
            "mean_token_len"
        ),
        (alpha.cast("double") / total).alias("alpha_ratio"),
        (punct.cast("double") / total).alias("punct_ratio"),
        (stop_hits.cast("double") / n_tok).alias("stopword_ratio"),
    )


def doc_fingerprint(col: Column | str, normalize: bool = True) -> Column:
    """Content fingerprint for exact dedup: md5 of whitespace-normalized
    lowercase text (md5 exists in DuckDB too -> oracle-checkable)."""
    s = _c(col)
    if normalize:
        s = F.lower(F.trim(F.regexp_replace(s, r"\s+", " ")))
    return F.md5(s)


def minhash_signature_md5_np(
    col: Column | str, num_hashes: int = 16, shingle: int = 5
) -> Column:
    """Arrow-vectorized EXACT twin of :func:`minhash_signature_md5`
    (md5 base hash, same ``_minhash_perm_constants``) — hash-identical
    to the DuckDB SQL emitted by :func:`minhash_md5_sig_sql`, so
    queries built on it stay fully oracle-checkable while avoiding the
    interpreted-HOF md5 fold (measured ~10x slower at sf0.1).

    Per batch: distinct char shingles (Python set — codepoint slicing,
    matching Spark substring / DuckDB substr), 60-bit md5 prefix mod
    p=2^31-1 (hashlib, exactly ``md5_long``), then the k affine
    permutation minima in one numpy broadcast (h < 2^31, a < 2^31 ->
    products < 2^62, no int64 overflow).
    """
    import hashlib

    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    consts = _minhash_perm_constants(num_hashes)
    a_vec = [a for a, _ in consts]
    b_vec = [b for _, b in consts]
    p = _MERSENNE_P
    k = num_hashes
    sh = shingle

    @F.pandas_udf(ArrayType(LongType()))
    def _mh(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        A = np.array(a_vec, dtype=np.int64)
        B = np.array(b_vec, dtype=np.int64)
        # natural-language shingles repeat heavily across documents, so
        # memoize gram -> md5-long per worker (bounded: vocabulary of
        # 5-grams in a corpus is tiny relative to total shingle count)
        memo: dict[str, int] = {}
        out = []
        for t in texts:
            n = len(t) - (sh - 1)
            if n <= 0:
                out.append([p] * k)
                continue
            grams = {t[i : i + sh] for i in range(n)}
            hv = np.empty(len(grams), dtype=np.int64)
            for j, g in enumerate(grams):
                h = memo.get(g)
                if h is None:
                    h = int(md5(g.encode("utf-8")).hexdigest()[:15], 16) % p
                    memo[g] = h
                hv[j] = h
            mins = ((hv[:, None] * A[None, :] + B[None, :]) % p).min(axis=0)
            out.append(mins.tolist())
        return pd.Series(out)

    return _mh(_c(col))
