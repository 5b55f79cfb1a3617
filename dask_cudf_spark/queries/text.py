"""Text analysis & dedup queries on `documents` (SURVEY.md §2.8 nvtext,
§2.12 LLM-pipeline ops)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import REGISTRY as _REG
from ..registry import register
from ..sources import load_table

_EN_STOP_SQL = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'for', 'on', 'with']"


@register(
    "q_text_stats",
    family="text",
    oracle="""
        SELECT
            lang,
            COUNT(*) AS n_docs,
            CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
            CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
            COUNT(DISTINCT source) AS n_sources,
            MIN(n_chars) AS min_chars,
            MAX(n_chars) AS max_chars
        FROM documents
        GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup per language: token counts (nvtext token_count),
    char stats (reference str.len + groupby agg)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q_token_count",
    family="text",
    oracle="""
        SELECT
            doc_id,
            len(string_split(text, ' ')) AS n_tokens,
            len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
            LENGTH(text) AS n_chars_computed
        FROM documents
        WHERE doc_id < 200
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting (nvtext.token_count; BPE-ish regex
    tokenization is the same expression with a different pattern)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


@register(
    "q_quality_score",
    family="text",
    oracle=f"""
        SELECT
            doc_id,
            LENGTH(text) AS n_chars,
            len(string_split(text, ' ')) AS n_tokens,
            CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                / len(string_split(text, ' ')) AS mean_token_len,
            CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                / LENGTH(text) AS alpha_ratio,
            CAST(len(list_filter(string_split(text, ' '),
                                 t -> list_contains({_EN_STOP_SQL}, t))) AS DOUBLE)
                / len(string_split(text, ' ')) AS stopword_ratio
        FROM documents
        WHERE doc_id < 300
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter signals (Gopher/C4-style): char/token counts, mean
    token length, alpha ratio, stopword ratio.  All integer-ratio
    divisions -> deterministic doubles."""
    from ..functions.text import _EN_STOPWORDS

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_tok
        ).alias("mean_token_len"),
        # zero-length text -> NULL ratio (matches DuckDB's
        # NULL-on-division-by-zero; unguarded, an ANSI session raises
        # DIVIDE_BY_ZERO on the first empty document — r10 empty leg)
        F.when(
            F.length("text") > 0,
            F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast(
                "double"
            )
            / F.length("text"),
        ).alias("alpha_ratio"),
        (
            F.size(
                F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in _EN_STOPWORDS]))
            ).cast("double")
            / n_tok
        ).alias("stopword_ratio"),
    )


@register(
    "q_hash_exact_dedup",
    family="dedup",
    oracle="""
        SELECT
            md5(text) AS fp,
            COUNT(*) AS n_copies,
            MIN(doc_id) AS keep_id
        FROM documents
        GROUP BY md5(text)
    """,
)
def q_hash_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup grouping: one fingerprint per distinct content, the
    kept id is the smallest (operators/dedup.exact_dedup applies the
    row_number filter; here we expose the groups for the oracle)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("fp")).agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("keep_id"),
    )


@register(
    "q_exact_dedup_rows",
    family="dedup",
    oracle="""
        SELECT doc_id, lang, source
        FROM (
            SELECT doc_id, lang, source,
                   ROW_NUMBER() OVER (
                       -- trim(x, ' '): explicit space-only char set.
                       -- DuckDB's bare trim() strips UNICODE whitespace
                       -- (NBSP, U+3000) that Spark's trim keeps — an
                       -- all-NBSP doc must NOT collapse into the ''
                       -- dedup group (r11 corpus fuzz)
                       PARTITION BY md5(lower(trim(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', ' ', 'g'), ' ')))
                       ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    """,
)
def q_exact_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving rows after normalized exact dedup
    (operators/dedup.exact_dedup — hash -> keep min id)."""
    from ..operators.dedup import exact_dedup

    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id", normalize=True).select(
        "doc_id", "lang", "source"
    )


@register(
    "q_jaccard",
    family="dedup",
    oracle="""
        -- COALESCE(text, '') pinned on BOTH sides (round-9 null leg):
        -- a null document is the empty token set, so jaccard is 0
        -- against any real text, not NULL
        WITH d AS (
            SELECT doc_id, coalesce(text, '') AS text FROM documents
        )
        SELECT
            a.doc_id AS id_a,
            b.doc_id AS id_b,
            CAST(len(list_intersect(list_distinct(string_split(a.text, ' ')),
                                    list_distinct(string_split(b.text, ' ')))) AS DOUBLE)
            / len(list_distinct(list_concat(list_distinct(string_split(a.text, ' ')),
                                            list_distinct(string_split(b.text, ' '))))) AS jaccard
        FROM d a
        JOIN d b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id < 250
    """,
)
def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard on adjacent doc pairs (nvtext.jaccard_index).
    Integer-size ratio -> deterministic double.  (DuckDB's jaccard() is
    character-based — the oracle computes token-set overlap explicitly.)"""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))  # see the oracle comment
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")).filter(
        F.col("id_a") < 250
    )
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    ta = F.array_distinct(F.split("text_a", " "))
    tb = F.array_distinct(F.split("text_b", " "))
    return (
        a.join(b, b.id_b == a.id_a + 1)
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect(ta, tb)).cast("double")
                / F.size(F.array_union(ta, tb))
            ).alias("jaccard"),
        )
    )


@register(
    "q_edit_distance",
    family="text",
    oracle="""
        SELECT
            a.doc_id AS id_a,
            b.doc_id AS id_b,
            levenshtein(
                SUBSTRING(regexp_replace(a.text, '[^\\x00-\\x7F]', '', 'g'), 1, 100),
                SUBSTRING(regexp_replace(b.text, '[^\\x00-\\x7F]', '', 'g'), 1, 100)
            ) AS edit_dist
        FROM documents a
        JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id < 150
    """,
)
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance (nvtext.edit_distance) on 100-char prefixes
    of adjacent docs — bounded O(100^2) per pair.

    Cross-engine contract (r11 corpus fuzz): the distance is computed
    over the ASCII PROJECTION of each text (non-ASCII chars stripped
    identically on both sides, THEN the 100-char prefix).  Spark's
    levenshtein counts codepoint edits while DuckDB's counts BYTE edits
    — a 100-char CJK prefix measured 300 in the oracle — so the
    differential contract pins the subset where the two metrics
    coincide; on the all-ASCII testdata the projection is a no-op.
    The engine's public F.levenshtein stays codepoint-exact for users."""
    d = load_table(spark, sf_dir, "documents")
    ascii_only = lambda c: F.regexp_replace(c, r"[^\x00-\x7F]", "")  # noqa: E731
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")).filter(
        F.col("id_a") < 150
    )
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return a.join(b, b.id_b == a.id_a + 1).select(
        "id_a",
        "id_b",
        F.levenshtein(
            F.substring(ascii_only("text_a"), 1, 100),
            F.substring(ascii_only("text_b"), 1, 100),
        ).cast("long").alias("edit_dist"),
    )


@register(
    "q_ngrams",
    family="text",
    oracle="""
        -- CASE + COALESCE pin (r10 empty leg): DuckDB's
        -- array_to_string([], ',') is NULL where Spark's
        -- array_join([]) is '' — a no-bigram doc must read '' on both
        -- sides, while NULL text stays NULL
        SELECT
            doc_id,
            CASE WHEN text IS NULL THEN NULL ELSE COALESCE(
                array_to_string(list_transform(range(1, GREATEST(len(string_split(text, ' ')) - 1, 0) + 1),
                    i -> string_split(text, ' ')[i] || '_' || string_split(text, ' ')[i + 1]), ','),
                '') END AS bigrams
        FROM documents
        WHERE doc_id < 50
    """,
)
def q_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigrams (nvtext.ngrams_tokenize) as a joined string for a
    stable hash representation."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    # toks bound as a column, not an inline split: expressions inside a
    # HOF lambda re-evaluate per element (O(len^2) — the r13 longdoc
    # probe finding, see q_bigram_lm_score)
    d = d.select("doc_id", "text", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    return d.select(
        "doc_id",
        # NULL text -> NULL bigrams (SQL convention, matches the
        # oracle; unguarded, size(NULL) = -1 fed sequence(1, 0) which
        # emitted a DESCENDING [1, 0] and a phantom "," — round-9 leg).
        # Single-token docs ('' splits to ['']) -> '' (no bigrams): the
        # same sequence(1, 0) DESCENDS for them too, and under an ANSI
        # session element_at(toks, 2) then throws INVALID_ARRAY_INDEX —
        # the r10 empty-string leg's finding.  Spark's sequence(a, b)
        # with b < a counts DOWN, it never yields [] — every
        # sequence-over-array-positions needs an explicit length guard.
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .when(F.size(toks) < 2, F.lit(""))
        .otherwise(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
                    lambda i: F.concat_ws(
                        "_", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ),
                ),
                ",",
            ),
        ).alias("bigrams"),
    )


def _minhash_dedup_oracle() -> str:
    from ..functions.text import minhash_md5_sig_sql

    sig_expr, hv_expr = minhash_md5_sig_sql("text", num_hashes=16, shingle=5)
    band_selects = "\n            UNION ALL ".join(
        f"SELECT {b} AS band, array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '_') AS key, "
        "doc_id, sig FROM sigs"
        for b in range(4)
    )
    return f"""
        WITH RECURSIVE
        docs AS (
            SELECT doc_id, text FROM documents WHERE len(text) >= 5
        ),
        hs AS (SELECT doc_id, {hv_expr} AS hv FROM docs),
        sigs AS (SELECT doc_id, {sig_expr} AS sig FROM hs),
        bands AS (
            {band_selects}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_filter(range(16), i -> a.sig[i + 1] = b.sig[i + 1]))
                       AS n_match
            FROM bands a JOIN bands b USING (band, key)
            WHERE b.doc_id > a.doc_id
        ),
        und(a, b) AS (
            SELECT id_a, id_b FROM cand WHERE CAST(n_match AS DOUBLE) / 16 >= 0.8
            UNION
            SELECT id_b, id_a FROM cand WHERE CAST(n_match AS DOUBLE) / 16 >= 0.8
        ),
        reach(n, m) AS (
            SELECT a, b FROM und
            UNION
            SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a
        ),
        dropped AS (
            SELECT n FROM reach GROUP BY n HAVING MIN(m) < n
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT n FROM dropped)
    """


@register(
    "q_minhash_dedup",
    tags=["flagship"],
    family="dedup",
    oracle=None,  # set below: generated from the same LSH constants
)
def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH fuzzy dedup survivors with FULL single-link cluster
    semantics, oracle-checked end to end (the NeMo-Curator-on-dask-cudf
    pattern): md5-exact char-5-gram signatures
    (functions/text.minhash_signature_md5_np, Arrow-vectorized) ->
    4x4 band bucket candidates -> signature-agreement verify
    (n_match/16 >= 0.8, the MinHash Jaccard estimate) -> connected
    components (operators/dedup.connected_components) -> keep each
    cluster's min-id representative.  The DuckDB oracle replays the
    identical permutation constants, banding, and transitive closure
    (recursive CTE) — every stage of the production fuzzy-dedup
    topology is hash-verified, including the iterative clustering."""
    from ..operators.dedup import near_dedup_minhash_sig

    d = load_table(spark, sf_dir, "documents")
    return near_dedup_minhash_sig(
        d, "text", "doc_id", threshold=0.8, num_hashes=16, bands=4, shingle=5
    ).select("doc_id", "lang", "source")


_REG["q_minhash_dedup"].oracle = _minhash_dedup_oracle()


def _neardup_blocked_candidates(d: DataFrame) -> DataFrame:
    """Banded candidate pairs for the >= 0.5 distinct-token Jaccard
    sweep.  ``d`` must carry doc_id / lang / source / toks / n_toks.

    Round-5 scale fix (r4 VERDICT item 7): the block key is
    (lang, source, floor(log2(n_toks))) instead of the unbounded
    (lang, source), and the left side emits its band +-1 so the join
    stays an equi-join.  LOSSLESS by arithmetic, not by luck: J(A,B)
    >= 0.5 forces |A n B| >= (|A|+|B|)/3 <= min, hence max <= 2*min —
    a <= 2x size ratio, hence band distance <= 1 — so every qualifying
    pair survives banding and the quadratic blow-up is bounded to
    same-length-band docs (O(N^2/blocks) with length-aware blocks)
    instead of whole (lang, source) groups.  The same 2x ratio rides
    the join condition as a per-candidate precheck, so oversized
    uniform-length bands still prune before the array intersect.  Each
    pair matches exactly ONE emitted band (b's own band), so no
    distinct pass is needed."""
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_toks").alias("n_a"),
        F.explode(
            F.array(
                F.floor(F.log2("n_toks")) - 1,
                F.floor(F.log2("n_toks")),
                F.floor(F.log2("n_toks")) + 1,
            )
        ).alias("emit_band"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_toks").alias("n_b"),
        F.floor(F.log2("n_toks")).alias("band_b"),
    )
    return a.join(
        b,
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("source_a") == F.col("source_b"))
        & (F.col("emit_band") == F.col("band_b"))
        & (F.col("id_b") > F.col("id_a"))
        & (F.col("n_b") <= 2 * F.col("n_a"))
        & (F.col("n_a") <= 2 * F.col("n_b")),
    )


@register(
    "q_neardup_blocked",
    family="dedup",
    oracle="""
        SELECT
            a.doc_id AS id_a,
            b.doc_id AS id_b,
            CAST(len(list_intersect(list_distinct(string_split(a.text, ' ')),
                                    list_distinct(string_split(b.text, ' ')))) AS DOUBLE)
            / len(list_distinct(list_concat(list_distinct(string_split(a.text, ' ')),
                                            list_distinct(string_split(b.text, ' '))))) AS jaccard
        FROM documents a
        JOIN documents b
          ON a.lang = b.lang AND a.source = b.source AND b.doc_id > a.doc_id
        WHERE CAST(len(list_intersect(list_distinct(string_split(a.text, ' ')),
                                      list_distinct(string_split(b.text, ' ')))) AS DOUBLE)
              / len(list_distinct(list_concat(list_distinct(string_split(a.text, ' ')),
                                              list_distinct(string_split(b.text, ' '))))) >= 0.5
    """,
)
def q_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact near-dup pairs — the deterministic ground-truth
    companion to LSH (verifies the verify step end-to-end against the
    oracle).  Blocking is (lang, source, length-band): see
    _neardup_blocked_candidates for the losslessness argument; the
    oracle keeps the plain quadratic (lang, source) join because the
    banded candidates provably contain every >= 0.5 pair."""
    from ..sources import scale_out

    # tokenize ONCE per row (projection below the join); a per-pair
    # tokenization inside the join condition costs O(pairs), not O(rows).
    # Distinct-token COUNTS are also per-row, so the O(pairs) hot loop
    # pays a single array_intersect — |A u B| comes free as
    # |A| + |B| - |A n B| (same integers as the oracle's list_concat
    # union, so the divided double is bit-identical).
    d = scale_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return (
        _neardup_blocked_candidates(d)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


def _simhash_oracle() -> str:
    from ..functions.text import simhash16_md5_sql

    return f"""
        SELECT doc_id, {simhash16_md5_sql("text")} AS simhash
        FROM documents WHERE doc_id < 100
    """


@register(
    "q_simhash",
    family="dedup",
    oracle=None,  # set below: generated md5-twin SQL (same vote rules)
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints — near-dups differ in few bits (compare
    with bit_count(a ^ b) <= k).  This query runs the md5-based 16-bit
    twin (functions/text.simhash16_md5) so the DuckDB oracle can replay
    the identical vote computation; the production 64-bit xxhash
    variant (simhash64, ~5x faster base hash) keeps pytest coverage."""
    from ..functions.text import simhash16_md5
    from ..sources import scale_out

    d = scale_out(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )
    return d.select("doc_id", simhash16_md5("text").alias("simhash"))


_REG["q_simhash"].oracle = _simhash_oracle()


def _minhash_pairs_oracle() -> str:
    from ..functions.text import minhash_md5_sig_sql

    sig_expr, hv_expr = minhash_md5_sig_sql("text", num_hashes=16, shingle=5)
    band_selects = "\n            UNION ALL ".join(
        f"SELECT {b} AS band, array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '_') AS key, "
        "doc_id, sig FROM sigs"
        for b in range(4)
    )
    return f"""
        WITH docs AS (
            SELECT doc_id, text FROM documents WHERE len(text) >= 5
        ),
        hs AS (SELECT doc_id, {hv_expr} AS hv FROM docs),
        sigs AS (SELECT doc_id, {sig_expr} AS sig FROM hs),
        bands AS (
            {band_selects}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_filter(range(16), i -> a.sig[i + 1] = b.sig[i + 1]))
                       AS n_match
            FROM bands a JOIN bands b USING (band, key)
            WHERE b.doc_id > a.doc_id
        )
        SELECT id_a, id_b, n_match
        FROM cand
        WHERE CAST(n_match AS DOUBLE) / 16 >= 0.8
    """


@register(
    "q_minhash_pairs",
    family="dedup",
    oracle=None,  # set below: generated from the same LSH constants
)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs over the FULL corpus, ORACLE-CHECKED
    end to end: md5-base char-5-gram signatures (functions/text.
    minhash_signature_md5) -> 4x4 band keys -> bucket self-join ->
    signature-agreement score, with the DuckDB oracle replaying the
    identical permutation constants and banding.  Char shingles, not
    token sets: this corpus draws from a tiny shared vocabulary, so
    token-set jaccard saturates near 1 between ARBITRARY long docs
    (measured: 12k+ "pairs" at 0.8) while char-shingle jaccard stays
    discriminative.  q_minhash_dedup runs the same minhash_sig_pairs
    candidates and then clusters them, so a hash-match here certifies
    the fuzzy-dedup pipeline's banding/scoring logic on its own, not
    just its end result.

    r3: rebuilt on operators/dedup.minhash_sig_pairs — Arrow-vectorized
    md5-exact signatures (minhash_signature_md5_np) + in-bucket pair
    explosion, replacing the interpreted-HOF signature fold and band
    self-join (measured ~8x at sf0.1).  r4: n_match now scores INLINE
    during index-based pair generation (no sig join-back, no
    checkpoint — see minhash_sig_pairs notes).  The oracle is
    unchanged."""
    from ..operators.dedup import minhash_sig_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_sig_pairs(
        d, "text", "doc_id", num_hashes=16, bands=4, shingle=5
    ).filter(F.col("n_match").cast("double") / 16 >= 0.8)


_REG["q_minhash_pairs"].oracle = _minhash_pairs_oracle()


@register(
    "q_curation_pipeline",
    family="text",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang, text,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '),
                            t -> list_contains({_EN_STOP_SQL}, t))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS stop_ratio
            FROM documents
        ),
        kept AS (
            SELECT * FROM scored
            WHERE n_tokens >= 20 AND stop_ratio >= 0.02
        ),
        deduped AS (
            SELECT * FROM kept
            WHERE doc_id IN (
                SELECT MIN(doc_id) FROM kept GROUP BY md5(text)
            )
        ),
        assigned AS (
            SELECT lang, n_tokens,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                        AS BIGINT) % 10 AS bucket
            FROM deduped
        )
        SELECT CASE WHEN bucket < 8 THEN 'train'
                    WHEN bucket = 8 THEN 'val'
                    ELSE 'test' END AS split,
               lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM assigned
        GROUP BY 1, 2
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation, composed from the engine's own
    stages (the NeMo-Curator-on-dask-cudf topology): quality filter
    (token count + stopword ratio, Gopher/C4-style) -> exact dedup
    (md5 content fingerprint, keep lowest doc_id) -> deterministic
    hash train/val/test split -> per-split audit rollup.

    Scale shape: the filter and both hash assignments are scan-stage
    expressions (no shuffle); dedup is ONE shuffle on the content
    digest (uniform keys, no skew); the rollup is a partial-agg
    groupBy on (split, lang) — 3 shuffles total end-to-end, none of
    which grows with duplicate cardinality."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    stop_ratio = (
        F.size(
            F.filter(
                toks,
                lambda t: t.isin(*[F.lit(w) for w in
                                   ["the", "a", "of", "and", "to",
                                    "in", "is", "for", "on", "with"]]),
            )
        ).cast("double")
        / n_tok
    )
    kept = d.select(
        "doc_id", "lang", "text", n_tok.cast("long").alias("n_tokens")
    ).filter((F.col("n_tokens") >= 20) & (stop_ratio >= 0.02))

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 10
    )
    assigned = deduped.withColumn(
        "split",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "q_lang_id",
    family="text",
    oracle=f"""
        WITH sig AS (
            SELECT doc_id, lang,
                   GREATEST(LENGTH(text), 1) AS total,
                   LENGTH(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk,
                   LENGTH(regexp_replace(text, '[^éèêàçùôî]', '', 'g')) AS fr,
                   LENGTH(regexp_replace(text, '[^ñáíóúü¿¡]', '', 'g')) AS es,
                   LENGTH(regexp_replace(text, '[^äöüß]', '', 'g')) AS de,
                   -- [ \\t\\n\\v\\f\\r]+ spelled out = Java's \\s exactly;
                   -- RE2's \\s misses \\x0b, and a literal-space split
                   -- missed tab-separated stopwords (r11 corpus fuzz)
                   len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\v\\f\\r]+'),
                       t -> list_contains({_EN_STOP_SQL}, t))) AS stop_hits
            FROM documents
        )
        SELECT doc_id, lang,
               CASE
                   WHEN cjk * 10 > total THEN 'zh'
                   WHEN fr > es THEN (CASE WHEN fr > de THEN 'fr' ELSE 'de' END)
                   WHEN es > de THEN 'es'
                   WHEN de > 0 THEN 'de'
                   WHEN stop_hits > 0 THEN 'en'
                   ELSE 'unknown'
               END AS lang_pred
        FROM sig
    """,  # the heuristic is pure SQL -> fully replicated in DuckDB
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (functions/text.lang_id_heuristic) next to
    the ground-truth lang column."""
    from ..functions.text import lang_id_heuristic

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id_heuristic("text").alias("lang_pred"))


@register(
    "q_token_filter",
    family="text",
    oracle=f"""
        SELECT
            doc_id,
            len(string_split(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', ' ', 'g'), ' '))
                AS n_tokens,
            len(list_filter(
                string_split(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', ' ', 'g'), ' '),
                t -> NOT list_contains({_EN_STOP_SQL}, t)))
                AS n_kept,
            -- duck array_to_string([]) is NULL where Spark's
            -- array_join([]) is '' — an ALL-stopword doc must read ''
            -- on both sides, while a NULL doc stays NULL on both (r11
            -- corpus fuzz; the r10 '' leg could not produce an
            -- all-stopword doc: '' splits to [''], not a stopword)
            CASE WHEN text IS NULL THEN NULL
                 ELSE COALESCE(array_to_string(
                     list_filter(
                         string_split(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', ' ', 'g'), ' '),
                         t -> NOT list_contains({_EN_STOP_SQL}, t))[1:5],
                     ' '), '') END AS kept_head
        FROM documents
        WHERE doc_id < 200
    """,
)
def q_token_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize_spaces + filter_tokens (nvtext replace/filter_tokens,
    upstream cpp/src/text/replace.cu): whitespace normalization, then
    stopword removal as an array filter — all codegen-free-of-Python,
    partition-local."""
    stop = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.regexp_replace("text", r"\s+", " "), " ")
    kept = F.filter(toks, lambda t: ~t.isin(*[F.lit(w) for w in stop]))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(F.slice(kept, 1, 5), " ").alias("kept_head"),
    )


def _stem_tokens_oracle() -> str:
    from ..functions.porter import porter_pipeline_sql

    pipeline = porter_pipeline_sql(
        """SELECT doc_id, w AS orig, w FROM (
               SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents WHERE doc_id < 200)"""
    )
    return f"""
        WITH {pipeline}
        SELECT doc_id,
               COUNT(DISTINCT w) AS n_stems,
               array_to_string(list_sort(list(DISTINCT w))[1:8], ' ')
                   AS stems_head
        FROM stemmed
        GROUP BY doc_id
    """


@register(
    "q_stem_tokens",
    family="text",
    oracle=None,  # set below: generated from the shared Porter rule tables
)
def q_stem_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Porter stemmer, steps 1a-5b (nvtext porter_stemmer, upstream
    cpp/src/text/stemmer.cu): per-doc distinct stem count + the first 8
    sorted stems.  Engine path = pure-Python Porter inside an
    Arrow-batched pandas_udf (memoized per token — vocab is tiny
    relative to token count); oracle = SQL generated from the SAME rule
    tables (functions/porter.py), so rules cannot drift between the
    two.  Partition-local, no shuffle before the final projection."""
    from pyspark.sql.types import ArrayType, StringType

    from ..functions.porter import porter_stem

    @F.pandas_udf(ArrayType(StringType()))
    def distinct_stems(texts: pd.Series) -> pd.Series:
        from functools import lru_cache

        stem = lru_cache(maxsize=1 << 16)(porter_stem)
        # SQL null convention: NULL text -> NULL stems (round-9
        # null-injection leg; .split on None raised in the worker)
        return texts.map(
            lambda t: sorted({stem(tok) for tok in t.split(" ")})
            if t is not None
            else None
        )

    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200) & F.col("text").isNotNull()
    )
    stems = distinct_stems("text")
    return d.select("doc_id", stems.alias("s")).select(
        "doc_id",
        F.size("s").cast("long").alias("n_stems"),
        F.array_join(F.slice("s", 1, 8), " ").alias("stems_head"),
    )


# generated oracle (import-time, like q_ann_lsh): SQL translation of the
# same Porter rule tables the pandas_udf uses
_REG["q_stem_tokens"].oracle = _stem_tokens_oracle()


@register(
    "q_subword_tokens",
    family="text",
    oracle=None,  # set below: generated from the shared vocab + hash scheme
)
def q_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword tokenization with a hash vocab (nvtext subword_tokenize,
    upstream cpp/src/text/subword/): greedy longest-prefix WordPiece
    segmentation against a literal vocab, pieces mapped to ids by
    md5-hash mod bucket count (functions/subword.py).  Per-doc output
    is order-insensitive (counts + id sum) so the oracle — the same
    greedy loop as a DuckDB recursive CTE — hash-matches exactly.
    Arrow-batched with per-word memoization; embarrassingly parallel,
    zero shuffle before the final projection."""
    from ..functions.subword import piece_id, subword_pieces

    @F.pandas_udf("n_pieces long, n_distinct_pieces long, id_sum long")
    def seg_stats(texts: pd.Series) -> pd.DataFrame:
        from functools import lru_cache

        pieces_of = lru_cache(maxsize=1 << 16)(
            lambda w: tuple(subword_pieces(w))
        )
        pid = lru_cache(maxsize=1 << 16)(piece_id)
        rows = []
        for t in texts:
            pieces = [
                p for w in (t.split(" ") if t is not None else [])
                for p in pieces_of(w)
            ]
            rows.append(
                (len(pieces), len(set(pieces)), sum(pid(p) for p in pieces))
            )
        return pd.DataFrame(
            rows, columns=["n_pieces", "n_distinct_pieces", "id_sum"]
        )

    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200) & F.col("text").isNotNull()
    )
    return d.select("doc_id", seg_stats("text").alias("s")).select(
        "doc_id", "s.n_pieces", "s.n_distinct_pieces", "s.id_sum"
    )


def _subword_oracle() -> str:
    from ..functions.subword import subword_oracle_sql

    return subword_oracle_sql(
        """SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents WHERE doc_id < 200"""
    )


_REG["q_subword_tokens"].oracle = _subword_oracle()


@register(
    "q_rolling_fingerprint",
    family="text",
    oracle="""
        SELECT
            doc_id,
            CAST(list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(text) + 1),
                                   i -> CAST(ascii(text[i]) AS BIGINT))),
                (a, c) -> (a * 31 + c) % 1000000007) AS BIGINT)
                AS fingerprint
        FROM documents
        -- no text, no fingerprint (round-9 null leg; also keeps the
        -- output column non-null BIGINT on both engines)
        WHERE doc_id < 200 AND text IS NOT NULL
    """,
)
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint via polynomial rolling hash over the char
    codes (Rabin-Karp family; the content-defined-chunking primitive).
    Modulus 1e9+7 keeps every intermediate < 2^35 — exact in both
    engines' int64.  Interpreted HOF -> scale_out for core use."""
    from ..sources import scale_out

    d = scale_out(
        load_table(spark, sf_dir, "documents").filter(
            (F.col("doc_id") < 200) & F.col("text").isNotNull()
        )
    )
    codes = F.transform(
        F.sequence(F.lit(1), F.length("text")),
        lambda i: F.ascii(F.col("text").substr(i, F.lit(1))).cast("long"),
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * 31 + c, F.lit(1000000007)),
    )
    return d.select("doc_id", fp.cast("long").alias("fingerprint"))


@register(
    "q_dedup_components",
    family="dedup",
    oracle="""
        WITH RECURSIVE
        pairs(a, b) AS (
            SELECT x.doc_id, y.doc_id
            FROM documents x JOIN documents y
              ON x.lang = y.lang AND x.source = y.source
             AND y.doc_id > x.doc_id
            WHERE x.doc_id < 200 AND y.doc_id < 200
              AND CAST(len(list_intersect(list_distinct(string_split(x.text, ' ')),
                                          list_distinct(string_split(y.text, ' ')))) AS DOUBLE)
                  / len(list_distinct(list_concat(list_distinct(string_split(x.text, ' ')),
                                                  list_distinct(string_split(y.text, ' '))))) >= 0.6
        ),
        und(a, b) AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        reach(n, m) AS (
            SELECT a, b FROM und
            UNION
            SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a
        ),
        nodes(n) AS (SELECT doc_id FROM documents WHERE doc_id < 200)
        SELECT nodes.n AS node,
               LEAST(nodes.n, COALESCE(MIN(reach.m), nodes.n)) AS component
        FROM nodes LEFT JOIN reach ON reach.n = nodes.n
        GROUP BY nodes.n
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster extraction: deterministic blocked near-dup
    pairs (token jaccard >= 0.6 within (lang, source)) -> connected
    components via iterative min-label propagation
    (operators/dedup.connected_components).  The oracle replays the
    same graph's transitive closure with a recursive CTE — a fully
    checked ITERATIVE algorithm, not just one-hop dedup."""
    from ..operators.dedup import connected_components
    from ..sources import scale_out

    d = scale_out(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ).select("doc_id", "lang", "source", F.array_distinct(F.split("text", " ")).alias("toks"))
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("toks").alias("toks_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("toks").alias("toks_b"),
    )
    jac = F.size(F.array_intersect("toks_a", "toks_b")).cast("double") / F.size(
        F.array_union("toks_a", "toks_b")
    )
    edges = (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("source_a") == F.col("source_b"))
            & (F.col("id_b") > F.col("id_a")),
        )
        .filter(jac >= 0.6)
        .select("id_a", "id_b")
    )
    return connected_components(edges, nodes=d.select("doc_id"))


@register(
    "q_vocab_topk",
    family="text",
    oracle="""
        SELECT token, n, rank FROM (
            SELECT token, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
            FROM (
                SELECT t.token, COUNT(*) AS n
                FROM documents, unnest(string_split(text, ' ')) AS t(token)
                GROUP BY t.token
            )
        ) WHERE rank <= 50
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary construction: token frequency over all
    documents, top-50 (the vocab/BPE-seed primitive of training-data
    pipelines).  explode is partition-local; the count shuffles on
    token (uniform-ish); top-k is TakeOrderedAndProject — no global
    sort."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n"), F.asc("token"))
            ).cast("long"),
        )
    )


@register(
    "q_train_test_split",
    family="text",
    oracle="""
        WITH assigned AS (
            SELECT doc_id, lang,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                        AS BIGINT) % 10 AS bucket
            FROM documents
        )
        SELECT CASE WHEN bucket < 8 THEN 'train'
                    WHEN bucket = 8 THEN 'val'
                    ELSE 'test' END AS split,
               lang,
               COUNT(*) AS n_docs,
               MIN(doc_id) AS min_id,
               MAX(doc_id) AS max_id
        FROM assigned
        GROUP BY 1, 2
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment (80/10/10) —
    the scalable data-split method for training pipelines: no sampling
    state, no shuffle to assign, stable across reruns and engines
    (md5-derived bucket, verified identical arithmetic in the oracle).
    Per-split-per-language counts audit the split balance."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 10
    )
    assigned = d.withColumn(
        "split",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "q_tfidf_topterms",
    family="text",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.token
            FROM documents, unnest(string_split(text, ' ')) AS t(token)
        ),
        tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        ),
        df AS (
            SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, token, tf, score, rank FROM (
            SELECT tf.doc_id, tf.token, tf.tf,
                   CAST(tf.tf * ((1000000 * n.n_docs) // df.df) AS BIGINT)
                       AS score,
                   ROW_NUMBER() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * ((1000000 * n.n_docs) // df.df) DESC,
                                tf.token) AS rank
            FROM tf JOIN df USING (token) CROSS JOIN n
        ) WHERE rank <= 5
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf keyword extraction: top-5 terms per document by
    tf * idf, with idf as the INTEGER ratio floor(1e6 * N / df) instead
    of a float log — bigint-exact on both engines, so the oracle hash
    can never flake on libm last-ulp differences (the log() variant is a
    one-line swap for users).  Plan: explode is map-side; tf shuffles on
    (doc_id, token); the document-frequency table is vocabulary-sized
    (« corpus) and BROADCAST to the tf side; N joins as a broadcast
    1-row relation, so the only data-sized shuffles are the two
    aggregations and the per-doc top-5 window."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_t = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.groupBy().agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            (F.col("tf") * F.expr("(1000000 * n_docs) div df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "token", "tf", "score", "rank")
    )


@register(
    "q_doc_packing",
    family="text",
    oracle="""
        WITH toks AS (
            SELECT lang,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   doc_id,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        packed AS (
            SELECT lang, shard, doc_id, n_tokens,
                   CAST(FLOOR(
                       (SUM(n_tokens) OVER (
                            PARTITION BY lang, shard
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) - n_tokens) / 2048.0
                   ) AS BIGINT) AS pack_id
            FROM toks
        )
        SELECT lang, shard, pack_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM packed
        GROUP BY lang, shard, pack_id
    """,
)
def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents to
    fixed-token-budget packs (2048 tokens) by running-token-count
    chunking — each doc goes to pack floor(preceding_tokens / budget)
    within its (lang, shard) stream, the sequential-packing scheme used
    when batch-building training sequences.

    Scale: the naive version windows over PARTITION BY lang, which at
    100 TB serializes each language through ONE task.  Packing has no
    cross-doc semantics, so the stream is pre-sharded by an md5 hash
    digit of doc_id: 16 independent packing streams per language, each
    a separate window partition -> parallelism = 16 x n_langs, one
    shuffle total, and the pack assignment is still a pure function of
    the data (reproducible across engines, runs, and cluster sizes)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048.0).cast("long"),
    )
    return packed.groupBy("lang", "shard", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "q_pii_redact",
    family="text",
    oracle=r"""
        WITH decorated AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or 555-'
                        || CAST(doc_id % 10000 AS VARCHAR) AS raw
            FROM documents
            WHERE doc_id < 300
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+'))
                    AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(raw, '555-[0-9]+'))
                    AS BIGINT) AS n_phones,
               regexp_replace(
                   regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+',
                                  '<EMAIL>', 'g'),
                   '555-[0-9]+', '<PHONE>', 'g') AS redacted
        FROM decorated
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing, a standard pre-training curation pass: regex
    redaction of emails and phone numbers with per-doc match counts
    (for curation telemetry).  The corpus has no organic PII, so each
    doc is first decorated with a deterministic synthetic email+phone
    derived from doc_id — both engines build the identical string, so
    the redaction path is genuinely exercised end-to-end.

    Scale: pure map-side string expressions (regexp_replace /
    regexp_count are JVM codegen'd) — zero shuffles, trivially linear
    at 100 TB.  The patterns stay in the RE2-compatible subset so Java
    and DuckDB regex semantics agree."""
    email_pat = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    phone_pat = r"555-[0-9]+"
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        (F.col("doc_id") % 10000).cast("string"),
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(email_pat)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(phone_pat)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(raw, email_pat, "<EMAIL>"), phone_pat, "<PHONE>"
        ).alias("redacted"),
    )


@register(
    "q_repetition_ngrams",
    family="text",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
            WHERE doc_id < 400
        ),
        g AS (
            SELECT doc_id,
                   list_transform(
                       range(len(toks) - 2),
                       i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                   ) AS tg
            FROM t
            WHERE len(toks) >= 3
        )
        SELECT doc_id,
               CAST(len(tg) AS BIGINT) AS n_trigrams,
               CAST(len(list_distinct(tg)) AS BIGINT) AS n_unique,
               CAST(FLOOR(
                   (1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg))
                   * 1000000 + 0.5) AS BIGINT) AS dup_frac_s6
        FROM g
    """,
)
def q_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / boilerplate scoring: fraction of duplicated
    word-trigrams per document — the Gopher/RefinedWeb-style quality
    signal used to drop template-y or looping text before training.

    Scale: per-row array expressions only (split -> transform over a
    sequence -> array_distinct), all inside whole-stage codegen; zero
    shuffles, no UDF.  The score is emitted as a scaled int (s6) per
    the det.py discipline so the hash never flakes on float formatting."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    t = d.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    g = t.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, size(toks) - 3),"
            " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
        ).alias("tg"),
    )
    n_tg = F.size("tg").cast("long")
    n_uniq = F.size(F.array_distinct("tg")).cast("long")
    return g.select(
        "doc_id",
        n_tg.alias("n_trigrams"),
        n_uniq.alias("n_unique"),
        F.floor((1.0 - n_uniq.cast("double") / n_tg) * 1000000 + 0.5)
        .cast("long")
        .alias("dup_frac_s6"),
    )


@register(
    "q_domain_mix_weights",
    family="text",
    oracle="""
        WITH per AS (
            SELECT source,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents
            GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   COUNT(*) AS n_sources
            FROM per
        )
        SELECT source, n_tokens,
               CAST(FLOOR(CAST(n_tokens AS DOUBLE) / total_tokens
                          * 1000000 + 0.5) AS BIGINT) AS share_s6,
               CAST(FLOOR(CAST(total_tokens AS DOUBLE) / n_sources / n_tokens
                          * 1000000 + 0.5) AS BIGINT) AS weight_s6
        FROM per CROSS JOIN tot
    """,
)
def q_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source token share and the
    resampling weight that would flatten the mix to uniform across
    sources (weight = target_share / actual_share).  The output feeds a
    weighted hash-sampler (q_sample idiom: keep-rate = weight * base)
    when rebalancing a crawl-heavy corpus.

    Scale: one aggregation shuffle on source; the per-source table is
    domain-cardinality (tiny), so totals join back as a BROADCAST
    1-row relation — no window-over-everything single-task stage."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.floor(F.col("n_tokens").cast("double") / F.col("total_tokens") * 1000000 + 0.5)
        .cast("long")
        .alias("share_s6"),
        F.floor(
            F.col("total_tokens").cast("double")
            / F.col("n_sources")
            / F.col("n_tokens")
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("weight_s6"),
    )


@register(
    "q_split_leakage",
    family="text",
    oracle="""
        WITH assigned AS (
            SELECT doc_id, text,
                   CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                                     1, 6)) AS BIGINT) % 10 < 8
                        THEN 'train'
                        WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                                     1, 6)) AS BIGINT) % 10 = 8
                        THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        ),
        train_fp AS (
            -- coalesce(text, '') mirrors Spark concat_ws's null-skip:
            -- null docs fingerprint as md5('') on both sides (round 9)
            SELECT DISTINCT md5(array_to_string(
                       string_split(coalesce(text, ''), ' ')[1:5], ' ')) AS fp
            FROM assigned WHERE split = 'train'
        ),
        ev AS (
            SELECT split, doc_id,
                   md5(array_to_string(
                       string_split(coalesce(text, ''), ' ')[1:5], ' ')) AS fp
            FROM assigned WHERE split <> 'train'
        )
        SELECT ev.split,
               COUNT(*) AS n_docs,
               CAST(COUNT(train_fp.fp) AS BIGINT) AS n_leaked,
               COALESCE(MIN(CASE WHEN train_fp.fp IS NOT NULL
                                 THEN ev.doc_id END), -1) AS first_leaked_id
        FROM ev LEFT JOIN train_fp ON ev.fp = train_fp.fp
        GROUP BY ev.split
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check — the eval-integrity pass every
    training pipeline needs: after the deterministic hash split
    (q_train_test_split's assignment), find val/test documents whose
    content fingerprint also appears in ANY train document.  The
    fingerprint is the leading 5-token shingle — the boilerplate-prefix
    proxy that catches template near-dups, which this corpus really has
    (the exact-text hash finds zero dups, so it would be a vacuous
    check here; swapping in sha2(text) generalizes to exact leakage).

    Plan: train fingerprints dedupe with one shuffle on fp, then the
    eval side joins on fp — both sides shuffle on the fingerprint (the
    train set is corpus-sized, never broadcastable at 100 TB) and the
    rollup is split-cardinality.  LEFT JOIN against the DISTINCT train
    side keeps the count exact (≤1 match per eval row)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 10
    )
    prefix5 = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5))
    assigned = d.select(
        "doc_id",
        F.md5(prefix5).alias("fp"),
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    train_fp = (
        assigned.filter(F.col("split") == "train").select("fp").distinct()
        .withColumnRenamed("fp", "t_fp")
    )
    ev = assigned.filter(F.col("split") != "train")
    joined = ev.join(train_fp, ev["fp"] == train_fp["t_fp"], "left")
    return joined.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.count("t_fp").alias("n_leaked"),
        F.coalesce(
            F.min(F.when(F.col("t_fp").isNotNull(), F.col("doc_id"))), F.lit(-1)
        ).alias("first_leaked_id"),
    )


@register(
    "q_dedup_keep_best",
    family="dedup",
    oracle="""
        -- coalesce(text, '') mirrors Spark concat_ws, which treats a
        -- null slice as empty (null docs cluster under md5('') on both
        -- sides — round-9 null leg); NULLS LAST pins n_chars order
        SELECT key_hash, doc_id, n_chars, n_dups
        FROM (
            SELECT md5(array_to_string(
                       string_split(coalesce(text, ''), ' ')[1:2], ' '))
                       AS key_hash,
                   doc_id, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(array_to_string(
                           string_split(coalesce(text, ''), ' ')[1:2], ' '))
                       ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn,
                   COUNT(*) OVER (
                       PARTITION BY md5(array_to_string(
                           string_split(coalesce(text, ''), ' ')[1:2], ' ')))
                       AS n_dups
            FROM documents
        )
        WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked dedup: within each content-key cluster keep the
    single best representative (longest text, doc_id tiebreak) — the
    standard curation step after exact/near-dup bucketing, where you keep
    the highest-quality copy instead of an arbitrary one.  The cluster
    key here is the md5 of the first-2-token prefix (the testdata has no
    full-text dups; prefix keys give real multi-member clusters).

    Scale: groupBy + max_by(struct) instead of a row_number window — the
    aggregate gets map-side partial combine, so the single shuffle moves
    one row per (key, map-task) rather than every row, and no task ever
    materializes a whole cluster.  The struct orders (n_chars DESC,
    doc_id ASC) via (n_chars, -doc_id) lexicographic max."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 2))).alias(
            "key_hash"
        ),
    )
    return d.groupBy("key_hash").agg(
        F.expr(
            "max_by(doc_id, struct(n_chars, -doc_id))"
        ).alias("doc_id"),
        F.max("n_chars").alias("n_chars"),
        F.count(F.lit(1)).alias("n_dups"),
    )


@register(
    "q_dup_cluster_sizes",
    family="dedup",
    oracle="""
        -- coalesce(text, '') mirrors Spark concat_ws's null-as-empty,
        -- the SAME convention q_dedup_keep_best pinned in round 9.
        -- Without it the two engines agree on every SINGLE-axis dirty
        -- leg (all-null: both produce one extra cluster of equal size;
        -- all-'': both hash md5('')) and split only when NULL and ''
        -- texts COEXIST — DuckDB keeps a separate NULL-key cluster
        -- where Spark merges it into md5('') (r11 mixed-injection leg,
        -- the composition bug class that leg exists to catch).
        SELECT cluster_size, COUNT(*) AS n_clusters
        FROM (
            SELECT COUNT(*) AS cluster_size
            FROM documents
            GROUP BY md5(array_to_string(
                string_split(coalesce(text, ''), ' ')[1:2], ' '))
        )
        GROUP BY cluster_size
    """,
)
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster size histogram — the diagnostic you run before
    committing to a dedup pass (how much of the corpus is duplicated,
    and is there a degenerate mega-cluster that needs a cap?).

    Scale: two groupBys, both with map-side partial aggregation; the
    first shuffles one row per distinct key, the second one row per
    distinct cluster size (a handful).  No windows, no UDFs."""
    d = load_table(spark, sf_dir, "documents").select(
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 2))).alias(
            "key_hash"
        )
    )
    sizes = d.groupBy("key_hash").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


@register(
    "q_decontaminate",
    family="text",
    oracle="""
        WITH t AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks
            FROM documents
        ),
        g AS (
            SELECT doc_id, source,
                   unnest(list_transform(
                       range(len(toks) - 2),
                       i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                   )) AS tg
            FROM t
            WHERE len(toks) >= 3
        ),
        bench AS (SELECT DISTINCT tg FROM g WHERE source = 'src0'),
        flagged AS (
            SELECT DISTINCT a.doc_id
            FROM g a JOIN bench USING (tg)
            WHERE a.source <> 'src0'
        )
        SELECT t.source,
               COUNT(*) AS n_docs,
               COUNT(f.doc_id) AS n_contaminated
        FROM t
        LEFT JOIN flagged f ON t.doc_id = f.doc_id
        WHERE t.source <> 'src0'
        GROUP BY t.source
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share a
    word-trigram with the held-out benchmark set (source 'src0' stands in
    for the benchmark corpus), reported as per-source contamination
    counts.  This is the n-gram-overlap decontamination pass every
    training pipeline runs against eval suites.

    Scale: benchmark shingles are DISTINCT'd then broadcast (a real eval
    suite is tiny next to a 100 TB corpus), so the corpus-side shingle
    stream is filtered by a broadcast semi join — the corpus never
    shuffles on shingle.  The only shuffles are the distinct on flagged
    doc_ids and the final per-source rollup, both tiny.  Shingling is
    transform(sequence(...)) inside codegen, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    g = t.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
            )
        ).alias("tg"),
    )
    bench = (
        g.filter(F.col("source") == "src0").select("tg").distinct()
    )
    flagged = (
        g.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "tg", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    # denominator over ALL docs (not the >=3-token shingle stream): a doc
    # too short to shingle still counts in n_docs, matching the oracle's
    # unfiltered final FROM
    base = d.filter(F.col("source") != "src0").select("doc_id", "source")
    return (
        base.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("contaminated").alias("n_contaminated"),
        )
    )


def _bpe_oracle() -> str:
    from ..functions.bpe import bpe_encode_sql

    return f"""
        SELECT doc_id,
               {bpe_encode_sql("text")} AS bpe,
               len(string_split({bpe_encode_sql("text")}, ' '))
                   AS n_bpe_tokens
        FROM documents
        WHERE doc_id < 100
    """


@register(
    "q_bpe_encode",
    tags=["flagship"],
    family="text",
    oracle=None,  # set below: generated from the shipped merge table
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-vocab byte-pair encoding (nvtext byte_pair_encoding
    parity; upstream loads a pretrained merge-pair table and so do we:
    functions/bpe.CORPUS_MERGES, trained by functions/bpe.train_bpe on
    the corpus vocabulary).  Encoding is a pure JVM replace-chain fold
    in rank order — no UDF, runs inside the scan stage at 100 TB — and
    the DuckDB oracle replays the identical chain with the merge table
    inlined as literals."""
    from ..functions.bpe import bpe_encode_expr

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    bpe = bpe_encode_expr("text")
    return d.select(
        "doc_id",
        bpe.alias("bpe"),
        F.size(F.split(bpe, " ")).alias("n_bpe_tokens"),
    )


_REG["q_bpe_encode"].oracle = _bpe_oracle()


@register(
    "q_ngram_span_dedup",
    family="dedup",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(range(len(tk) - 7),
                          i -> array_to_string(tk[i + 1 : i + 8], ' ')))
                       AS gram
            FROM t WHERE len(tk) >= 8
        ),
        d AS (
            SELECT gram FROM g GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) >= 2
        )
        SELECT g.doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_grams,
               ROUND(SUM(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) AS dup_fraction
        FROM g LEFT JOIN d ON g.gram = d.gram
        GROUP BY g.doc_id
    """,
)
def q_ngram_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring (span-level) duplication profile — the
    Lee et al. 2022 'Deduplicating Training Data Makes Language Models
    Better' signal, which document-level dedup misses: per document,
    how many of its word 8-grams also occur in OTHER documents.
    Upstream NeMo-Curator ships this as its exact-substring dedup stage
    (suffix arrays there); the Spark-first shape is sliding-window
    8-grams (JVM slice/array_join over the token array — no UDF) ->
    groupBy(gram) with a COUNT(DISTINCT doc_id) >= 2 duplicated-gram
    set -> semi-style left join back -> per-doc counts.

    Scale: two shuffles (gram, then doc_id).  The gram groupBy is
    count-only partial aggregation — hot boilerplate grams combine
    map-side, never collect; the join back streams the exploded grams
    once.  At 100 TB you'd hash grams to 8-byte xxhash64 keys to shrink
    the shuffle (noted, not done here: the oracle replays raw grams)."""
    d = load_table(spark, sf_dir, "documents")
    # toks bound as a column: an inline split re-evaluates per lambda
    # element — O(len^2) per doc (r13 longdoc finding, q_bigram_lm_score)
    staged = d.select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    grams_arr = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 8),
        lambda i: F.array_join(F.slice(toks, i + 1, 8), " "),
    )
    g = (
        staged.filter(F.size(toks) >= 8)
        .select("doc_id", F.explode(grams_arr).alias("gram"))
    )
    dup = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("gram")
    )
    flagged = g.join(
        dup.withColumn("__dup", F.lit(1)), on="gram", how="left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce("__dup", F.lit(0))).alias("n_dup_grams"),
        F.round(
            F.sum(F.coalesce("__dup", F.lit(0))) * F.lit(1.0) / F.count("*"), 6
        ).alias("dup_fraction"),
    )


@register(
    "q_text_normalize",
    family="text",
    oracle="""
        SELECT e.event_id,
               -- trim(x, ' '): space-only, matching Spark's ASCII trim
               -- (duck's bare trim strips unicode whitespace — the r11
               -- corpus-fuzz pin applied everywhere a twin trims)
               trim(regexp_replace(
                   regexp_replace(
                       lower(e.props || ' ' || o.o_orderpriority),
                       '([{}":,;.!?()\\[\\]-])', ' \\1 ', 'g'),
                   ' +', ' ', 'g'), ' ') AS norm
        FROM events e
        JOIN orders o ON o.o_orderkey = e.event_id % 1000 + 1
        WHERE e.event_id < 2000
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nvtext ``normalize_characters`` parity (upstream:
    cpp/src/text/normalize.cu, python nvtext.normalize_characters):
    lowercase, pad punctuation with spaces (so tokenizers split it),
    collapse runs of whitespace.  Exercised on JSON-ish props strings +
    the dashed uppercase order priorities — the document corpus is
    already lowercase ASCII words, which would make the op a no-op.
    Pure codegen (two regexp_replace + lower) — runs inside the scan
    stage at 100 TB; the DuckDB twin applies the identical character
    class and replacement."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    o = load_table(spark, sf_dir, "orders")
    j = e.join(
        F.broadcast(o),
        o["o_orderkey"] == (e["event_id"] % 1000) + 1,
    )
    raw = F.lower(F.concat("props", F.lit(" "), "o_orderpriority"))
    padded = F.regexp_replace(raw, r'([{}":,;.!?()\[\]-])', r" $1 ")
    return j.select(
        "event_id",
        F.trim(F.regexp_replace(padded, " +", " ")).alias("norm"),
    )


@register(
    "q_qcut",
    family="aggregate",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_partkey, quartile
        FROM (
            SELECT l_orderkey, l_linenumber, l_partkey,
                   CAST(NTILE(4) OVER (
                       ORDER BY l_extendedprice NULLS LAST, l_orderkey,
                                l_linenumber, l_partkey, l_suppkey
                   ) AS BIGINT) AS quartile
            FROM lineitem
        )
    """,
)
def q_qcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas/cudf ``qcut`` (equal-frequency quantile binning) as its
    rank-based definition: ntile(4) over a TOTAL order (value + key
    tiebreakers), so bucket assignment is deterministic and the DuckDB
    twin replays it bit-for-bit.  Ties at bucket edges split by the
    tiebreak keys rather than pandas' value-edge rule — documented
    divergence; the equal-count property (the reason qcut exists) is
    exact.  Scale (round 7): runs as the DISTRIBUTED exact ntile
    (operators/ranking.py — sampled range bounds + bounded prefix offsets +
    partition-local window) over the FULL fact table; the previous
    single-partition NTILE funnel could never hold lineitem at
    100 TB, and the approx-edges fallback the old note suggested is
    no longer needed — exact equal counts survive at full
    parallelism."""
    from ..operators.ranking import global_ntile

    li = load_table(spark, sf_dir, "lineitem")
    # explicit NULLS LAST (round-9 null leg): Spark ASC defaults nulls
    # first, DuckDB last — a nullable qcut measure must pin placement
    order = [
        F.asc_nulls_last("l_extendedprice"),
        F.asc("l_orderkey"),
        F.asc("l_linenumber"),
        F.asc("l_partkey"),
        F.asc("l_suppkey"),
    ]
    return global_ntile(li, 4, order, out="__q").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.col("__q").cast("long").alias("quartile"),
    )


@register(
    "q_chunk_documents",
    family="text",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        )
        SELECT doc_id,
               CAST(s.i AS BIGINT) AS chunk_idx,
               array_to_string(tk[s.i * 24 + 1 : s.i * 24 + 32], ' ')
                   AS chunk_text,
               CAST(len(tk[s.i * 24 + 1 : s.i * 24 + 32]) AS BIGINT)
                   AS n_tokens
        FROM t, (SELECT unnest(range(
                 (SELECT MAX(len(string_split(text, ' '))) // 24 + 1
                  FROM documents))) AS i) s
        WHERE s.i * 24 < len(tk)
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (the RAG / training-prep
    primitive: fixed token budget per chunk with overlap so no span is
    split across a boundary without context): 32-token chunks with
    stride 24 (8-token overlap), one output row per chunk.  Pure JVM
    slice/array_join over the token array, explode is partition-local —
    zero shuffles, scales linearly at 100 TB.  The final short chunk is
    kept (standard behavior: the tail would otherwise be dropped)."""
    d = load_table(spark, sf_dir, "documents")
    # toks bound as a column: an inline split re-evaluates per lambda
    # element — O(len^2) per doc (r13 longdoc finding, q_bigram_lm_score)
    d = d.select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    chunk_size, stride = 32, 24
    chunks = F.transform(
        F.sequence(
            F.lit(0), F.floor((F.size(toks) - 1) / stride).cast("int")
        ),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice(toks, i * stride + 1, chunk_size), " "
            ).alias("chunk_text"),
            F.size(F.slice(toks, i * stride + 1, chunk_size))
            .cast("long")
            .alias("n_tokens"),
        ),
    )
    return d.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens"
    )


_BM25_TERMS = ["join", "hash", "window", "table"]


@register(
    "q_bm25_topk",
    family="text",
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS dl,
                   t.token
            FROM documents, unnest(string_split(text, ' ')) AS t(token)
        ),
        tf AS (
            SELECT doc_id, token, MIN(dl) AS dl, COUNT(*) AS tf
            FROM base
            WHERE token IN ('join', 'hash', 'window', 'table')
            GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
        ),
        stats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
            FROM documents
        ),
        scored AS (
            SELECT tf.doc_id,
                   ((1000 * (2 * s.n_docs - 2 * df.df + 1)) // (2 * df.df + 1))
                       * (22 * tf.tf * s.sum_dl)
                       // (10 * tf.tf * s.sum_dl + 3 * s.sum_dl
                           + 9 * tf.dl * s.n_docs) AS term_score
            FROM tf JOIN df USING (token) CROSS JOIN stats s
        )
        SELECT doc_id, score_s3, rank FROM (
            SELECT doc_id,
                   CAST(SUM(term_score) AS BIGINT) AS score_s3,
                   ROW_NUMBER() OVER (
                       ORDER BY CAST(SUM(term_score) AS BIGINT) DESC, doc_id
                   ) AS rank
            FROM scored GROUP BY doc_id
        ) WHERE rank <= 20
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document retrieval (Robertson/Sparck Jones probabilistic
    ranking; the scoring behind Lucene/Elasticsearch): top-20 documents
    for the query terms {join, hash, window, table}, k1=1.2, b=0.75.

    Exact-arithmetic trick: with k1=6/5 and b=3/4, multiplying the BM25
    term through by 10*sum_dl makes both numerator and denominator
    BIGINTs —

        score = idf3 * (22*tf*sum_dl)
                // (10*tf*sum_dl + 3*sum_dl + 9*dl*n_docs)
        idf3  = (1000*(2N - 2df + 1)) // (2df + 1)   # BM25+ idf, 1e3-scaled

    — so ranking, ties, and the oracle hash are integer-exact on both
    engines (no libm log, no float accumulation).  Headroom: the
    largest product idf3 * 22 * tf * sum_dl stays under 2^63 through
    ~1e6 docs x ~100 tokens (sf1); a corpus beyond that moves the
    score to DECIMAL(38,0) — same expressions, wider type.

    Scale: the explode is map-side and the query-term filter drops
    ~99% of tokens BEFORE the (doc_id, token) tf shuffle; dl rides the
    same aggregation (MIN of a per-doc constant) so the corpus is read
    ONCE; df (4 rows) and the global stats (1 row) broadcast; the final
    per-doc sum shuffles only docs matching a term, and top-20 is a
    TakeOrderedAndProject, not a global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.explode(toks).alias("token"),
    ).filter(F.col("token").isin(_BM25_TERMS))
    tf = base.groupBy("doc_id", "token").agg(
        F.min("dl").alias("dl"), F.count("*").alias("tf")
    )
    df_t = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("sum_dl"),
    )
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "((1000 * (2 * n_docs - 2 * df + 1)) div (2 * df + 1))"
                " * (22 * tf * sum_dl)"
                " div (10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs)"
            ).alias("term_score"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("score_s3")
    )
    top = per_doc.orderBy(F.desc("score_s3"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("score_s3"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "score_s3", "rank"
    )


@register(
    "q_pmi_collocations",
    family="text",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS l FROM documents
        ),
        bigrams AS (
            SELECT b.g.w1 AS w1, b.g.w2 AS w2
            FROM toks, unnest(list_transform(range(1, len(l)),
                i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS b(g)
        ),
        cab AS (
            SELECT w1, w2, COUNT(*) AS c_ab FROM bigrams GROUP BY w1, w2
        ),
        uni AS (
            SELECT t.token AS w, COUNT(*) AS c_w
            FROM toks, unnest(l) AS t(token) GROUP BY t.token
        ),
        stats AS (
            SELECT CAST(SUM(len(l)) AS BIGINT) AS n_tokens FROM toks
        )
        SELECT w1, w2, c_ab, lift_s6, rank FROM (
            SELECT cab.w1, cab.w2, cab.c_ab,
                   (1000000 * s.n_tokens * cab.c_ab)
                       // (a.c_w * b.c_w) AS lift_s6,
                   ROW_NUMBER() OVER (
                       ORDER BY (1000000 * s.n_tokens * cab.c_ab)
                                    // (a.c_w * b.c_w) DESC,
                                cab.w1, cab.w2
                   ) AS rank
            FROM cab
            JOIN uni a ON a.w = cab.w1
            JOIN uni b ON b.w = cab.w2
            CROSS JOIN stats s
            WHERE cab.c_ab >= 5
        ) WHERE rank <= 20
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise-mutual-information lift: the
    top-20 adjacent token pairs ranked by

        lift = N * c(w1,w2) / (c(w1) * c(w2))

    — exp(PMI), so the ranking is identical to PMI's without ever
    calling log: scaled 1e6 and floored with integer division, the
    score is a BIGINT and the oracle hash exact (min-count >= 5 screens
    the unstable singleton tail, as in the Church & Hanks setup).

    Scale: bigram explosion is map-side (slide over the token array);
    bigram counts are one (w1, w2) shuffle with map-side partial aggs;
    the unigram table is vocabulary-sized and BROADCAST twice (left and
    right word); token total is a broadcast scalar; top-20 is
    TakeOrderedAndProject, never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # tokenize ONCE into a column, then slide over the array — an
    # inline split(text) inside the transform lambda would re-split per
    # referenced element
    grams = (
        d.select(toks.alias("l"))
        # length guard (r10 empty-string leg): a single-token doc makes
        # sequence(1, 0) DESCEND and l[1] throws under ANSI sessions;
        # docs with < 2 tokens contribute no bigrams by definition.
        # The guard lives BOTH as a filter (row reduction) and inside
        # the expression (CASE): Catalyst may evaluate a combined
        # predicate's expression arm before the size conjunct (the
        # q_ppjoin_neardup finding), so only an in-expression
        # conditional is a sequencing guarantee.
        .filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.expr(
                    "CASE WHEN size(l) >= 2 THEN "
                    "transform(sequence(1, size(l) - 1), "
                    "i -> struct(l[i - 1] AS w1, l[i] AS w2)) "
                    "ELSE array() END"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
    )
    cab = grams.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    uni = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_w"))
    )
    stats = d.agg(F.sum(F.size(toks)).alias("n_tokens"))
    scored = (
        cab.filter(F.col("c_ab") >= 5)
        .join(
            F.broadcast(uni.select(F.col("w").alias("w1"),
                                   F.col("c_w").alias("c_a"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"),
                                   F.col("c_w").alias("c_b"))),
            "w2",
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.expr(
                "(1000000 * n_tokens * c_ab) div (c_a * c_b)"
            ).alias("lift_s6"),
        )
    )
    top = scored.orderBy(
        F.desc("lift_s6"), F.asc("w1"), F.asc("w2")
    ).limit(20)
    w = Window.orderBy(F.desc("lift_s6"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "w1", "w2", "c_ab", "lift_s6", "rank"
    )


@register(
    "q_entity_match_blocked",
    family="text",
    oracle="""
        WITH names AS (
            SELECT p_name, COUNT(*) AS n,
                   string_split(p_name, ' ')[-1] AS blk
            FROM part GROUP BY p_name
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
               a.n AS n_a, b.n AS n_b
        FROM names a JOIN names b
          ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_entity_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity matching (record linkage): candidate duplicate
    entity names found by BLOCK-then-VERIFY — the standard ER pattern
    (Fellegi-Sunter / dedupe.io): block on a cheap key (here the last
    name token), verify candidates with edit distance <= 2, and carry
    each name's occurrence count for survivorship decisions.

    Scale: the corpus first collapses to the DISTINCT-name level with
    occurrence counts (vocabulary-sized, orders of magnitude smaller
    than rows), so the quadratic verify only ever runs within a block
    of distinct names — one groupBy shuffle to build the name table,
    one block-key shuffle for the pair join.  Never an all-pairs cross
    join; never per-row edit distances over the raw table."""
    p = load_table(spark, sf_dir, "part")
    names = (
        p.groupBy("p_name")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "blk", F.element_at(F.split(F.col("p_name"), " "), -1)
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("n").alias("n_a"), "blk"
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("n").alias("n_b"), "blk"
    )
    return (
        a.join(b, on="blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein(F.col("name_a"), F.col("name_b")) <= 2)
        .select(
            "name_a",
            "name_b",
            F.levenshtein(F.col("name_a"), F.col("name_b"))
            .cast("long")
            .alias("dist"),
            "n_a",
            "n_b",
        )
    )


@register(
    "q_token_rarity",
    family="text",
    oracle="""
        WITH toks AS (
            SELECT doc_id, t.token
            FROM documents, unnest(string_split(text, ' ')) AS t(token)
        ),
        uni AS (
            SELECT token, COUNT(*) AS c_w FROM toks GROUP BY token
        ),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks)
        SELECT doc_id,
               CAST(SUM(s.n_tokens // u.c_w) AS BIGINT) AS rarity_sum,
               COUNT(*) AS n_toks,
               CAST(SUM(s.n_tokens // u.c_w) // COUNT(*) AS BIGINT)
                   AS mean_rarity
        FROM toks JOIN uni u USING (token) CROSS JOIN stats s
        GROUP BY doc_id
    """,
)
def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-rarity quality signal: the mean inverse
    corpus frequency floor(N / c(w)) of a document's tokens — a
    log-free perplexity proxy (documents stuffed with rare tokens score
    high; boilerplate scores low), used as a curation filter alongside
    q_quality_score's surface heuristics.  Integer-exact end to end:
    every per-token rarity and the per-doc mean are BIGINTs, so the
    oracle hash can't flake.

    Scale: one explode (map-side) + one (token) vocabulary aggregation
    BROADCAST back to the token stream + one doc_id rollup — the same
    two-shuffle shape as tf-idf; the corpus is read once."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    uni = toks.groupBy("token").agg(F.count("*").alias("c_w"))
    stats = toks.agg(F.count("*").alias("n_tokens"))
    return (
        toks.join(F.broadcast(uni), "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr("n_tokens div c_w").alias("rarity"))
        .groupBy("doc_id")
        .agg(
            F.sum("rarity").alias("rarity_sum"),
            F.count("*").alias("n_toks"),
        )
        .select(
            "doc_id",
            "rarity_sum",
            "n_toks",
            F.expr("rarity_sum div n_toks").alias("mean_rarity"),
        )
    )


@register(
    "q_bigram_lm_score",
    family="text",
    oracle="""
        WITH sp AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
        ),
        pairs AS (
            SELECT doc_id, u.bg.prev AS prev, u.bg.cur AS cur
            FROM sp,
                 unnest(CASE WHEN toks IS NULL OR len(toks) < 2 THEN []
                             ELSE list_transform(range(len(toks) - 1),
                                  i -> struct_pack(prev := toks[i + 1],
                                                   cur := toks[i + 2]))
                        END) AS u(bg)
        ),
        bc AS (SELECT prev, cur, COUNT(*) AS c_bg FROM pairs GROUP BY prev, cur),
        pc AS (SELECT prev, COUNT(*) AS c_prev FROM pairs GROUP BY prev),
        scored AS (
            SELECT p.doc_id,
                   -- CAST, not a 1000000.0 literal: DuckDB parses that
                   -- as DECIMAL and DECIMAL->DOUBLE is not correctly
                   -- rounded (the q_acf ulp class, NULLS.md r11); this
                   -- keeps the op sequence pure double like the
                   -- engine's F.lit(1000000.0) * c_bg / c_prev
                   CAST(FLOOR((CAST(1000000 AS DOUBLE) * bc.c_bg) / pc.c_prev) AS BIGINT)
                       AS p_s6
            FROM pairs p JOIN bc USING (prev, cur) JOIN pc USING (prev)
        )
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               CAST(SUM(p_s6) AS BIGINT) AS fluency_sum_s6,
               CAST(SUM(p_s6) // COUNT(*) AS BIGINT) AS fluency_mean_s6
        FROM scored
        GROUP BY doc_id
    """,
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score (r11): per document, the
    mean scaled conditional bigram probability
    floor(1e6 * c(prev,cur) / c(prev,*)) over the doc's own corpus-
    trained bigram LM — the CCNet/KenLM-style fluency filter next to
    q_token_rarity's unigram rarity: scrambled or boilerplate-stitched
    text scores low even when every individual token is common,
    because the CONTEXT transition is rare.  Log-free by design: the
    score is a scaled rational of two exact counts (one IEEE multiply
    + one correctly-rounded divide + floor per row, bit-identical in
    both engines), so the oracle hash cannot flake the way summed
    log-doubles would.

    NULL / '' / one-token documents have no bigrams and drop out —
    the guard is an explicit size branch on BOTH sides (Spark
    sequence(1,0) DESCENDS; the r10 char_ngrams lesson).

    Scale: one map-side bigram explode into a (doc, bigram, n_occ)
    pre-aggregation (every occurrence of a bigram carries the same
    probability, so ALL downstream joins ride on distinct rows), two
    vocabulary aggregations derived FROM the pre-aggregation (bigram +
    prefix counts), joined back on their own keys, then a doc_id
    rollup weighting by n_occ.  No broadcast of the bigram table (it
    is O(vocab^2) and must stay distributed); the per-doc mean is
    integer division, exact at any SF.

    x100 probes, both cells MEASURED r12 (BASELINE.md round 12): the
    dedup-HOSTILE cell (disjoint affine alphabets per copy) 15.6x wall
    for 100x rows; the Zipfian cell (CELL=zipf — fixed vocabulary, the
    realistic web-text regime) 13.1x.  The zipf gain comes from the
    count tables staying O(vocab^2)=931 rows vs 93k hostile — NOT from
    the distinct-(doc,bigram) cut.

    Pre-aggregation claim CLOSED r13 (BASELINE.md round 13, the
    CELL=longdoc cell — text repeated 8x within each document, the
    boilerplate regime): the cut is row_cut 8.27 / wall_cut 1.17
    there, vs row_cut 1.04 on short docs where it is wall-NEUTRAL
    (hostile 1.47) to wall-NEGATIVE (zipf 0.80 — the extra
    (doc,bigram) groupBy costs more than a 1.04 cut saves).  The r12
    "never worse" wording is therefore also corrected: never worse in
    ROWS at every join stage, but it pays one extra map-side-combined
    shuffle, so the WALL win needs intra-doc repetition to clear that
    cost.  Kept because the 100-TB target regime is long/boilerplate
    web documents — where both the row volume through two joins and
    the measured wall win — and the loss cell is overhead-dominated
    local-mode short docs."""
    d = load_table(spark, sf_dir, "documents")
    # MATERIALIZE the token array before the lambda (r13 longdoc probe):
    # an expression referenced inside a higher-order-function lambda is
    # re-evaluated PER ELEMENT — with toks = split(text) inline, every
    # bigram position re-split the whole document, O(len^2) per doc.
    # Invisible on short docs (~450 tokens); the CELL=longdoc probe's
    # ~3.5k-token docs turned minutes-long.  Bound as a projected
    # column, the lambda body is an O(1) attribute read.
    staged = d.select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("prev"),
                F.element_at(toks, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pairs = staged.select("doc_id", F.explode(bigrams).alias("bg")).select(
        "doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
    )
    # pre-aggregate occurrences: every occurrence of the same bigram
    # carries the same p_s6, so the count joins can ride on DISTINCT
    # (doc, bigram) rows instead of the raw token stream — the cut
    # scales with intra-doc bigram repetition (1.04x on this short-doc
    # corpus, material on long/boilerplate text; measured r12, see the
    # docstring), and the final sum is n_occ * p_s6 exactly.
    # bc/pc derive from the RAW pairs stream, not from occ: deriving
    # them from occ re-planned (and re-shuffled) the occ subtree once
    # per branch — three full-stream exchanges where one suffices; the
    # raw-stream counts are map-side-combined down to <= vocab^2 rows
    # per task before their (tiny) shuffles
    occ = pairs.groupBy("doc_id", "prev", "cur").agg(
        F.count("*").alias("n_occ")
    )
    bc = pairs.groupBy("prev", "cur").agg(F.count("*").alias("c_bg"))
    pc = pairs.groupBy("prev").agg(F.count("*").alias("c_prev"))
    scored = (
        occ.join(bc, ["prev", "cur"])
        .join(pc, ["prev"])
        .select(
            "doc_id",
            "n_occ",
            F.floor((F.lit(1000000.0) * F.col("c_bg")) / F.col("c_prev"))
            .cast("long")
            .alias("p_s6"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n_occ").alias("n_bigrams"),
        F.sum(F.col("n_occ") * F.col("p_s6")).alias("fluency_sum_s6"),
        F.expr(
            "sum(n_occ * p_s6) div sum(n_occ)"
        ).alias("fluency_mean_s6"),
    )


@register(
    "q_inverted_index",
    family="text",
    oracle="""
        WITH tf AS (
            SELECT t.token, doc_id, COUNT(*) AS tf
            FROM documents, unnest(string_split(text, ' ')) AS t(token)
            GROUP BY t.token, doc_id
        ),
        vocab AS (
            SELECT token, COUNT(*) AS df,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) ASC, token)
                       AS rarity_rank
            FROM tf GROUP BY token
        )
        SELECT v.token, v.df,
               string_agg(tf.doc_id || ':' || tf.tf, ' '
                          ORDER BY tf.doc_id) AS postings
        FROM vocab v JOIN tf USING (token)
        WHERE v.rarity_rank <= 10
        GROUP BY v.token, v.df
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the IR artifact behind q_bm25_topk
    and every posting-list search engine): per-token document posting
    lists 'doc:tf', built for the 10 rarest vocabulary terms
    (deterministic rarity rank) — the selective-term slice a real
    index would shard; common-term postings stay distributed.

    Scale: one (token, doc) tf shuffle; the 10 rarest terms are
    selected by ``orderBy().limit(10)`` — TakeOrderedAndProject, a
    distributed per-partition top-k + driver merge (round 7: this
    replaced a rank-then-filter global window, which funneled the
    WHOLE vocabulary — Heaps-law-large at 100 TB — through one
    partition to keep 10 rows); posting-list assembly (sort + join)
    happens per surviving token only.  The oracle replays the list
    as an ORDER BY'd string_agg."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    vocab = tf.groupBy("token").agg(F.count("*").alias("df"))
    rare = vocab.orderBy(F.asc("df"), F.asc("token")).limit(10)
    return (
        tf.join(F.broadcast(rare), "token")
        .groupBy("token", "df")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                    lambda s: F.concat_ws(
                        ":",
                        s["doc_id"].cast("string"),
                        s["tf"].cast("string"),
                    ),
                ),
                " ",
            ).alias("postings")
        )
        .select("token", "df", "postings")
    )


@register(
    "q_winsorized_stats",
    family="text",
    oracle="""
        WITH b AS (
            SELECT lang,
                   CAST(TRUNC(quantile_cont(n_chars, 0.05) * 10000)
                        AS BIGINT) AS p05_s4,
                   CAST(TRUNC(quantile_cont(n_chars, 0.95) * 10000)
                        AS BIGINT) AS p95_s4
            FROM documents GROUP BY lang
        )
        SELECT d.lang,
               MIN(b.p05_s4) AS p05_s4,
               MIN(b.p95_s4) AS p95_s4,
               CAST(SUM(GREATEST(b.p05_s4,
                                 LEAST(b.p95_s4, d.n_chars * 10000)))
                    AS BIGINT) // COUNT(*) AS wins_mean_s4,
               COUNT(*) AS n_docs
        FROM documents d JOIN b USING (lang)
        GROUP BY d.lang
    """,
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized corpus statistics per language: clamp document
    lengths to the exact interpolated [p05, p95] band, then take the
    outlier-robust mean — the curation-pipeline statistic that a plain
    mean gets wrong on heavy-tailed web corpora.  Bounds are TRUNCATED
    scaled BIGINTs (r4 ADVICE fix: round-to-4dp relied on Spark and
    DuckDB ROUND agreeing at representation boundaries; trunc on the
    same double is the same function in both engines), so the clamp
    and the mean are integer-exact cross-engine (the only float step
    is the shared interpolated percentile both engines compute
    identically on integral inputs).

    Scale: the bounds table is |langs| rows after one percentile
    shuffle, BROADCAST back; the winsorized rollup is the second (and
    last) shuffle."""
    d = load_table(spark, sf_dir, "documents")
    b = d.groupBy("lang").agg(
        (F.expr("percentile(n_chars, 0.05)") * 10000)
        .cast("long")
        .alias("p05_s4"),
        (F.expr("percentile(n_chars, 0.95)") * 10000)
        .cast("long")
        .alias("p95_s4"),
    )
    j = d.join(F.broadcast(b), "lang")
    clamped = F.greatest(
        F.col("p05_s4"),
        F.least(F.col("p95_s4"), F.col("n_chars") * 10000),
    )
    return (
        j.groupBy("lang")
        .agg(
            F.min("p05_s4").alias("p05_s4"),
            F.min("p95_s4").alias("p95_s4"),
            F.sum(clamped).alias("__s"),
            F.count("*").alias("n_docs"),
        )
        .select(
            "lang",
            "p05_s4",
            "p95_s4",
            F.expr("__s div n_docs").alias("wins_mean_s4"),
            "n_docs",
        )
    )


@register(
    "q_feature_hash_embed",
    family="text",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.token
            FROM documents, unnest(string_split(text, ' ')) AS t(token)
            WHERE doc_id < 100
        ),
        sig AS (
            SELECT doc_id, (h & 15) AS idx,
                   CASE WHEN ((h >> 4) & 1) = 0 THEN 1 ELSE -1 END AS sign
            FROM (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
                           AS h
                FROM tok
            )
        ),
        comp AS (
            SELECT doc_id, idx, CAST(SUM(sign) AS BIGINT) AS v
            FROM sig GROUP BY doc_id, idx
        )
        SELECT doc_id,
               array_to_string(
                   list_transform(range(0, 16),
                       i -> coalesce(map_extract(m, i)[1], 0)), ',') AS vec
        FROM (
            SELECT doc_id,
                   MAP(list(idx ORDER BY idx), list(v ORDER BY idx)) AS m
            FROM comp GROUP BY doc_id
        )
    """,
)
def q_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embedding (Weinberger et al. 2009, the
    'hashing trick'): each token's md5 picks a dimension (low 4 bits)
    and a sign (bit 4), and the document vector is the signed count per
    dimension — the no-training, vocabulary-free embedding that feeds
    cheap classifiers and blocking stages when real model embeddings
    are too expensive for a first pass.  Exact BIGINT components, so
    the oracle hash can't flake; md5 makes Spark and DuckDB agree
    bit-for-bit on dimension and sign.  The vector is emitted as a
    comma-joined string (array_join / array_to_string) — the repo-wide
    output discipline (see q_groupby_collect): every registered query
    returns only scalar columns so any hash/sort canonicalizer works.

    Scale: explode + hash + sign are map-side; ONE (doc_id, idx)
    shuffle with map-side partial sums (<= 16 rows per doc reach the
    reducers), then the per-doc densify is co-partitioned on doc_id
    (subset of the previous keys — no second exchange)."""
    from ..functions.text import md5_long

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    h = md5_long(F.col("token"))
    sig = tok.select(
        "doc_id",
        (h.bitwiseAND(F.lit(15))).alias("idx"),
        F.when(
            F.shiftright(h, 4).bitwiseAND(F.lit(1)) == 0, F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    comp = sig.groupBy("doc_id", "idx").agg(F.sum("sign").alias("v"))
    dense = comp.groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("idx", "v")))
        ).alias("m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("long")), F.lit(0).cast("long")),
    )
    return dense.select(
        "doc_id",
        F.array_join(
            F.transform(vec, lambda x: x.cast("string")), ","
        ).alias("vec"),
    )


@register(
    "q_nearest_centroid_classify",
    family="text",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, t.token
            FROM documents, unnest(string_split(text, ' ')) AS t(token)
        ),
        comp AS (
            SELECT doc_id, lang, (h & 15) AS idx,
                   CAST(SUM(CASE WHEN ((h >> 4) & 1) = 0 THEN 1 ELSE -1 END)
                        * 1000000 AS BIGINT) AS V
            FROM (
                SELECT doc_id, lang,
                       CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
                           AS h
                FROM tok
            )
            GROUP BY doc_id, lang, idx
        ),
        n_train AS (
            SELECT lang, COUNT(*) AS n FROM documents
            WHERE doc_id % 5 <> 0 GROUP BY lang
        ),
        cent AS (
            SELECT c.lang, c.idx,
                   CAST(TRUNC(CAST(SUM(c.V) AS DOUBLE) / MIN(t.n)) AS BIGINT)
                       AS C
            FROM comp c JOIN n_train t USING (lang)
            WHERE c.doc_id % 5 <> 0
            GROUP BY c.lang, c.idx
        ),
        sc2 AS (
            SELECT lang, CAST(SUM(C * C) AS BIGINT) AS sc2
            FROM cent GROUP BY lang
        ),
        test AS (
            SELECT doc_id, lang AS true_lang,
                   CAST(SUM(V * V) AS BIGINT) AS sv2
            FROM comp WHERE doc_id % 5 = 0 GROUP BY doc_id, lang
        ),
        dot AS (
            SELECT c.doc_id, ct.lang, CAST(SUM(c.V * ct.C) AS BIGINT) AS vc
            FROM comp c JOIN cent ct USING (idx)
            WHERE c.doc_id % 5 = 0
            GROUP BY c.doc_id, ct.lang
        ),
        scored AS (
            SELECT t.doc_id, t.true_lang, s.lang AS cand,
                   t.sv2 + s.sc2 - 2 * coalesce(d.vc, 0) AS dist
            FROM test t CROSS JOIN sc2 s
            LEFT JOIN dot d ON d.doc_id = t.doc_id AND d.lang = s.lang
        ),
        pred AS (
            SELECT doc_id, true_lang, cand AS pred_lang FROM (
                SELECT doc_id, true_lang, cand,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id ORDER BY dist ASC, cand
                       ) AS rn
                FROM scored
            ) WHERE rn = 1
        )
        SELECT true_lang, pred_lang, COUNT(*) AS n
        FROM pred GROUP BY true_lang, pred_lang
    """,
)
def q_nearest_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end in-engine classifier train + eval: feature-hash every
    document (the q_feature_hash_embed vectors, 1e6-scaled), fit a
    nearest-centroid (Rocchio) classifier per language on the train
    split (doc_id % 5 != 0), predict the held-out split, and emit the
    confusion matrix — the whole supervised pipeline as relational
    algebra, no ML library.

    The distance never needs dense vectors: ||v - c||^2 expands to
    sum(v^2) + sum(c^2) - 2*sum(v*c), and each term aggregates from the
    SPARSE (doc, dim) rows (missing dims contribute zero through the
    inner dot join + coalesce).  All terms are scaled BIGINTs; centroid
    means truncate toward zero via the shared double-TRUNC twin.

    Scale: one (doc, dim) shuffle builds sparse vectors; centroid /
    norm tables are |langs|x16 and BROADCAST; the scored grid is
    |test docs| x |langs| with a map-side argmin; the confusion rollup
    is |langs|^2."""
    from ..functions.text import md5_long

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    h = md5_long(F.col("token"))
    comp = (
        tok.select(
            "doc_id",
            "lang",
            h.bitwiseAND(F.lit(15)).alias("idx"),
            F.when(F.shiftright(h, 4).bitwiseAND(F.lit(1)) == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sign"),
        )
        .groupBy("doc_id", "lang", "idx")
        .agg((F.sum("sign") * 1000000).cast("long").alias("V"))
        # comp feeds THREE consumers (cent, test, dot); without a
        # materialization barrier the explode+hash+agg subtree runs
        # three times (r4 VERDICT item 6 — sh=14 digest).  A lazy
        # localCheckpoint computes it once and reuses the partitions.
        .localCheckpoint(eager=False)
    )
    is_train = F.col("doc_id") % 5 != 0
    n_train = d.filter(is_train).groupBy("lang").agg(F.count("*").alias("n"))
    cent = (
        comp.filter(is_train)
        .join(F.broadcast(n_train), "lang")
        .groupBy("lang", "idx")
        .agg(
            (F.sum("V") / F.min("n")).cast("long").alias("C")
        )
    )
    sc2 = cent.groupBy("lang").agg(
        F.sum(F.col("C") * F.col("C")).alias("sc2")
    )
    test = (
        comp.filter(~is_train)
        .groupBy("doc_id", F.col("lang").alias("true_lang"))
        .agg(F.sum(F.col("V") * F.col("V")).alias("sv2"))
    )
    dot = (
        comp.filter(~is_train)
        .join(F.broadcast(cent.select(F.col("lang").alias("cand"), "idx", "C")), "idx")
        .groupBy("doc_id", "cand")
        .agg(F.sum(F.col("V") * F.col("C")).alias("vc"))
    )
    scored = (
        test.crossJoin(F.broadcast(sc2.select(F.col("lang").alias("cand"), "sc2")))
        .join(dot, ["doc_id", "cand"], "left")
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (
                F.col("sv2")
                + F.col("sc2")
                - 2 * F.coalesce(F.col("vc"), F.lit(0))
            ).alias("dist"),
        )
    )
    pred = scored.groupBy("doc_id", "true_lang").agg(
        F.min(F.struct("dist", "cand")).alias("best")
    )
    return pred.groupBy(
        "true_lang", F.col("best.cand").alias("pred_lang")
    ).agg(F.count("*").alias("n"))


@register(
    "q_weighted_resample",
    family="text",
    oracle="""
        WITH per AS (
            SELECT source,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   COUNT(*) AS n_sources
            FROM per
        ),
        w AS (
            SELECT source,
                   LEAST(CAST(FLOOR(CAST(total_tokens AS DOUBLE)
                                    / n_sources / n_tokens * 1000000 + 0.5)
                              AS BIGINT), 1000000) AS keep_ppm
            FROM per CROSS JOIN tot
        )
        SELECT d.source, MIN(w.keep_ppm) AS keep_ppm,
               COUNT(*) AS n_docs,
               CAST(COUNT(*) FILTER (
                   CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000000 < w.keep_ppm
               ) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN
                   CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000000 < w.keep_ppm
                   THEN len(string_split(d.text, ' ')) ELSE 0 END)
                   AS BIGINT) AS kept_tokens
        FROM documents d JOIN w USING (source)
        GROUP BY d.source
    """,
)
def q_weighted_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling APPLIED: q_domain_mix_weights computes
    the flatten-to-uniform weight per source; this operator executes
    the downsample — a document survives iff its deterministic md5 ppm
    bucket falls under the source's keep rate (weights above 1 cap at
    keep-everything; true upsampling duplicates rows downstream).  The
    per-source report (kept docs/tokens) shows the mix flattening.
    Deterministic: the same document always makes the same cut, on any
    engine, any partitioning, any rerun — the property a reproducible
    training-data pipeline needs from its sampler.

    Scale: one source aggregation (domain-cardinality, broadcast back);
    the keep decision is a map-side hash compare; the report rollup
    shuffles |sources| rows."""
    from ..functions.text import md5_long

    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    w = per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.floor(
                F.col("total_tokens").cast("double")
                / F.col("n_sources")
                / F.col("n_tokens")
                * 1000000
                + 0.5
            ).cast("long"),
            F.lit(1000000).cast("long"),
        ).alias("keep_ppm"),
    )
    bucket = md5_long(F.col("doc_id").cast("string")) % 1000000
    keep = bucket < F.col("keep_ppm")
    return (
        d.join(F.broadcast(w), "source")
        .groupBy("source")
        .agg(
            F.min("keep_ppm").alias("keep_ppm"),
            F.count("*").alias("n_docs"),
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.sum(
                F.when(keep, F.size(F.split("text", " ")).cast("long"))
                .otherwise(F.lit(0))
            ).alias("kept_tokens"),
        )
    )


@register(
    "q_dup_rate_by_source",
    family="dedup",
    oracle="""
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(text)) AS n_distinct,
               (1000000 * (COUNT(*) - COUNT(DISTINCT md5(text))))
                   // COUNT(*) AS dup_ppm
        FROM documents
        GROUP BY source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup health report: per-source exact-duplicate rate (ppm) —
    the monitoring rollup a curation pipeline alerts on (a crawler
    regression shows up as one source's dup_ppm spiking long before
    corpus-level metrics move).  Hashes the text ONCE map-side
    (md5, the same digest the exact-dedup operator keys on) and counts
    distinct digests per source; the rate is a non-negative integer
    floor.

    Scale: one source-grouped distinct-count shuffle (Spark plans
    expand + two-phase distinct aggregation with map-side partials);
    no joins, no windows."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        F.expr(
            "(1000000 * (count(1) - count(DISTINCT md5(text)))) div count(1)"
        ).alias("dup_ppm"),
    )


@register(
    "q_gopher_rules",
    family="text",
    oracle="""
        WITH per AS (
            SELECT
                lang,
                len(string_split(text, ' ')) AS n_words,
                LENGTH(REPLACE(text, ' ', '')) AS n_word_chars,
                LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
                    + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) // 3
                    AS n_symbols,
                len(list_filter(string_split(text, ' '),
                                t -> regexp_matches(t, '[a-zA-Z]')))
                    AS n_alpha_words,
                len(list_filter(
                        ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'for',
                         'on', 'with'],
                        w -> list_contains(string_split(text, ' '), w)))
                    AS n_stop_types
            FROM documents
        ),
        flags AS (
            SELECT
                lang,
                CASE WHEN n_words BETWEEN 10 AND 100000
                     THEN 0 ELSE 1 END AS f_wc,
                CASE WHEN 3 * n_words <= n_word_chars
                          AND n_word_chars <= 10 * n_words
                     THEN 0 ELSE 1 END AS f_mwl,
                CASE WHEN 10 * n_symbols <= n_words
                     THEN 0 ELSE 1 END AS f_sym,
                CASE WHEN 5 * n_alpha_words >= 4 * n_words
                     THEN 0 ELSE 1 END AS f_alpha,
                CASE WHEN n_stop_types >= 2 THEN 0 ELSE 1 END AS f_stop
            FROM per
        )
        SELECT
            lang,
            COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN f_wc + f_mwl + f_sym + f_alpha + f_stop = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
            CAST(SUM(f_wc) AS BIGINT) AS fail_word_count,
            CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
            CAST(SUM(f_sym) AS BIGINT) AS fail_symbol_ratio,
            CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha_ratio,
            CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords
        FROM flags
        GROUP BY lang
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule verdicts (Rae et al. 2021, arXiv:2112.11446
    Appendix A): the pretraining-corpus admission filter as integer
    rule flags — word-count bounds, mean word length in [3, 10],
    symbol-to-word ratio <= 0.1 ('#' chars + '...' runs), >= 80% of
    words containing an alphabetic char, and >= 2 distinct required
    stopwords — rolled up per language as pass/fail counts (the report
    a curation pipeline alerts on, and the mask a filter step applies).

    Every threshold is evaluated as a cross-multiplied INTEGER
    comparison (3*n_words <= n_word_chars, 5*n_alpha >= 4*n_words, ...)
    so no ratio ever becomes a float — the q_pmi_collocations
    determinism discipline applied to filtering.

    Scale: all five rules are map-side string/array expressions over
    one scan; the only shuffle is the per-language rollup (map-side
    combined into |langs| rows)."""
    from ..functions.text import _EN_STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    n_word_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_symbols = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
        + (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
        )
        / F.lit(3)
    ).cast("long")
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    n_stop_types = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in _EN_STOPWORDS]),
            lambda w: F.array_contains(toks, w),
        )
    )
    flag = lambda ok: F.when(ok, F.lit(0)).otherwise(F.lit(1))  # noqa: E731
    flags = d.select(
        "lang",
        flag(n_words.between(10, 100000)).alias("f_wc"),
        flag(
            (3 * n_words <= n_word_chars) & (n_word_chars <= 10 * n_words)
        ).alias("f_mwl"),
        flag(10 * n_symbols <= n_words).alias("f_sym"),
        flag(5 * n_alpha >= 4 * n_words).alias("f_alpha"),
        flag(n_stop_types >= 2).alias("f_stop"),
    )
    total = (
        F.col("f_wc")
        + F.col("f_mwl")
        + F.col("f_sym")
        + F.col("f_alpha")
        + F.col("f_stop")
    )
    return flags.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(total == 0, 1).otherwise(0)).cast("long").alias("n_pass"),
        F.sum("f_wc").cast("long").alias("fail_word_count"),
        F.sum("f_mwl").cast("long").alias("fail_mean_word_len"),
        F.sum("f_sym").cast("long").alias("fail_symbol_ratio"),
        F.sum("f_alpha").cast("long").alias("fail_alpha_ratio"),
        F.sum("f_stop").cast("long").alias("fail_stopwords"),
    )


@register(
    "q_lexical_diversity",
    family="text",
    oracle="""
        WITH per AS (
            SELECT
                doc_id,
                len(string_split(text, ' ')) AS n_tokens,
                len(list_distinct(string_split(text, ' '))) AS n_types,
                len(list_filter(
                        list_distinct(string_split(text, ' ')),
                        t -> len(list_filter(string_split(text, ' '),
                                             u -> u = t)) = 1))
                    AS n_hapax,
                list_sum(list_transform(
                    list_distinct(string_split(text, ' ')),
                    t -> CAST(len(list_filter(string_split(text, ' '),
                                              u -> u = t)) AS BIGINT)
                         * (len(list_filter(string_split(text, ' '),
                                            u -> u = t)) - 1)))
                    AS sum_cc1
            FROM documents
        )
        SELECT doc_id, n_tokens, n_types,
               (1000000 * n_types) // n_tokens AS ttr_ppm,
               (1000000 * n_hapax) // n_types AS hapax_ppm,
               CAST(CASE WHEN n_tokens > 1
                    THEN 1000000
                         - (1000000 * sum_cc1)
                           // (CAST(n_tokens AS BIGINT) * (n_tokens - 1))
                    ELSE 0 END AS BIGINT) AS simpson_ppm
        FROM per
        ORDER BY simpson_ppm DESC, doc_id
        LIMIT 20
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio, hapax-legomenon
    ratio, and the Gini-Simpson index (Simpson 1949 — the probability
    two random tokens differ), top-20 most diverse documents.  The
    entropy-style repetitiveness signal of a curation pipeline, in
    EXACT integer form: Gini-Simpson = 1 - sum(c*(c-1))/(n*(n-1)) needs
    only token counts, so unlike Shannon entropy it never calls a
    transcendental function — no cross-engine libm drift (the
    discipline ADVICE r4 asked for on float statistics).

    Scale: token counts fold map-side per row (aggregate over the
    frequency map of the token array); the only data movement is the
    global top-20, a TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    # toks/types bound as columns: inline expressions inside the count
    # lambdas re-evaluate per element — with toks = split(text) inline,
    # every cnt() call re-split the document (r13 longdoc finding, see
    # q_bigram_lm_score).  The per-type count scan itself stays
    # O(types * len) by design (map-side, no shuffle).
    staged = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", "toks", F.array_distinct("toks").alias("types")
    )
    toks = F.col("toks")
    types = F.col("types")
    cnt = lambda t: F.size(F.filter(toks, lambda u: u == t))  # noqa: E731
    n_tokens = F.size(toks).cast("long")
    n_types = F.size(types).cast("long")
    n_hapax = F.size(F.filter(types, lambda t: cnt(t) == 1)).cast("long")
    sum_cc1 = F.aggregate(
        F.transform(types, lambda t: cnt(t).cast("long") * (cnt(t) - 1)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    per = staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        n_hapax.alias("n_hapax"),
        sum_cc1.alias("sum_cc1"),
    )
    return (
        per.select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.expr("(1000000 * n_types) div n_tokens").alias("ttr_ppm"),
            F.expr("(1000000 * n_hapax) div n_types").alias("hapax_ppm"),
            F.when(
                F.col("n_tokens") > 1,
                F.lit(1000000)
                - F.expr(
                    "(1000000 * sum_cc1) div (n_tokens * (n_tokens - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("simpson_ppm"),
        )
        .orderBy(F.desc("simpson_ppm"), F.asc("doc_id"))
        .limit(20)
    )


def _dsir_oracle() -> str:
    from ..functions.text import _md5_long_sql

    h = _md5_long_sql("t.token")
    return f"""
        WITH tok AS (
            SELECT d.doc_id, d.lang, {h} % 256 AS f
            FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
        ),
        feat AS (
            SELECT f,
                   COUNT(*) AS rc,
                   CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS tc
            FROM tok GROUP BY f
        ),
        tot AS (
            SELECT CAST(SUM(rc) AS BIGINT) AS rt,
                   CAST(SUM(tc) AS BIGINT) AS tt
            FROM feat
        ),
        lam AS (
            SELECT f,
                   (1000000 * (tc + 1) * (rt + 256))
                       // ((tt + 256) * (rc + 1)) AS lift_s6
            FROM feat CROSS JOIN tot
        ),
        docfeat AS (
            SELECT doc_id, f, COUNT(*) AS df FROM tok GROUP BY doc_id, f
        ),
        score AS (
            SELECT d.doc_id,
                   CAST(SUM(d.df * l.lift_s6) AS BIGINT) AS raw_s6,
                   CAST(SUM(d.df) AS BIGINT) AS n_tokens
            FROM docfeat d JOIN lam l USING (f)
            GROUP BY d.doc_id
        )
        SELECT doc_id, n_tokens,
               raw_s6 // n_tokens AS weight_s6,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY raw_s6 // n_tokens DESC, doc_id
               ) AS BIGINT) AS rank
        FROM score
        ORDER BY rank
        LIMIT 20
    """


@register(
    "q_dsir_lift",
    family="text",
    oracle=None,  # set below (generated md5-twin SQL)
)
def q_dsir_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023, arXiv:2302.03169):
    score every document by how much its hashed-unigram features look
    like the TARGET domain (lang='en') relative to the raw corpus, and
    return the top-20 — importance resampling's ranking pass.  The
    per-feature statistic is the integer LIFT (target rate over raw
    rate, +1/+K smoothed, 1e6-scaled with // floors) instead of DSIR's
    log-ratio: lift is order-isomorphic to the log-ratio per feature
    and keeps the whole pipeline in exact integers (the PMI / Gini-
    Simpson determinism discipline — no libm, no cross-engine drift);
    per-doc weight is the token-count-weighted mean lift.

    Scale: feature stats are ONE conditional aggregate over the token
    stream into 256 rows (map-side combined), broadcast back onto the
    per-doc feature counts; top-20 is TakeOrderedAndProject.  Nothing
    quadratic, nothing driver-side but the 256-row lift table."""
    from ..functions.text import md5_long

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    ).select("doc_id", "lang", (md5_long(F.col("token")) % 256).alias("f"))
    feat = tok.groupBy("f").agg(
        F.count("*").alias("rc"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("tc"),
    )
    tot = feat.agg(
        F.sum("rc").cast("long").alias("rt"),
        F.sum("tc").cast("long").alias("tt"),
    )
    lam = feat.crossJoin(F.broadcast(tot)).select(
        "f",
        F.expr(
            "(1000000 * (tc + 1) * (rt + 256)) div ((tt + 256) * (rc + 1))"
        ).alias("lift_s6"),
    )
    docfeat = tok.groupBy("doc_id", "f").agg(F.count("*").alias("df"))
    score = (
        docfeat.join(F.broadcast(lam), "f")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("df") * F.col("lift_s6")).cast("long").alias("raw_s6"),
            F.sum("df").cast("long").alias("n_tokens"),
        )
    )
    # top-20 FIRST (TakeOrderedAndProject, distributed), then rank the
    # bounded 20-row result — round 7: the previous form ranked EVERY
    # document through a single-partition window before the limit
    scored = score.select(
        "doc_id",
        "n_tokens",
        F.expr("raw_s6 div n_tokens").alias("weight_s6"),
    )
    top = scored.orderBy(F.desc("weight_s6"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("weight_s6"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "n_tokens", "weight_s6", "rank")
        .orderBy("rank")
    )


_REG["q_dsir_lift"].oracle = _dsir_oracle()


@register(
    "q_vocab_growth",
    family="text",
    oracle="""
        WITH n AS (SELECT COUNT(*) AS nd FROM documents),
        tok AS (
            SELECT (d.doc_id * 10) // n.nd AS bucket, t.token
            FROM documents d CROSS JOIN n,
                 unnest(string_split(d.text, ' ')) AS t(token)
        ),
        first_seen AS (
            SELECT token, MIN(bucket) AS b0 FROM tok GROUP BY token
        ),
        new_types AS (
            SELECT b0 AS bucket, COUNT(*) AS n_new
            FROM first_seen GROUP BY b0
        ),
        toks_per AS (
            SELECT bucket, COUNT(*) AS n_toks FROM tok GROUP BY bucket
        )
        SELECT t.bucket,
               CAST(SUM(t.n_toks) OVER (
                   ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens,
               CAST(SUM(COALESCE(nw.n_new, 0)) OVER (
                   ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_vocab
        FROM toks_per t LEFT JOIN new_types nw USING (bucket)
        ORDER BY t.bucket
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve (Heaps 1978): cumulative
    distinct-type count vs cumulative token count over ten doc_id-
    ordered corpus prefixes — the curve that predicts tokenizer vocab
    saturation and detects corpus staleness (a flattening curve means
    new data stopped contributing new vocabulary).

    Scale: 'first bucket a token appears in' is ONE min-aggregate on
    the token (never a per-prefix distinct — the naive formulation
    re-counts the vocabulary 10 times); the cumulative sums then run
    over a 10-row frame.  Two token-keyed shuffles total, both
    map-side combinable."""
    d = load_table(spark, sf_dir, "documents")
    nd = d.count()  # metadata-only parquet count
    tok = d.select(
        ((F.col("doc_id") * 10) / nd).cast("long").alias("bucket"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    first_seen = tok.groupBy("token").agg(F.min("bucket").alias("b0"))
    new_types = first_seen.groupBy(F.col("b0").alias("bucket")).agg(
        F.count("*").alias("n_new")
    )
    toks_per = tok.groupBy("bucket").agg(F.count("*").alias("n_toks"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        toks_per.join(new_types, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_toks").over(w).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


def _fertility_oracle() -> str:
    from ..functions.bpe import bpe_encode_sql

    return f"""
        WITH per AS (
            SELECT lang,
                   len(string_split(text, ' ')) AS n_words,
                   LENGTH(REPLACE(text, ' ', '')) AS n_chars,
                   len(string_split({bpe_encode_sql("text")}, ' '))
                       AS n_bpe
            FROM documents WHERE doc_id < 200
        )
        SELECT lang,
               CAST(SUM(n_words) AS BIGINT) AS total_words,
               CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
               (1000000 * CAST(SUM(n_bpe) AS BIGINT))
                   // CAST(SUM(n_words) AS BIGINT) AS fertility_ppm,
               (1000000 * CAST(SUM(n_chars) AS BIGINT))
                   // CAST(SUM(n_bpe) AS BIGINT) AS chars_per_token_ppm
        FROM per
        GROUP BY lang
    """


@register(
    "q_tokenizer_fertility",
    family="text",
    oracle=None,  # set below: generated from the shipped merge table
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: BPE tokens per word and characters
    per BPE token, rolled up per language — the statistic that decides
    whether a tokenizer under-serves a language (fertility creeping
    toward characters-per-word means the merges never fire there) and
    the denominator behind per-language training-token budgets.  Uses
    the engine's own trained merge table (q_bpe_encode's), so the
    audit measures the shipped tokenizer, not a proxy; ratios are
    ppm-scaled integer floors.

    Scale: the encode replace-chain is map-side JVM inside the scan;
    the rollup is |langs| rows."""
    from ..functions.bpe import bpe_encode_expr

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    per = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("long")
        .alias("n_chars"),
        F.size(F.split(bpe_encode_expr("text"), " "))
        .cast("long")
        .alias("n_bpe"),
    )
    return per.groupBy("lang").agg(
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        F.expr("(1000000 * sum(n_bpe)) div sum(n_words)").alias(
            "fertility_ppm"
        ),
        F.expr("(1000000 * sum(n_chars)) div sum(n_bpe)").alias(
            "chars_per_token_ppm"
        ),
    )


_REG["q_tokenizer_fertility"].oracle = _fertility_oracle()


def _countmin_oracle() -> str:
    from ..functions.text import _md5_long_sql

    h = _md5_long_sql("'s' || CAST(d.seed AS VARCHAR) || ':' || t.token")
    hq = _md5_long_sql("'s' || CAST(d2.seed AS VARCHAR) || ':' || c.token")
    return f"""
        WITH tok AS (
            SELECT t.token
            FROM documents, unnest(string_split(text, ' ')) AS t(token)
        ),
        cells AS (
            SELECT d.seed AS row_id, {h} % 256 AS col_id,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok t CROSS JOIN (SELECT UNNEST(range(4)) AS seed) d
            GROUP BY d.seed, {h} % 256
        ),
        truth AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
            FROM tok GROUP BY token
            ORDER BY COUNT(*) DESC, token LIMIT 20
        ),
        est AS (
            SELECT c.token, c.true_count,
                   CAST(MIN(cl.cnt) AS BIGINT) AS est_count
            FROM truth c
            CROSS JOIN (SELECT UNNEST(range(4)) AS seed) d2
            JOIN cells cl
              ON cl.row_id = d2.seed AND cl.col_id = {hq} % 256
            GROUP BY c.token, c.true_count
        )
        SELECT token, true_count, est_count,
               est_count - true_count AS overcount
        FROM est
        ORDER BY true_count DESC, token
    """


@register(
    "q_countmin_heavy_hitters",
    family="text",
    oracle=None,  # set below (generated md5-twin SQL)
)
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    estimation: a 4x256 counter matrix summarizes the whole token
    stream in constant memory, and each candidate's frequency estimate
    is the MIN over its four hashed cells — always an OVERestimate,
    which the query exposes by joining the estimates back to the exact
    counts of the top-20 tokens (overcount >= 0 is the sketch's
    one-sided guarantee, asserted by the oracle equivalence).  Hashes
    are the engine's seeded md5 rows, so sketch construction AND
    probing replay exactly in SQL.

    Scale: sketch build is ONE groupBy into <= 1024 cells regardless
    of vocabulary size (map-side combined — this is why CMS exists);
    the probe set is 20 rows.  The exact top-20 ground truth is the
    expensive half, included here as the verification harness."""
    from ..functions.text import md5_long

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    seeds = tok.sparkSession.range(4).select(
        F.col("id").cast("long").alias("seed")
    )
    h = md5_long(
        F.concat(F.lit("s"), F.col("seed").cast("string"), F.lit(":"), F.col("token"))
    )
    cells = (
        tok.crossJoin(F.broadcast(seeds))
        .groupBy(
            F.col("seed").alias("row_id"), (h % 256).alias("col_id")
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    truth = (
        tok.groupBy("token")
        .agg(F.count("*").cast("long").alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("token"))
        .limit(20)
    )
    probe = truth.crossJoin(F.broadcast(seeds.withColumnRenamed("seed", "s2")))
    hq = md5_long(
        F.concat(F.lit("s"), F.col("s2").cast("string"), F.lit(":"), F.col("token"))
    )
    est = (
        probe.join(
            cells,
            (F.col("s2") == F.col("row_id")) & ((hq % 256) == F.col("col_id")),
        )
        .groupBy("token", "true_count")
        .agg(F.min("cnt").cast("long").alias("est_count"))
    )
    return est.select(
        "token",
        "true_count",
        "est_count",
        (F.col("est_count") - F.col("true_count")).alias("overcount"),
    ).orderBy(F.desc("true_count"), F.asc("token"))


_REG["q_countmin_heavy_hitters"].oracle = _countmin_oracle()


def _bloom_oracle() -> str:
    from ..functions.text import _md5_long_sql

    def h(seed_col: str, gram: str) -> str:
        return (
            _md5_long_sql(f"'b' || CAST({seed_col} AS VARCHAR) || ':' || {gram}")
            + " % 262144"
        )

    return f"""
        WITH bench AS (
            SELECT DISTINCT
                   l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS gram
            FROM (SELECT string_split(text, ' ') AS l FROM documents
                  WHERE source = 'src0'),
                 unnest(range(1, len(l) - 1)) AS u(i)
            WHERE len(l) >= 3
        ),
        bloom AS (
            SELECT ({h("d.seed", "b.gram")}) // 60 AS word_idx,
                   bit_or(1::BIGINT << (({h("d.seed", "b.gram")}) % 60))
                       AS bits
            FROM bench b CROSS JOIN (SELECT UNNEST(range(3)) AS seed) d
            GROUP BY 1
        ),
        corpus AS (
            SELECT DISTINCT doc_id, source,
                   l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS gram
            FROM (SELECT doc_id, source, string_split(text, ' ') AS l
                  FROM documents WHERE source <> 'src0'),
                 unnest(range(1, len(l) - 1)) AS u(i)
            WHERE len(l) >= 3
        ),
        probes AS (
            SELECT c.doc_id, c.source, c.gram,
                   COUNT(*) FILTER (
                       (bl.bits >> (({h("d.seed", "c.gram")}) % 60)) & 1 = 1
                   ) AS n_hits
            FROM corpus c
            CROSS JOIN (SELECT UNNEST(range(3)) AS seed) d
            LEFT JOIN bloom bl
              ON bl.word_idx = ({h("d.seed", "c.gram")}) // 60
            GROUP BY c.doc_id, c.source, c.gram
        ),
        flagged AS (
            SELECT doc_id, source,
                   MAX(CASE WHEN n_hits = 3 THEN 1 ELSE 0 END) AS bloom_hit,
                   MAX(CASE WHEN gram IN (SELECT gram FROM bench)
                            THEN 1 ELSE 0 END) AS exact_hit
            FROM probes GROUP BY doc_id, source
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(bloom_hit) AS BIGINT) AS n_flagged_bloom,
               CAST(SUM(exact_hit) AS BIGINT) AS n_flagged_exact,
               CAST(SUM(CASE WHEN bloom_hit = 1 AND exact_hit = 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_positive
        FROM flagged
        GROUP BY source
    """


@register(
    "q_bloom_decontaminate",
    family="text",
    oracle=None,  # set below (generated md5-twin SQL)
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (Bloom 1970; the NEAR-dedup cousin
    of q_decontaminate's exact pass): the benchmark trigram set is
    compressed into a FIXED 256-Kbit / k=3 bitset (~4370 60-bit words — 35 KB
    broadcast no matter how big the benchmark grows), corpus trigrams
    probe it map-side, and the rollup reports per-source flagged
    counts for the bloom pass AND the exact pass side by side, so the
    query measures its own false-positive count (blooms never false-
    negative — the oracle equivalence pins exact_hit=1 => bloom_hit=1).

    Scale: this is the decontamination shape that survives a benchmark
    set too large to broadcast raw — the bitset is constant-size by
    construction, the corpus stream never shuffles for the probe, and
    false positives are quantified, not guessed.  Seeded md5 bit
    positions replay exactly in SQL."""
    from ..functions.text import md5_long

    d = load_table(spark, sf_dir, "documents")

    def grams(df):
        t = df.select(
            "doc_id", "source", F.split("text", " ").alias("l")
        ).filter(F.size("l") >= 3)
        return t.select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(l) - 3),"
                    " i -> concat_ws(' ', l[i], l[i+1], l[i+2]))"
                )
            ).alias("gram"),
        )

    def h(seed_col, gram_col):
        return (
            md5_long(
                F.concat(
                    F.lit("b"),
                    seed_col.cast("string"),
                    F.lit(":"),
                    gram_col,
                )
            )
            % 262144
        )

    seeds = d.sparkSession.range(3).select(
        F.col("id").cast("long").alias("seed")
    )
    bench = (
        grams(d.filter(F.col("source") == "src0"))
        .select("gram")
        .distinct()
    )
    bloom = (
        bench.crossJoin(F.broadcast(seeds))
        .select(h(F.col("seed"), F.col("gram")).alias("pos"))
        .groupBy(F.expr("CAST(pos div 60 AS LONG)").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS LONG), CAST(pos % 60 AS INT))")
            ).alias("bits")
        )
    )
    corpus = grams(d.filter(F.col("source") != "src0")).dropDuplicates(
        ["doc_id", "source", "gram"]
    )
    probes = (
        corpus.crossJoin(F.broadcast(seeds))
        .select(
            "doc_id",
            "source",
            "gram",
            h(F.col("seed"), F.col("gram")).alias("pos"),
        )
        .join(
            F.broadcast(bloom),
            F.expr("CAST(pos div 60 AS LONG)") == F.col("word_idx"),
            "left",
        )
        .groupBy("doc_id", "source", "gram")
        .agg(
            F.count(
                F.when(
                    F.expr(
                        "(shiftright(bits, CAST(pos % 60 AS INT)) & 1) = 1"
                    ),
                    1,
                )
            ).alias("n_hits")
        )
    )
    flagged = (
        probes.join(
            F.broadcast(bench.withColumnRenamed("gram", "bgram")),
            F.col("gram") == F.col("bgram"),
            "left",
        )
        .groupBy("doc_id", "source")
        .agg(
            F.max(F.when(F.col("n_hits") == 3, 1).otherwise(0)).alias(
                "bloom_hit"
            ),
            F.max(
                F.when(F.col("bgram").isNotNull(), 1).otherwise(0)
            ).alias("exact_hit"),
        )
    )
    return flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("bloom_hit").cast("long").alias("n_flagged_bloom"),
        F.sum("exact_hit").cast("long").alias("n_flagged_exact"),
        F.sum(
            F.when((F.col("bloom_hit") == 1) & (F.col("exact_hit") == 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_false_positive"),
    )


_REG["q_bloom_decontaminate"].oracle = _bloom_oracle()


@register(
    "q_ppjoin_neardup",
    family="dedup",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i] || ' '
                            || string_split(text, ' ')[i + 1] || ' '
                            || string_split(text, ' ')[i + 2])) AS sh
            FROM documents
            WHERE doc_id < 400 AND len(string_split(text, ' ')) >= 3
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(1000000 * len(list_intersect(a.sh, b.sh))
                    // (len(a.sh) + len(b.sh)
                        - len(list_intersect(a.sh, b.sh)))
                    AS BIGINT) AS jaccard_ppm
        FROM d a JOIN d b ON b.doc_id > a.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              >= 0.5
    """,
)
def q_ppjoin_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (SSJoin /
    PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008) over
    word-trigram shingle sets: the whole-corpus Jaccard >= 0.5 join
    WITHOUT any blocking key and without materializing the quadratic
    pair space.  Shingles get a global rarity order (ascending
    document frequency); each doc emits only its n - ceil(t*n) + 1
    rarest shingles (the PREFIX), and candidates are pairs sharing a
    prefix shingle — lossless for J >= t because a qualifying pair
    overlaps in >= ceil(t*n) shingles, which cannot all hide in the
    ceil(t*n) - 1 suffix.  The quadratic DuckDB oracle IS the ground
    truth, so a single dropped pair fails the hash — the losslessness
    proof is executed, not asserted.  Complementary to MinHash+LSH:
    this path is exact (no probabilistic recall), the LSH path is
    cheaper at extreme scale; both define similarity over the same
    shingle sets.

    Scale: prefix emission prunes candidates to rare-shingle
    collisions (shingle spaces are sparse, so prefixes are highly
    selective — unlike raw unigrams); the exact intersect runs only
    on surviving candidates.  Shuffles: shingle df count, the
    prefix-token bucket groupBy, the pair dedup — all keyed, no
    cartesian anywhere.  The doc_id < 400 bound caps the ORACLE's
    quadratic ground truth, not the operator.

    r15 plan-shape fixes (guide §2.3/§2.4, measured ~1.9x end to end):
    the shingle frame is localCheckpoint'd — Catalyst has no common-
    subtree elimination, so its four consumers (token explode, rarity
    join, both verify sides) each re-ran the split+transform+distinct
    pipeline (8 parquet scans in the r15 before-plan); candidates come
    from in-bucket pair explosion on the prefix-token groupBy instead
    of a prefix⋈prefix self-join, so the whole prefix pipeline runs
    ONCE (it previously appeared on both join sides — no
    ReusedExchange fired across the alias boundary); and the doc
    length n rides the rarity aggregate as size(ordered) (== |distinct
    shingles|) instead of a redundant join back onto d."""
    t = 0.5
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            # the >= 3 guard must ALSO live inside the expression (the
            # CASE): Catalyst combines downstream filters that
            # reference this transform with the size filter above into
            # one predicate and may evaluate the indexing arm on a
            # too-short row first — under an ANSI session w[i+2] then
            # throws INVALID_ARRAY_INDEX on the first empty document
            # (r10 empty-string leg).  A guard in a separate .filter()
            # is NOT a sequencing guarantee; only a conditional inside
            # the expression is.
            F.array_distinct(
                F.expr(
                    "CASE WHEN size(w) >= 3 THEN "
                    "transform(sequence(0, size(w) - 3),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2])) "
                    "ELSE array() END"
                )
            ).alias("toks"),
        )
        .withColumn("n", F.size("toks"))
        # one materialization for four consumers (tok, both verify
        # sides); plain persist would register in CacheManager and
        # survive the call (cross-run reuse = bench gaming), a local
        # checkpoint dies with the plan
        .localCheckpoint(eager=False)
    )
    tok = d.select("doc_id", F.explode("toks").alias("token"))
    df_rank = tok.groupBy("token").agg(F.count("*").alias("df"))
    # global rarity order: (df, token) ascending — deterministic;
    # size(ordered) == |distinct shingles| == n (toks is distinct), so
    # no join back onto d is needed for the prefix length
    ranked = (
        tok.join(df_rank, "token")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "token"))
            ).alias("ordered")
        )
    )
    n_ord = F.size("ordered")
    prefix = ranked.select(
        "doc_id",
        F.explode(
            F.slice(
                F.col("ordered"),
                1,
                F.greatest(
                    F.lit(1),
                    (n_ord - F.ceil(t * n_ord) + 1).cast("int"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.token").alias("token"))
    # candidates: pairs sharing >= 1 prefix token, via a TWO-LEVEL
    # explode over the sorted in-bucket id array (r16; r15 VERDICT item
    # 3 / ADVICE hot-bucket hazard).  The r15 single-level form built
    # the full O(|bucket|^2) pair-struct array inside ONE cell of one
    # row before exploding it — fine for rare-by-construction prefix
    # tokens, but ONE hot shingle (boilerplate/templated text) turned
    # that cell into a single-task memory bomb.  Here posexplode emits
    # each (position, id_a) first and only THEN slices the tail for
    # id_b, so no cell ever materializes more than the O(|bucket|) id
    # array itself and the pair stream is generated row-at-a-time
    # (Generate is pipelined).  Exact same pair set: ids sorted
    # ascending => id_a < id_b by construction.  Measured vs the r15
    # explosion AND a threshold-branched guard variant (same-session
    # interleaved min-of-4, bench_local_r16/ab_ppjoin.txt): two-level 1.025x
    # the explosion's time vs the guard's 1.19-1.20x — bounded memory
    # at ~2.5% cost, no branch, no extra checkpoint.
    cand = (
        prefix.groupBy("token")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select("ids", F.posexplode("ids").alias("__i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("ids"), F.col("__i") + 2, F.size("ids"))
            ).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("n_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", inter)
        .filter(
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            >= t
        )
        .select(
            "id_a",
            "id_b",
            F.expr(
                "CAST(1000000 * inter div (n_a + n_b - inter) AS LONG)"
            ).alias("jaccard_ppm"),
        )
    )


@register(
    "q_template_prefixes",
    family="text",
    oracle="""
        -- cross-document template detection by shared 8-token prefix:
        -- crawl artifacts (nav bars, headers, templated pages) repeat
        -- the document OPENING verbatim even when bodies differ, so a
        -- prefix group of >= 2 is a template-family candidate the
        -- curation pipeline reviews before near-dup scoring.
        WITH p AS (
            SELECT doc_id, source,
                   array_to_string((string_split(text, ' '))[1:8], ' ')
                   AS prefix
            FROM documents
            WHERE len(string_split(text, ' ')) >= 8
        )
        SELECT prefix,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
        FROM p
        GROUP BY prefix
        HAVING COUNT(*) >= 2
    """,
)
def q_template_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-prefix clustering (r13): group documents by their
    verbatim first-8-token prefix and report every prefix shared by
    >= 2 documents with its doc count, distinct-source spread, and
    first doc id — the cheap template-family detector that runs BEFORE
    minhash (a shared opening is how boilerplate families look long
    before whole-document similarity fires).  NULL text / short docs
    (< 8 tokens) have no prefix and drop out on both sides.

    Scale: ONE groupBy on the prefix string with counts-only map-side
    combine; hot template prefixes skew the exchange but carry only
    (count, count-distinct partial, min) state, never doc payloads.
    The prefix is emitted verbatim (not hashed): hash choice would be
    engine-specific and the string is <= 8 tokens by construction."""
    d = load_table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("toks"),
    ).filter(F.size("toks") >= 8).select(
        "doc_id",
        "source",
        F.array_join(F.slice("toks", 1, 8), " ").alias("prefix"),
    )
    return (
        p.groupBy("prefix")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "q_first_dup_span",
    family="text",
    oracle="""
        -- intra-document span-dedup onset: for every 8-token span
        -- position, whether that exact span occurred EARLIER in the
        -- same document, and the position of the first such repeat —
        -- the truncate-at-first-boilerplate-loop heuristic (the r13
        -- longdoc cell is this regime made extreme).  Positional
        -- companion to q_repetition_ngrams' distinct-ratio score.
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
            WHERE len(string_split(text, ' ')) >= 8
        ),
        g AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
                   array_to_string(toks[u.i + 1 : u.i + 8], ' ') AS gram
            FROM t, unnest(range(len(toks) - 7)) AS u(i)
        ),
        per AS (
            SELECT doc_id, gram, COUNT(*) AS c,
                   (list(pos ORDER BY pos))[2] AS second_pos
            FROM g GROUP BY doc_id, gram
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_spans,
               CAST(SUM(c - 1) AS BIGINT) AS n_dup_spans,
               CAST((1000000 * SUM(c - 1)) // SUM(c) AS BIGINT)
                   AS dup_span_ppm,
               CAST(COALESCE(MIN(second_pos), -1) AS BIGINT)
                   AS first_dup_pos
        FROM per GROUP BY doc_id
    """,
)
def q_first_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document span-dedup onset (r13, wave 2): per document, the
    duplicated-8-token-span count and the FIRST position whose span
    already occurred earlier — the curation heuristic that truncates a
    page at the start of its boilerplate loop instead of dropping it.
    Differentiated from q_repetition_ngrams (a distinct-ratio score,
    no positions) by span granularity and the onset offset.

    Scale: gram explode is map-side over a BOUND token array (the r13
    HOF lesson — never reference split() inside the transform lambda);
    one (doc_id, gram) groupBy whose per-group state is the sorted
    position list (bounded by doc length), then one doc_id rollup.
    Hot boilerplate grams repeat WITHIN a doc, so the first groupBy
    key carries doc_id — no cross-document skew amplification."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 8
    )
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 8),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.array_join(F.slice(toks, i + 1, 8), " ").alias("gram"),
        ),
    )
    g = staged.select("doc_id", F.explode(grams).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.gram").alias("gram")
    )
    per = g.groupBy("doc_id", "gram").agg(
        F.count("*").alias("c"),
        # try_element_at: a once-only gram has a 1-element list and a
        # NULL second position (element_at RAISES under ANSI — the
        # DuckDB list[2] twin yields NULL)
        F.try_element_at(F.sort_array(F.collect_list("pos")), F.lit(2)).alias(
            "second_pos"
        ),
    )
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_spans"),
        F.sum(F.col("c") - 1).cast("long").alias("n_dup_spans"),
        F.expr("(1000000 * sum(c - 1)) div sum(c)").alias("dup_span_ppm"),
        F.coalesce(F.min("second_pos"), F.lit(-1))
        .cast("long")
        .alias("first_dup_pos"),
    )


@register(
    "q_containment_scores",
    family="dedup",
    oracle="""
        -- word-3-gram sets from a PLAIN single-space split (identical
        -- tokenizer text both sides; empty tokens filtered so runs of
        -- spaces can't mint '' shingles); DuckDB range(a,b) is empty
        -- when b <= a, so short docs get [] with no guard — the Spark
        -- side carries the explicit when() (sequence would DESCEND,
        -- the word_ngrams r14 ADVICE class)
        WITH g AS (
            SELECT doc_id,
                   list_distinct(
                       list_transform(
                           range(1, greatest(len(toks) - 1, 1)),
                           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                       )
                   ) AS grams
            FROM (
                SELECT doc_id,
                       list_filter(string_split(coalesce(text, ''), ' '),
                                   t -> t <> '') AS toks
                FROM documents WHERE doc_id < 300
            )
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(a.grams) AS n_a, len(b.grams) AS n_b,
               CAST(FLOOR(1000000.0
                    * len(list_intersect(a.grams, b.grams))
                    / greatest(len(a.grams), 1) + 0.5) AS BIGINT)
                   AS contain_ab_s6,
               CAST(FLOOR(1000000.0
                    * len(list_intersect(a.grams, b.grams))
                    / greatest(len(b.grams), 1) + 0.5) AS BIGINT)
                   AS contain_ba_s6
        FROM g a JOIN g b
          ON b.doc_id = a.doc_id + 1 OR b.doc_id = a.doc_id + 2
    """,
)
def q_containment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL shingle containment C(A->B) = |A n B| / |A| on
    word-3-gram sets — the asymmetric cousin of Jaccard that detects
    doc-INSIDE-doc duplication (a short quote fully contained in a
    long article scores ~1.0 one way while Jaccard, diluted by the
    long side's size, stays near 0 — the case symmetric near-dup
    measures structurally miss; Broder 1997's containment coefficient).
    Both directions reported; empty shingle sets score 0 via the
    max(|A|,1) guard, not NULL or /0.

    Candidate pairs here are the oracle-checkable stride pairs
    (doc_id+1, doc_id+2) over a 300-doc slice — the same verification
    topology as q_jaccard.  At corpus scale candidates come from the
    existing banded-LSH path (operators/dedup.minhash_sig_pairs):
    containment is a per-pair map-side score, so it composes with any
    candidate generator without new shuffles.

    Tokenizer contract: PLAIN single-space split with '' tokens
    filtered (identical text both engines); grams built from a
    LET-BOUND token array (the r13 HOF lesson) with the explicit
    short-doc guard (the r14 word_ngrams ADVICE class — Spark
    sequence(1,0) DESCENDS where DuckDB range(1,0) is empty)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.filter(
                F.split(F.coalesce("text", F.lit("")), " "),
                lambda t: t != F.lit(""),
            ).alias("toks"),
        )
    )
    grams = d.select(
        "doc_id",
        F.array_distinct(
            F.element_at(
                F.transform(
                    F.array(F.col("toks")),
                    lambda toks: F.when(
                        F.size(toks) >= 3,
                        F.transform(
                            F.sequence(F.lit(1), F.size(toks) - F.lit(2)),
                            lambda i: F.array_join(F.slice(toks, i, 3), " "),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                ),
                1,
            )
        ).alias("grams"),
    )
    a = grams.select(
        F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a")
    )
    b = grams.select(
        F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b")
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    return (
        a.join(
            b,
            (F.col("id_b") == F.col("id_a") + 1)
            | (F.col("id_b") == F.col("id_a") + 2),
        )
        .select(
            "id_a",
            "id_b",
            F.size("g_a").alias("n_a"),
            F.size("g_b").alias("n_b"),
            # oracle's single-rounding order: 1e6 * inter (exact int
            # product) then ONE division rounding — never divide-then-
            # multiply, which rounds twice and can flip an exact-half
            F.floor(
                F.lit(1000000.0)
                * inter
                / F.greatest(F.size("g_a"), F.lit(1))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("contain_ab_s6"),
            F.floor(
                F.lit(1000000.0)
                * inter
                / F.greatest(F.size("g_b"), F.lit(1))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("contain_ba_s6"),
        )
    )


def _containment_lsh_oracle() -> str:
    from ..functions.text import minhash_md5_sig_sql

    sig_expr, hv_expr = minhash_md5_sig_sql("text", num_hashes=16, shingle=5)
    band_selects = "\n            UNION ALL ".join(
        f"SELECT {b} AS band, array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '_') AS key, "
        "doc_id, sig FROM sigs"
        for b in range(4)
    )
    return f"""
        WITH docs AS (
            SELECT doc_id, text FROM documents WHERE len(text) >= 5
        ),
        hs AS (SELECT doc_id, {hv_expr} AS hv FROM docs),
        sigs AS (SELECT doc_id, {sig_expr} AS sig FROM hs),
        bands AS (
            {band_selects}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_filter(range(16), i -> a.sig[i + 1] = b.sig[i + 1]))
                       AS n_match
            FROM bands a JOIN bands b USING (band, key)
            WHERE b.doc_id > a.doc_id
        ),
        g AS (
            SELECT doc_id,
                   list_distinct(
                       list_transform(
                           range(1, greatest(len(toks) - 1, 1)),
                           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                       )
                   ) AS grams
            FROM (
                SELECT doc_id,
                       list_filter(string_split(coalesce(text, ''), ' '),
                                   t -> t <> '') AS toks
                FROM documents
            )
        )
        SELECT c.id_a, c.id_b, CAST(c.n_match AS BIGINT) AS n_match,
               CAST(len(ga.grams) AS BIGINT) AS n_a,
               CAST(len(gb.grams) AS BIGINT) AS n_b,
               CAST(FLOOR(1000000.0
                    * len(list_intersect(ga.grams, gb.grams))
                    / greatest(len(ga.grams), 1) + 0.5) AS BIGINT)
                   AS contain_ab_s6,
               CAST(FLOOR(1000000.0
                    * len(list_intersect(ga.grams, gb.grams))
                    / greatest(len(gb.grams), 1) + 0.5) AS BIGINT)
                   AS contain_ba_s6
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        WHERE CAST(c.n_match AS DOUBLE) / 16 >= 0.8
    """


@register(
    "q_containment_lsh",
    family="dedup",
    oracle=None,  # set below: generated from the same LSH constants
)
def q_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.containment_pairs ORACLE-CHECKED end to end:
    directional word-3-gram containment scored over the SAME banded
    md5-minhash candidate topology q_minhash_pairs proves (identical
    permutation constants, banding, and 0.8 signature threshold), with
    the DuckDB twin replaying banding AND the exact gram intersection.
    This is the at-scale path of q_containment_scores (whose stride
    pairs verify the scoring math in isolation): candidates from ONE
    banded shuffle, containment as a per-pair map-side score.  The
    operator's Jaccard-recall limit for small-in-large containment is
    documented on containment_pairs."""
    from ..operators.dedup import containment_pairs

    d = load_table(spark, sf_dir, "documents")
    out = containment_pairs(
        d, "text", "doc_id", gram_words=3, num_hashes=16, bands=4, shingle=5
    ).filter(F.col("n_match").cast("double") / 16 >= 0.8)
    return out.select(
        "id_a",
        "id_b",
        F.col("n_match").cast("long").alias("n_match"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        # single-rounding order matching the oracle: 1e6 * inter first
        # (exact over the integer range), ONE division rounding — not
        # (inter/n)*1e6 which rounds twice and can flip an exact-half
        F.floor(
            F.lit(1000000.0)
            * F.col("n_inter")
            / F.greatest(F.col("n_a"), F.lit(1))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("contain_ab_s6"),
        F.floor(
            F.lit(1000000.0)
            * F.col("n_inter")
            / F.greatest(F.col("n_b"), F.lit(1))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("contain_ba_s6"),
    )


_REG["q_containment_lsh"].oracle = _containment_lsh_oracle()


@register(
    "q_ngram_novelty",
    family="text",
    oracle="""
        -- per-language novelty of the odd corpus half's word-3-gram
        -- vocabulary vs the even half: the decontamination-adjacent
        -- screen for "how much genuinely NEW text does this ingest
        -- batch add" (a near-zero novelty batch is a re-crawl).  Same
        -- plain-split tokenizer + guarded gram build as
        -- q_containment_scores; grams dedup WITHIN a doc first so a
        -- spammy doc can't vote twice.  NULL lang is a group like any
        -- other.
        WITH g AS (
            SELECT lang, doc_id % 2 = 0 AS even,
                   unnest(list_distinct(
                       list_transform(
                           range(1, greatest(len(toks) - 1, 1)),
                           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                       )
                   )) AS gram
            FROM (
                SELECT lang, doc_id,
                       list_filter(string_split(coalesce(text, ''), ' '),
                                   t -> t <> '') AS toks
                FROM documents
            )
        ),
        per AS (
            SELECT lang, gram,
                   MAX(CASE WHEN even THEN 1 ELSE 0 END) AS in_e,
                   MAX(CASE WHEN even THEN 0 ELSE 1 END) AS in_o
            FROM g GROUP BY lang, gram
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_odd_grams,
               CAST(SUM(CASE WHEN in_e = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new,
               CAST(FLOOR(1000000.0
                    * SUM(CASE WHEN in_e = 0 THEN 1 ELSE 0 END)
                    / COUNT(*) + 0.5) AS BIGINT) AS novelty_s6
        FROM per WHERE in_o = 1
        GROUP BY lang
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary novelty of one corpus half against the other: the
    share of the odd half's distinct word-3-grams that never occur in
    the even half, per language — the ingest-batch screen between the
    drift stats (which compare SHARES of known categories) and full
    decontamination (which needs a benchmark set): novelty near 0
    means the batch is a re-crawl; near 1 means a genuinely new
    source.  3-gram sets dedup within each doc before the vocabulary
    union, so one spammy document cannot inflate either side.

    Scale: grams explode map-side (per-doc distinct first), then ONE
    (lang, gram)-keyed shuffle with map-side partial max-flags — the
    presence table is |vocabulary| rows, not |corpus x grams| — and a
    final |langs|-row aggregation.  No joins, no gram-set arrays ever
    cross a shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda t: t != F.lit(""),
    )
    grams = F.array_distinct(
        F.element_at(
            F.transform(
                F.array(toks),
                lambda ts: F.when(
                    F.size(ts) >= 3,
                    F.transform(
                        F.sequence(F.lit(1), F.size(ts) - F.lit(2)),
                        lambda i: F.array_join(F.slice(ts, i, 3), " "),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            ),
            1,
        )
    )
    g = d.select(
        "lang",
        (F.col("doc_id") % 2 == 0).alias("even"),
        F.explode(grams).alias("gram"),
    )
    per = g.groupBy("lang", "gram").agg(
        F.max(F.when(F.col("even"), 1).otherwise(0)).alias("in_e"),
        F.max(F.when(F.col("even"), 0).otherwise(1)).alias("in_o"),
    )
    return (
        per.filter(F.col("in_o") == 1)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_odd_grams"),
            F.sum(F.when(F.col("in_e") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
        .select(
            "lang",
            "n_odd_grams",
            "n_new",
            # oracle's single-rounding order: 1e6*n_new exact, ONE division
            F.floor(
                F.lit(1000000.0) * F.col("n_new") / F.col("n_odd_grams")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("novelty_s6"),
        )
    )
