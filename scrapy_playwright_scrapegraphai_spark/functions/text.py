"""Text-analytics expression builders for web-text pipelines.

All functions are pure JVM expressions (whole-stage codegen,
oracle-expressible in ANSI SQL). Numeric outputs are integers or
integer-ratio doubles (single IEEE division of two exact ints —
bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

# Small fixed stopword lists for the lang-id heuristic (shared with the
# SQL oracle — keep in sync with entry_queries._LANG_STOPWORDS).
LANG_STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "it", "for", "on", "with"],
    "it": ["il", "di", "e", "che", "in", "per", "con", "una", "del", "la"],
    "de": ["der", "die", "das", "und", "ist", "mit", "für", "auf", "ein", "zu"],
}


def tokens_expr(text) -> Column:
    """Whitespace tokenization: trim + split on runs of whitespace."""
    return F.split(F.trim(text), r"\s+")


def token_count_expr(text) -> Column:
    return F.size(tokens_expr(text))


def char_class_count_expr(text, char_class: str) -> Column:
    """Count of chars matching a regex class — computed as
    len(text) - len(regexp_replace(text, class, ''))  (integer-exact)."""
    return F.length(text) - F.length(F.regexp_replace(text, char_class, ""))


def stopword_count_expr(text, stopwords: list[str]) -> Column:
    # whitespace-RUN tokenization (like tokens_expr): extract_text joins
    # chunks with '\n', so a single-space split would glue words across
    # line breaks ('Home\nthe') and never count their stopwords
    toks = F.split(F.lower(text), r"\s+")
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def quality_features_expr(text) -> dict[str, Column]:
    """Quality-scoring features: lengths and class counts (ints) plus
    per-mille ratios (floor of 1000*count/len — integer-exact)."""
    n_chars = F.length(text)
    punct = char_class_count_expr(text, r"[.,;:!?]")
    digits = char_class_count_expr(text, r"[0-9]")
    upper = char_class_count_expr(text, r"[A-Z]")
    spaces = char_class_count_expr(text, r" ")
    per_mille = lambda c: F.when(
        n_chars > 0, F.floor(F.lit(1000) * c / n_chars)
    ).otherwise(F.lit(0)).cast("long")
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": token_count_expr(text).cast("long"),
        "punct_per_mille": per_mille(punct),
        "digit_per_mille": per_mille(digits),
        "upper_per_mille": per_mille(upper),
        "space_per_mille": per_mille(spaces),
    }


def lang_id_expr(text) -> Column:
    """N-gram-free language-ID heuristic: argmax of stopword hits over
    fixed lists; deterministic tie-break en ≥ it ≥ de, 'und' (undetermined)
    when no list scores > 0."""
    scores = {
        lang: stopword_count_expr(text, words)
        for lang, words in LANG_STOPWORDS.items()
    }
    en, it, de = scores["en"], scores["it"], scores["de"]
    return (
        # NULL text → 'und' explicitly: without the guard, non-ANSI
        # size(NULL) = -1 makes every score -1 and the tie-break returns
        # 'en' while the SQL oracle's all-NULL CASE falls to its ELSE —
        # a cross-engine divergence on exactly the rows that matter least
        F.when(F.isnull(text), F.lit("und"))
        .when((en == 0) & (it == 0) & (de == 0), F.lit("und"))
        .when((en >= it) & (en >= de), F.lit("en"))
        .when(it >= de, F.lit("it"))
        .otherwise(F.lit("de"))
    )


def fingerprint_md5_expr(text) -> Column:
    """Content fingerprint (portable: identical md5 in every engine)."""
    return F.md5(text)


# GPT-2-style pre-tokenization, ASCII-simplified so the pattern parses
# identically under Java regex (Spark) and RE2 (DuckDB): letter runs,
# digit runs, and non-alphanumeric-non-space runs.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count_expr(text) -> Column:
    """BPE-ish token count: matches of BPE_TOKEN_PATTERN (JVM regex,
    whole-stage codegen; the whitespace count in ``token_count_expr`` is
    the cheap variant)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


_MERSENNE61 = (1 << 61) - 1


def hex_le64_expr(md5_hex) -> Column:
    """Portable 61-bit hash of an md5 hex string: little-endian uint64 of
    its first 8 bytes, masked to 61 bits — equals DuckDB's
    ``md5_number_upper(s) & (2^61-1)`` and Python's
    ``int.from_bytes(md5(s)[:8], 'little') & (2^61-1)``. Bitwise ORs
    only (no arithmetic → no ANSI-mode overflow), all JVM-side. Takes the
    hex string rather than ``s`` so a caller computes ``md5`` once: the
    expression reads it 8 times, and inside a lambda nothing shares them."""
    total = F.lit(0).cast("long")
    for i in range(8):
        byte = F.conv(F.substring(md5_hex, 2 * i + 1, 2), 16, 10).cast("long")
        total = total.bitwiseOR(F.shiftleft(byte, 8 * i))
    return total.bitwiseAND(F.lit(_MERSENNE61))


def winnowing(df: DataFrame, text: str = "text", k: int = 3,
              w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03) as
    pure JVM array expressions — the rolling-hash fingerprint selection
    used for plagiarism/near-dup detection at scale.

    k-gram hashes h_1..h_n (portable md5-derived, ``hex_le64_expr``),
    sliding windows of ``w`` consecutive hashes, fingerprint set =
    {min(window)} deduplicated. Short docs (< k tokens: single k-gram =
    the whole text; < w k-grams: one window over what exists) degrade
    exactly like the jaccard shingler. Appends n_kgrams /
    n_fingerprints / fp_min / fp_max to ``df``; each engine (Spark,
    DuckDB oracle) computes the identical values.

    Staged as successive projections (tokens → k-grams → hashes →
    fingerprints), each lambda reading the previous stage's column.
    Spark evaluates higher-order-function lambdas without common
    subexpression elimination, so a lambda that captured the token split
    or the hash array as an expression would recompute it per element:
    O(n²) per document. A stage column that a lambda reads is also read
    outside it, so CollapseProject keeps it a column instead of inlining
    its expression into the lambda body.
    """
    toks, kgrams, hs, fps = (f"_winnow_{c}" for c in ("toks", "kgrams", "hs", "fps"))
    t = F.col(text)
    staged = (
        df.withColumn(toks, tokens_expr(t))
        .withColumn(kgrams, F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks))))
        .withColumn(hs, F.transform(F.transform(kgrams, F.md5), hex_le64_expr))
        .withColumn(fps, F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(hs) - w, F.lit(0))),
            lambda j: F.array_min(F.slice(hs, j + 1, w)),
        )))
    )
    # NULL text carries no fingerprints (0/0/NULL/NULL) — without the
    # guard the kgram CASE falls to the single-empty-shingle branch and
    # emits n_fingerprints=1 with fp=hex_le64(md5('')), diverging from any
    # relational recomputation (which drops NULL docs at the tokenizer);
    # same guard class lang_id_expr already has.
    null_text = F.isnull(t)
    return staged.withColumns({
        "n_kgrams": F.when(null_text, F.lit(0)).otherwise(F.size(hs)).cast("long"),
        "n_fingerprints": F.when(null_text, F.lit(0))
        .otherwise(F.size(fps))
        .cast("long"),
        "fp_min": F.when(~null_text, F.array_min(fps)),
        "fp_max": F.when(~null_text, F.array_max(fps)),
    }).drop(toks, kgrams, hs, fps)

