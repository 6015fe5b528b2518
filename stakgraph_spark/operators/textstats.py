"""Text-analysis operators for training-data pipelines over the
`documents` table: language-ID (stopword-hit heuristic), quality
scoring (length/punctuation/stopword ratios), token counting
(whitespace + BPE-ish regex), and document fingerprinting.

All are pure column expressions (JVM-side, codegen-friendly); each
has an exact DuckDB oracle rendering (sql/data_templates.py). The
reference's nearest analogs: token_count per node body
(neo4j_utils.rs:74-75), sha256 content hashing
(builder/utils.rs:99), and the fulltext analyzer's tokenization
(queries.ts:10-51).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Tiny per-language stopword dictionaries (deterministic heuristic —
# the plumbing is the point; swap in fasttext/cld3 packs as data).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
    "zh": ["de", "shi", "le", "zai", "he"],
}

# Raw regex (single backslashes). Spark SQL string literals process
# backslash escapes (so the literal needs \\s), DuckDB strings do not
# (needs \s) — keep the canonical pattern here and escape per dialect.
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
BPE_ISH_RE_SPARK = BPE_ISH_RE.replace("\\", "\\\\")


def _hits_expr(lang: str) -> str:
    """SQL: number of stopword hits for `lang` over the token array
    `toks` (lower-cased words)."""
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"size(filter(toks, t -> array_contains(array({words}), t)))"


def lang_id(documents: DataFrame) -> DataFrame:
    """-> (doc_id, guessed_lang, best_hits): argmax over per-language
    stopword hit counts; deterministic tie-break by language code."""
    toks = documents.selectExpr(
        "doc_id", "split(lower(text), '\\\\s+') AS toks"
    )
    hits = toks.selectExpr(
        "doc_id",
        *[f"{_hits_expr(lang)} AS hits_{lang}" for lang in sorted(LANG_STOPWORDS)],
    )
    langs = sorted(LANG_STOPWORDS)
    # argmax over (hits DESC, lang ASC) == lexicographic min over
    # (-hits, lang) structs — deterministic.
    neg_pairs = ", ".join(f"struct(-hits_{lg} AS nh, '{lg}' AS lg)" for lg in langs)
    return hits.selectExpr(
        "doc_id",
        f"array_min(array({neg_pairs})).lg AS guessed_lang",
        f"array_max(array({', '.join(f'hits_{lg}' for lg in langs)})) AS best_hits",
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """-> (doc_id, n_chars, n_words, punct_ratio, stop_ratio,
    mean_word_len, quality): deterministic 0..1 score mixing length,
    punctuation, and stopword signals (all-language stopword pool)."""
    allstops = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stop_arr = ", ".join(f"'{w}'" for w in allstops)
    return documents.selectExpr(
        "doc_id",
        "length(text) AS n_chars",
        "size(split(trim(text), '\\\\s+')) AS n_words",
        # floor(x*1e4+0.5)/1e4 = HALF_UP rounding, portable: Spark's
        # round() is HALF_UP but DuckDB's is HALF_EVEN — boundary
        # values (x.xxxx5) diverge by 1 ulp otherwise.
        "floor((length(regexp_replace(text, '[A-Za-z0-9\\\\s]', '')) / (length(text) + 1.0d)) * 10000.0d + 0.5d) / 10000.0d AS punct_ratio",
        f"floor((size(filter(split(lower(text), '\\\\s+'), t -> array_contains(array({stop_arr}), t))) / (size(split(trim(text), '\\\\s+')) + 1.0d)) * 10000.0d + 0.5d) / 10000.0d AS stop_ratio",
        "floor(((length(text) + 0.0d) / (size(split(trim(text), '\\\\s+')) + 1.0d)) * 10000.0d + 0.5d) / 10000.0d AS mean_word_len",
    ).selectExpr(
        "doc_id", "n_chars", "n_words", "punct_ratio", "stop_ratio", "mean_word_len",
        # bounded mix: long enough, low punctuation, some stopwords
        "floor((least(n_words / 50.0d, 1.0d) * 0.5d + (1.0d - least(punct_ratio * 5.0d, 1.0d)) * 0.25d + least(stop_ratio * 10.0d, 1.0d) * 0.25d) * 10000.0d + 0.5d) / 10000.0d AS quality",
    )


def token_count(documents: DataFrame) -> DataFrame:
    """-> (doc_id, ws_tokens, bpe_tokens): whitespace tokens and a
    BPE-ish regex segmentation count (letters / digits / punct runs —
    the tiktoken-count analog, neo4j_utils.rs:74)."""
    return documents.selectExpr(
        "doc_id",
        "size(split(trim(text), '\\\\s+')) AS ws_tokens",
        f"size(regexp_extract_all(text, '{BPE_ISH_RE_SPARK}', 0)) AS bpe_tokens",
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """-> (doc_id, fp): 32-bit content fingerprint of the normalized
    text (lower, whitespace collapsed) via the portable md5-prefix
    hash — identical in DuckDB, so exact-dedup joins cross-check."""
    return documents.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(regexp_replace(lower(text), '\\\\s+', ' ')), 1, 8), 16, 10) AS BIGINT) AS fp",
    )
