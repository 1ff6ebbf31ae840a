"""Text analysis operators: language-ID, quality scoring, token counts,
document fingerprinting.

Each has an exact DuckDB oracle twin.  Tokenizing, regex counts and
every ratio, round and flag are built-in column expressions (JVM-side,
codegen'd).  Per-token counts (stopword, badword, word-length and
alphabetic-word counts) run in one Arrow UDF pass each, all through the
shared `dedup.token_counts` kernel.  The NFKC normalizer (reference
`_checkMatch`, `/root/reference/src/library/engine_realtime/
main.py:35-53`) is an Arrow UDF too — Unicode normalization has no Spark
builtin.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _fanout, token_count_udf, tokens_col

# tiny per-language stopword inventories for the n-gram/stopword heuristic;
# ASCII-only so the same literals work verbatim in the DuckDB oracle.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "en", "est", "que"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den"],
}
LANG_ORDER = ["en", "es", "fr", "de"]  # deterministic tie-break order


def _in(words):
    """Token weight: 1 for a token in `words`, else 0."""
    value_set = pa.array(sorted(words), pa.string())
    return lambda vocab: pc.is_in(vocab, value_set=value_set).to_numpy(zero_copy_only=False)


def _lang_scores_udf():
    """Per-doc stopword-hit counts for all languages in ONE Arrow pass
    (round 8, guide §4.2): a column-expression form would re-walk the
    token array through an interpreted higher-order filter per language.
    Exact-match token counting is engine-trivial, so the counts are
    bit-identical; a NULL token array yields NULL scores (propagating
    exactly like size(filter(NULL)))."""
    hits = [_in(LANG_STOPWORDS[lang]) for lang in LANG_ORDER]
    return token_count_udf(
        [f"score_{lang}" for lang in LANG_ORDER], lambda v: [h(v) for h in hits]
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Argmax language with 'und' when no stopword hits; first-in-order wins ties."""
    scored = _fanout(df).select(
        id_col, _lang_scores_udf()(tokens_col(text_col)).alias("_s")
    ).select(
        id_col,
        *[F.col(f"_s.score_{lang}").cast("int").alias(f"score_{lang}") for lang in LANG_ORDER],
    )
    # fold in declared order with strict greater-than: first language wins ties
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in LANG_ORDER:
        s = F.col(f"score_{lang}")
        new = s > best_score
        best = F.when(new, F.lit(lang)).otherwise(best)
        best_score = F.when(new, s).otherwise(best_score)
    return scored.select(
        id_col, best.alias("lang_pred"), best_score.alias("lang_score")
    )


def quality_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Length/punctuation/stopword-ratio quality features + composite score.

    score = min(n_tokens/100, 1) * 0.4
          + (1 - min(punct_ratio*10, 1)) * 0.3
          + min(stopword_ratio*5, 1)   * 0.3           (rounded to 6 dp)
    """
    is_sw = _in({w for v in LANG_STOPWORDS.values() for w in v})

    # token-wise counts in ONE Arrow pass (round 8, guide §4.2 — the
    # stopword filter was an interpreted per-token HOF); the text-level
    # regex counts and every ratio/round stay in the JVM, bit-identical
    counts = token_count_udf(["n_tokens", "n_sw"], lambda v: [np.ones(len(v)), is_sw(v)])
    base = _fanout(df).select(
        id_col, F.col(text_col), counts(tokens_col(text_col)).alias("_c")
    )
    n_tokens = F.col("_c.n_tokens").cast("int")
    n_chars = F.length(text_col)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), "[.,;:!?]", ""))
    n_sw = F.col("_c.n_sw").cast("int")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    sw_ratio = F.when(n_tokens > 0, n_sw / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.least(n_tokens / 100.0, F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 10, F.lit(1.0))) * 0.3
        + F.least(sw_ratio * 5, F.lit(1.0)) * 0.3
    )
    return base.select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_m"),
        n_punct.alias("n_punct"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def token_count(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword proxy: ceil(chars_no_space/4)."""
    toks = tokens_col(text_col)
    chars_ns = F.length(F.regexp_replace(F.col(text_col), "\\s", ""))
    return df.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.ceil(chars_ns / 4).cast("long").alias("n_subword_est"),
    )


def gopher_quality_flags(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", §A1.1.1 heuristics), the flag layer a
    training-data pipeline filters on:

      * 50 <= word count <= 100,000
      * 3 <= mean word length <= 10
      * symbol-to-word ratio (# and ellipsis) <= 0.1
      * >= 80% of words contain at least one alphabetic character

    All integer-count arithmetic until the final divisions, so every
    ratio (and therefore every flag) is bit-identical cross-engine.
    """
    # token-wise counts in ONE Arrow pass (round 8, guide §4.2): word
    # count, summed word length and the has-an-[a-z]-character count were
    # interpreted per-token HOF/regex walks.  Arrow's utf8_length and
    # Spark's length() both count code points, and `x.rlike("[a-z]")` is
    # an unanchored search exactly like the substring regex below, so
    # every count — and therefore every downstream ratio and flag, all
    # still computed in the JVM — is bit-identical.  The text-level # and
    # ellipsis counts stay as single-pass JVM regexes.
    counts = token_count_udf(
        ["n_words", "sum_len", "n_alpha"],
        lambda v: [
            np.ones(len(v)),
            pc.utf8_length(v).to_numpy(),
            pc.match_substring_regex(v, "[a-z]").to_numpy(zero_copy_only=False),
        ],
    )
    df = _fanout(df).select(
        F.col(id_col), F.col(text_col), counts(tokens_col(text_col)).alias("_c")
    )
    n_words = F.col("_c.n_words")
    sum_len = F.col("_c.sum_len").cast("int")
    mean_wl = F.when(n_words > 0, sum_len / n_words).otherwise(F.lit(0.0))
    n_hash = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    n_ellipsis = (
        F.length(text_col)
        - F.length(F.regexp_replace(F.col(text_col), "\\.\\.\\.", ""))
    ) / 3
    sym_ratio = F.when(n_words > 0, (n_hash + n_ellipsis) / n_words).otherwise(
        F.lit(0.0)
    )
    n_alpha = F.col("_c.n_alpha")
    alpha_frac = F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0))
    passes = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (mean_wl >= 3)
        & (mean_wl <= 10)
        & (sym_ratio <= 0.1)
        & (alpha_frac >= 0.8)
    )
    return df.select(
        id_col,
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        passes.alias("passes_gopher"),
    )


# GPT-2-style pre-tokenizer alternation (ASCII-scoped so the Java-regex
# Spark side and the RE2 DuckDB oracle match EXACTLY — verified on the
# corpus and adversarial strings; unicode classes are where the engines'
# regex flavors diverge, so they are deliberately excluded).  Whitespace
# is the EXPLICIT class [ \t\n\r\f], not \s: Java's \s includes \x0B
# (vertical tab) while RE2's does not, so \s would silently break parity
# on documents containing \x0B.
#   contraction | ?letters | ?digits | ?punct-run | whitespace-run
_WS = " \\t\\n\\r\\f"
BPE_PATTERN = (
    f"'[a-z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9{_WS}]+|[{_WS}]+"
)


def bpe_token_count(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Pre-tokenizer token counts (the 'BPE-ish regex' counting tier):
    every position falls into exactly one match of `BPE_PATTERN` (the
    GPT-2 pre-tokenizer shape: contractions, space-prefixed word/number/
    punctuation runs, residual whitespace runs); `n_bpe_tokens` counts
    the non-whitespace matches — the unit sequence a byte-pair encoder
    would then merge within.  Pure JVM regexp, codegen'd."""
    arr = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
    return df.select(
        id_col,
        F.size(F.filter(arr, lambda t: F.trim(t) != "")).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.size(arr).cast("long").alias("n_matches"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace-normalized md5 content fingerprint (+ 60-bit int form)."""
    norm = F.trim(F.regexp_replace(F.col(text_col), "\\s+", " "))
    return df.select(
        id_col,
        F.md5(norm).alias("fp_md5"),
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long").alias("fp_int"),
    )


@F.arrow_udf(T.StringType())
def nfkc_norm(s: pa.Array) -> pa.Array:
    """NFKC normalization (reference F1, `engine_realtime/main.py:39-40`)."""
    import unicodedata

    return pa.array(
        [None if v is None else unicodedata.normalize("NFKC", v) for v in s.to_pylist()],
        pa.string(),
    )


def search_match(
    df: DataFrame,
    text_col: str,
    needle: str,
    case_insensitive: bool = True,
    strip_spaces: bool = True,
    exact: bool = False,
) -> DataFrame:
    """Reference search-match predicate (P11, `engine_realtime/main.py:35-53`):
    NFKC -> optional casefold -> optional space strip -> contains/equals."""
    c = nfkc_norm(F.col(text_col))
    n = F.lit(needle)
    if case_insensitive:
        c, n = F.lower(c), F.lower(n)
    if strip_spaces:
        c = F.regexp_replace(c, " ", "")
        n = F.regexp_replace(n, " ", "")
    flag = (c == n) if exact else F.contains(c, n)
    return df.withColumn("is_match", F.coalesce(flag, F.lit(False)))


# C4-style blocklist gate (Raffel et al. 2020 §2.2 "bad words" filter):
# a small fixed list stands in for the public blocklists a production
# pipeline ships; semantics (token-exact match fraction + threshold
# gate) are what the operator proves.
BADWORDS = ("slow", "noise", "garbage", "spam")


def badword_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    badwords: tuple[str, ...] = BADWORDS,
    max_frac: float = 0.05,
) -> DataFrame:
    """Per-doc blocklisted-token fraction + pass flag (the C4 badword
    filter shape).  One JVM tokenize and one Arrow token-count pass — no
    joins; the blocklist travels in the UDF closure (at 100 TB a large
    list would broadcast instead, same plan shape).
    Integer counts until the final division (bit-exact cross-engine)."""
    is_bad = _in(badwords)

    # token counts in ONE Arrow pass (round 8, guide §4.2 — the blocklist
    # filter was an interpreted per-token HOF with a linear array scan
    # per token); exact-match counting is engine-trivial, ratios and the
    # flag stay in the JVM, bit-identical
    counts = token_count_udf(["n_tokens", "n_bad"], lambda v: [np.ones(len(v)), is_bad(v)])
    base = _fanout(df).select(
        F.col(id_col), counts(tokens_col(text_col)).alias("_c")
    )
    n_tokens = F.col("_c.n_tokens")
    n_bad = F.col("_c.n_bad")
    frac = F.when(n_tokens > 0, n_bad / n_tokens).otherwise(F.lit(0.0))
    return base.select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_bad.alias("n_bad"),
        F.round(frac, 6).alias("badword_frac"),
        (frac <= max_frac).alias("passes_badwords"),
    )


# ASCII-scoped PII patterns: Java regex and RE2 agree exactly on these
# classes (hyphen placed last in the class = literal in both flavors);
# a production pipeline would ship the full presidio-style pattern set,
# the operator shape (count -> ordered replace) is what matters.
EMAIL_PATTERN = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
PHONE_PATTERN = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrubbing (the email/phone redaction every released training
    corpus runs — cf. The Stack / RefinedWeb preprocessing): counts then
    replaces emails and phone numbers with typed placeholder tokens.
    Emails redact FIRST in both engines so a phone-shaped local part can
    never change outcomes by evaluation order.  Pure JVM regexp
    (codegen'd), single pass per pattern, no Python."""
    emails = F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_PATTERN), F.lit(0))
    after_email = F.regexp_replace(F.col(text_col), EMAIL_PATTERN, "<EMAIL>")
    phones = F.regexp_extract_all(after_email, F.lit(PHONE_PATTERN), F.lit(0))
    redacted = F.regexp_replace(after_email, PHONE_PATTERN, "<PHONE>")
    return df.select(
        id_col,
        F.size(emails).cast("long").alias("n_emails"),
        F.size(phones).cast("long").alias("n_phones"),
        redacted.alias("redacted_text"),
    )


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment by salted content-free
    hash of the id (the standard leakage-safe split: stable under
    re-runs, re-partitioning and corpus growth; changing the salt
    re-rolls every assignment atomically).  Pure projection — no
    shuffle, no state, embarrassingly parallel at any scale."""
    from ms_ocr_spark.functions.hashing import md5_long

    bucket = md5_long(F.col(id_col).cast("string"), salt=salt) % 100
    return df.select(
        id_col,
        bucket.cast("int").alias("split_bucket"),
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )
