"""Text-analysis scalar functions for the training-data pipeline
(BASELINE.json north-star: text analysis as first-class operators).

All pure column expressions — tokenization, shingling, quality ratios,
language scoring stay JVM-side (split/regexp/array higher-order
functions); nothing here drops to Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic
# language ID. Real deployments would swap in larger lists; the operator
# shape (score per language → argmax) is what matters.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "y", "es", "los"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count of word/number/punctuation chunks.
    A regex proxy for subword tokenizers (≈ GPT-style pre-tokenizer
    split) — good enough for budget estimation at corpus scale."""
    chunks = F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(chunks)


def distinct_token_ratio(text: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens (0 for empty docs)."""
    toks = tokens(text)
    return F.when(F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: blend of length band,
    lexical diversity and alpha-character ratio (the reference's
    quality gates are LLM-side; this is the deterministic rebuild)."""
    n = F.length(text)
    len_band = F.when((n >= 200) & (n <= 4000), 1.0).when(n > 0, 0.5).otherwise(0.0)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    return F.round(0.4 * len_band + 0.3 * distinct_token_ratio(text) + 0.3 * alpha_ratio, 4)


def _isin_filter(markers: tuple[str, ...]):
    # NB: must return a ONE-arg lambda — PySpark treats a second lambda
    # parameter (even a default) as the element-index argument.
    return lambda t: t.isin(*markers)


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts (language-ID heuristic)."""
    toks = tokens(F.lower(text))
    return {
        lang: F.size(F.filter(toks, _isin_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax language by marker hits; 'und' when no marker hits at all.
    Deterministic tie-break: language order in LANG_MARKERS."""
    scores = lang_scores(text)
    n = len(scores)
    pairs = F.array(
        *[
            F.struct(
                score.alias("score"), F.lit(n - i).alias("prio"), F.lit(lang).alias("lang")
            )
            for i, (lang, score) in enumerate(scores.items())
        ]
    )
    best = F.array_max(pairs)  # struct compare: score, then declaration priority
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (MinHash/Jaccard input). Stays JVM-side.

    Convenience wrapper over :func:`word_shingles_of_tokens`; inlines the
    tokenizer ~2k+3 times into one expression tree. Hot paths (the dedup
    operators) pre-project the token array into its own column and call
    ``word_shingles_of_tokens`` directly — see its docstring."""
    return word_shingles_of_tokens(tokens(F.lower(text)), k)


def windowed_token_strings(toks: Column, k: int) -> Column:
    """Every overlapping k-token window of ``toks`` joined with a single
    space, POSITION order (array<string>, length n-k+1; shorter arrays
    give an empty tail after the truncation below). The space separator
    is collision-safe: the tokenizer splits on Java ``\\s`` so no token
    can contain ' ' (a control-char separator like \\x1f would NOT be —
    \\x1f survives tokenization and distinct windows could collide).

    Built by zipping k shifted copies of the token array rather than
    ``slice(toks, i, k)`` inside a ``transform`` lambda — a lambda that
    references the outer expression re-evaluates it per element (O(n²)
    per document). Shared by the shingle family and the positional
    gram hashes (operators/spans.py)."""
    n = F.size(toks)
    # alias each zip input to its index: arrays_zip names struct fields
    # after attribute/alias names when inputs have them (a pre-projected
    # toks attribute would otherwise name field 0 after itself)
    shifted = [
        (toks if i == 0 else F.slice(toks, i + 1, F.greatest(n - i, F.lit(0)))).alias(str(i))
        for i in range(k)
    ]
    zipped = F.arrays_zip(*shifted)
    windows = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)])
    )
    # arrays_zip pads to the longest input; the last k-1 structs contain
    # nulls → drop them by truncating to n-k+1 windows
    return F.slice(windows, 1, F.greatest(n - (k - 1), F.lit(0)))


def word_shingles_of_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a pre-tokenized array column.

    Implementation note: built by zipping k shifted copies of the token
    array rather than ``slice(toks, i, k)`` inside a ``transform`` lambda
    — a lambda that references the outer tokenize expression re-evaluates
    it per element (O(n²) per document; ~4× slower on real corpora).

    ``toks`` should be a plain attribute (a column materialized by an
    upstream select), not a nested expression: this function references
    it 2k+3 times, and while codegen's subexpression elimination keeps
    the *runtime* linear either way, a nested tokenizer expression blows
    the expression tree up ~7× — measured as most of the MinHash-LSH
    plan's cold-run analysis + codegen constant (the one query that
    breached the cold≤2×warm budget in rounds 2-3)."""
    n = F.size(toks)
    shingles = windowed_token_strings(toks, k)
    return F.when(n >= k, F.array_distinct(shingles)).otherwise(
        F.when(n > 0, F.array(F.concat_ws(" ", toks))).otherwise(F.array().cast("array<string>"))
    )


def char_gram_hashes(text: Column, k: int = 5) -> Column:
    """Portable 32-bit hashes of every overlapping character k-gram of
    ``text`` (array<long>, position order). The hash is the md5-slice
    family (functions/hashing) so DuckDB reproduces it bit-for-bit:
    ('0x' || substr(md5(gram), 1, 8))::BIGINT.

    Pass an *attribute* column (pre-lowered in an upstream select), not
    a nested expression: the gram lambda references it once per
    element, and re-evaluating an expensive expression per character
    position is the O(n²) trap word_shingles documents."""
    n_grams = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), n_grams), lambda i: text.substr(i, F.lit(k)))
    return F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
    )


def winnow_fingerprints(text: Column, k: int = 5, w: int = 4) -> Column:
    """Rolling-hash document fingerprints by winnowing (Schleimer/
    Wilkerson/Aiken, the MOSS algorithm): hash every char k-gram, then
    keep the minimum hash of each length-``w`` window (array<long>,
    one per window; ``array_distinct`` for the fingerprint set).
    Position-robust: an edit perturbs only the windows that overlap it,
    so two documents sharing a long substring share most fingerprints —
    the guarantee md5-of-the-whole-document cannot give.

    The per-window minimum is built by zipping ``w`` shifted copies of
    the hash array with ``least`` — not ``slice`` inside a ``transform``
    lambda, which would re-evaluate the hash chain per window (the same
    O(n²) trap as word_shingles). All JVM-side; DuckDB mirror in
    queries/textops_q.py."""
    hashes = char_gram_hashes(text, k)
    n = F.size(hashes)
    mins = hashes
    for i in range(1, w):
        shifted = F.slice(hashes, i + 1, F.greatest(n - i, F.lit(0)))
        # zip_with pads the shorter side with NULL; least() skips NULLs,
        # so trailing windows simply take the min of the grams they have
        mins = F.zip_with(mins, shifted, lambda x, y: F.least(x, y))
    return F.slice(mins, 1, F.greatest(n - F.lit(w - 1), F.lit(1)))


# --- corpus-quality heuristics (Gopher/C4-style) and PII masking -------
# Rule shapes follow the published heuristic-filter recipes (Gopher,
# Rae et al. 2021, App. A1.1; C4, Raffel et al. 2020 §2.2) with
# explicit, overridable thresholds. All pure column expressions.


def mean_word_length(text: Column) -> Column:
    """Mean token length (0.0 for empty docs) — Gopher keeps 3..10."""
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def symbol_word_ratio(text: Column, symbols: str = "#…") -> Column:
    """Symbols per word (Gopher drops docs over 0.1 for #/ellipsis)."""
    pat = "[" + "".join("\\" + c for c in symbols) + "]"
    n_sym = F.length(text) - F.length(F.regexp_replace(text, pat, ""))
    n_words = token_count(text)
    return F.when(n_words > 0, n_sym / n_words).otherwise(F.lit(0.0))


def duplicate_line_fraction(text: Column) -> Column:
    """Fraction of non-empty lines that are duplicates of an earlier
    line (Gopher drops docs over 0.3)."""
    lines = F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != "")
    n = F.size(lines)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(lines))) / n
    ).otherwise(F.lit(0.0))


def bullet_line_fraction(text: Column) -> Column:
    """Fraction of lines starting with a bullet marker (Gopher drops
    docs where over 0.9 of lines are bullets)."""
    lines = F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != "")
    n = F.size(lines)
    bullets = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^([-*•]|\d+[.)])"))
    )
    return F.when(n > 0, bullets / n).otherwise(F.lit(0.0))


def gopher_quality_flags(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_fraction: float = 0.9,
    max_dup_line_fraction: float = 0.3,
) -> Column:
    """Struct of per-rule booleans plus an overall ``passes`` — the
    Gopher repetition/format gate as one columnar pass. Thresholds are
    the published defaults; tune per corpus."""
    n_words = token_count(text)
    mwl = mean_word_length(text)
    checks = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len_ok": (mwl >= min_mean_word_len) & (mwl <= max_mean_word_len),
        "symbol_ratio_ok": symbol_word_ratio(text) <= max_symbol_ratio,
        "bullet_fraction_ok": bullet_line_fraction(text) <= max_bullet_fraction,
        "dup_line_fraction_ok": duplicate_line_fraction(text) <= max_dup_line_fraction,
    }
    passes = None
    for c in checks.values():
        passes = c if passes is None else (passes & c)
    return F.struct(
        *[v.alias(k) for k, v in checks.items()], passes.alias("passes")
    )


# Masking order matters: emails contain dots that the phone pattern
# must not see; IPs are masked before phones so dotted quads don't
# half-match as digit runs.
_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
# Phone runs: digit-bounded (no mid-number starts), 9-15 chars, with a
# negative lookahead so ISO-date shapes (2020-01-01, 2020/01/01) stay —
# dates are phone-shaped by digit-grouping alone, and over-masking them
# corrupts corpus text AND collapses date-differing docs into false
# duplicates downstream (prepare_corpus masks before dedup).
_PHONE_RE = (
    r"(?<!\d)(?<!\d[-/.])"
    r"(?!\d{4}[-/.]\d{2}[-/.]\d{2}(?!\d))"
    r"\+?\d[\d\s().\-]{6,18}\d(?!\d)"
)


def mask_pii(text: Column) -> Column:
    """Best-effort PII masking for corpus release: emails → <EMAIL>,
    IPv4 literals → <IP>, phone-shaped digit runs → <PHONE>. Regex
    heuristics (the standard first-line scrub — NOT a compliance tool);
    deterministic and idempotent, so re-running a pipeline never
    double-masks."""
    no_email = F.regexp_replace(text, _EMAIL_RE, "<EMAIL>")
    no_ip = F.regexp_replace(no_email, _IP_RE, "<IP>")
    return F.regexp_replace(no_ip, _PHONE_RE, "<PHONE>")


def normalize_for_dedup(text: Column) -> Column:
    """CCNet/Dolma-style normalization applied BEFORE exact-dedup
    hashing, so formatting variants of the same content collapse to one
    fingerprint: lowercase, digits → 0 (version strings / timestamps /
    ids stop splitting otherwise-identical boilerplate), punctuation
    and symbols stripped, whitespace runs collapsed, ends trimmed.
    Pure column expressions (four regexp_replace + lower + trim) with
    deliberately portable character classes (`[0-9]`, explicit ASCII
    set) — the same chain is expressible verbatim in DuckDB/RE2, so a
    cross-engine dedup pass sees identical equivalence classes. Pair
    with ``operators/dedup.exact_dedup`` by hashing this instead of the
    raw column; NOT idempotent-sensitive (normalizing twice is the
    identity on already-normalized text)."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[0-9]+", "0")
    # keep letters/digits/whitespace; strip ASCII punctuation+symbols
    t = F.regexp_replace(t, r"[!-/:-@\[-`{-~]+", " ")
    # explicit ASCII whitespace class, NOT \s: Java's default \s is
    # [ \t\n\x0B\f\r] while RE2's \s excludes vertical tab, so text
    # containing \x0B would normalize differently across engines
    # (round-12 advice). Spelling the class out pins the equivalence
    # relation on both sides.
    t = F.regexp_replace(t, "[ \t\n\x0B\f\r]+", " ")
    return F.trim(t)
