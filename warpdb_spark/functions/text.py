"""Text-analysis column functions for LLM-data pipelines (SURVEY §7
Phase 3; BASELINE.json north star).

Everything here is a pure pyspark.sql.functions composition — JVM-side,
no Python in the hot path — so a scan over 100 TB of documents stays a
single map stage with no shuffle and no Arrow exchange.

Not all of it is codegen'd: Spark interprets the higher-order functions
(transform, filter, aggregate, zip_with are CodegenFallback) element by
element inside the stage. ``stopword_hits`` is one ``regexp_count``;
these helpers stay HOF-interpreted: ``bpe_ish_token_count``,
``mean_word_length`` (aggregate), ``alpha_word_fraction``,
``alnum_tokens`` (filter), ``distinct_stopword_hits``, ``let``,
``word_ngrams``, ``word_ngrams_from_tokens`` and ``rolling_fingerprint``
(transform).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Compact stopword profiles for the n-gram/stopword language heuristic.
# Real deployments would swap in fuller lists; the scoring pipeline is
# identical.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "un", "les", "des", "en", "du", "que"],
    "de": ["der", "die", "das", "und", "ein", "zu", "den", "von", "mit", "ist"],
}

_WS = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokens; empty/blank input → empty array."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, _WS)
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """A BPE-flavored proxy: word pieces ≈ words + one extra piece per 4
    chars beyond the first 4 of each word (deterministic, regex-only)."""
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.lit(1) + F.floor(F.greatest(F.length(t) - 1, F.lit(0)) / 4).cast("int"),
    )


def let(expr: Column, body) -> Column:
    """Per-row let-binding for higher-order-function expressions:
    evaluate ``expr`` ONCE per row and pass it to ``body`` as a lambda
    variable (a bound VALUE, not an expression tree).

    Spark HOF lambdas are interpreted with no common-subexpression
    elimination, so a captured Column referenced inside a lambda is
    re-evaluated per ELEMENT — word_ngrams re-tokenizing the document
    for every output position was O(tokens²) per doc (measured 7.2s vs
    0.6s for corpus bigram counts at sf0.1, PLANS.md round 4). Wrapping
    the expensive subtree as the single element of an array and
    transforming over it makes it a NamedLambdaVariable: evaluated once
    per row, referenced by value inside any nested lambda."""
    return F.transform(F.array(expr), body)[0]


def word_ngrams_from_tokens(tk: Column, n: int) -> Column:
    """N-grams from an ALREADY-TOKENIZED array column; empty when the
    array has fewer than n tokens. Use this (with ``tokens()``
    projected once into a real column) when deriving several gram
    sizes from one document — composing word_ngrams() per size would
    re-embed the tokenize+normalize subtree in every projection and
    lean on codegen CSE to avoid recomputing it."""
    return F.when(F.size(tk) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
        )
    )


def word_ngrams(col: Column, n: int) -> Column:
    """Word n-gram shingles as an array of space-joined strings; empty
    when the document has fewer than n tokens. Pure HOF composition —
    no explode, no shuffle; the token array is let-bound so
    tokenization runs once per row, not once per output n-gram."""
    return let(tokens(col), lambda tk: word_ngrams_from_tokens(tk, n))


# Java's \s without UNICODE_CHARACTER_CLASS: the separators ``_WS`` splits on.
_JAVA_WS = frozenset(" \t\n\x0b\f\r")


def _java_quote(word: str) -> str:
    """java.util.regex.Pattern.quote: the word as a literal in a Java regex."""
    return "\\Q" + word.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _stopword_hits_hof(col: Column, words: list[str]) -> Column:
    """Tokenize, lower-case each token, count the tokens in ``words``:
    two HOFs (transform, filter) that Spark interprets element by element."""
    lower_tokens = F.transform(tokens(col), F.lower)
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(lower_tokens, lambda t: F.array_contains(wl, t)))


def stopword_hits(col: Column, words: list[str]) -> Column:
    """Count of tokens (lower-cased) that are in ``words``.

    One codegen'd ``regexp_count`` over ``lower(col)``: a word counts
    where it is a whole whitespace token, i.e. bounded by ``\\s`` or
    the string's ends. Lower-casing the text before splitting equals
    lower-casing each token, since no case mapping looks across ``\\s``.
    An empty word, or one holding whitespace, can match split's empty
    or multi-token pieces that the regex cannot see, so such lists
    keep the HOF form."""
    if not words or any(w == "" or _JAVA_WS.intersection(w) for w in words):
        return _stopword_hits_hof(col, words)
    alternation = "|".join(_java_quote(w) for w in dict.fromkeys(words))
    return F.regexp_count(F.lower(col), F.lit(f"(?<!\\S)(?:{alternation})(?!\\S)"))


def cjk_char_count(col: Column) -> Column:
    return F.length(F.regexp_replace(col, "[^一-鿿]", ""))


def lang_id(col: Column) -> Column:
    """Stopword/char-class language heuristic over en/es/fr/de/zh.

    Score per language = stopword hits (zh: CJK char count); argmax with
    deterministic lexicographic tie-break; all-zero → 'unknown'.
    """
    scored = [(lang, stopword_hits(col, words)) for lang, words in sorted(STOPWORDS.items())]
    scored.append(("zh", cjk_char_count(col)))
    scored.sort(key=lambda kv: kv[0])
    best = F.greatest(*[s for _, s in scored])
    out = F.lit("unknown")
    # reversed so that earlier (lexicographically smaller) languages win ties
    for lang, score in reversed(scored):
        out = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


ASCII_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
ASCII_DIGIT = "0123456789"
ASCII_WS = " \t\n"


def translate_count(col: Column, charset: str) -> Column:
    """Count of chars of ``col`` that are in ``charset`` (a literal
    enumerable set), via translate delete-and-measure: a per-char map
    lookup, measured 12× faster than the equivalent regexp_replace
    strip at 1M docs and bit-identical (PLANS.md round 6). DuckDB
    oracles keep the regex form — identical counts either way."""
    return F.length(col) - F.length(F.translate(col, charset, ""))


def alpha_ratio(col: Column) -> Column:
    n = F.length(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(translate_count(col, ASCII_ALPHA) / n)


def stopword_ratio(col: Column, words: list[str] | None = None) -> Column:
    words = words or STOPWORDS["en"]
    n = token_count(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(stopword_hits(col, words) / n)


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality heuristic:
    0.4·min(tokens/200, 1) + 0.3·stopword_ratio·5 (capped 1) + 0.3·alpha_ratio.
    """
    length_part = F.least(token_count(col) / 200.0, F.lit(1.0))
    stop_part = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return F.round(0.4 * length_part + 0.3 * stop_part + 0.3 * alpha_ratio(col), 6)


# Gopher-rule stopwords (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1 — public).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def mean_word_length(col: Column) -> Column:
    """Mean characters per whitespace token (0.0 for empty docs)."""
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.round(total.cast("double") / F.size(toks), 6)
    )


def symbol_word_ratio(col: Column) -> Column:
    """(# occurrences of '#' + occurrences of '...') / word count — the
    Gopher symbol-to-word screen. Occurrences counted by length delta
    after replace (codegen'd, no regex backtracking)."""
    hashes = F.length(col) - F.length(F.replace(col, F.lit("#"), F.lit("")))
    dots = (F.length(col) - F.length(F.replace(col, F.lit("..."), F.lit("")))) / 3
    n = token_count(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round((hashes + dots).cast("double") / n, 6)
    )


def alpha_word_fraction(col: Column) -> Column:
    """Fraction of tokens containing at least one A-Za-z character."""
    toks = tokens(col)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.round(n_alpha.cast("double") / F.size(toks), 6)
    )


def distinct_stopword_hits(col: Column, words: list[str] | None = None) -> Column:
    """Number of DISTINCT words from ``words`` present in the document
    (Gopher requires ≥ 2 of its 8-word list)."""
    words = words or GOPHER_STOPWORDS
    lower_tokens = F.transform(tokens(col), F.lower)
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.array_intersect(lower_tokens, wl))


def normalized_text(col: Column) -> Column:
    """Dedup normalization: lower-case, collapse whitespace, trim.
    DuckDB twin: ``DD_NORM`` below — change both together."""
    return F.trim(F.regexp_replace(F.lower(col), _WS, " "))


def alnum_tokens(col: Column) -> Column:
    """Lower-cased [a-z0-9]+ token array — the ONE corpus tokenizer the
    text inventory entries share. DuckDB twin: ``DD_ALNUM_TOKS`` below —
    change both together."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != F.lit(""))


# DuckDB oracle twins of the two normalizers above ({col} templates).
DD_NORM = "trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"
DD_ALNUM_TOKS = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), x -> x <> '')"
)


def md5_fingerprint(col: Column) -> Column:
    """Content fingerprint over normalized text (md5 for cross-engine
    verifiability; xxhash64 would be the cheaper production choice)."""
    return F.md5(normalized_text(col))


def rolling_fingerprint(col: Column, window: int = 5) -> Column:
    """Winnowing-style document fingerprint: min hash over word
    ``window``-grams of the normalized text. The gram hash is the first
    16 hex chars of md5 — an engine-portable hash (DuckDB computes the
    identical value), so the fingerprint is oracle-checkable end to end;
    xxhash64 would be the cheaper production choice and swaps in with
    one line. Docs shorter than ``window`` words fall back to hashing
    the whole normalized text. Pure HOF composition — no shuffle, no
    Python in the scan path."""
    norm = normalized_text(col)
    return let(
        word_ngrams(norm, window),
        lambda gs: F.when(F.size(gs) == 0, F.substring(F.md5(norm), 1, 16)).otherwise(
            F.array_min(F.transform(gs, lambda g: F.substring(F.md5(g), 1, 16)))
        ),
    )
