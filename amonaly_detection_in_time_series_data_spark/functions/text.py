"""Text-analysis column functions (SURVEY.md §2.14 extension surface).

Everything here is a pure Catalyst expression (regexp/split/aggregate) —
no Python UDFs — so text scoring over a 100 TB ``documents`` table stays
inside whole-stage codegen and scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic so the same logic is
# SQL-expressible for the oracle check.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de", "shi", "le", "bu", "wo"),
}

# BPE-ish tokenizer regex: words, numbers, or single non-space symbols —
# a public approximation of byte-pair pre-tokenization.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokenize(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization -> array<string>, empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    arr = F.split(F.trim(c), r"\s+")
    return F.filter(arr, lambda t: t != F.lit(""))


def token_count_regex(text: Column | str, pattern: str = BPE_ISH_PATTERN) -> Column:
    """Approximate LLM-token count: number of BPE-ish pre-token matches."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.nullif(F.length(c), F.lit(0))


def sha_fingerprint(text: Column | str) -> Column:
    """Document fingerprint: sha256 of whitespace-normalized lowercase text.

    The canonical exact-dup key (content-defined; stable across engines).
    """
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.sha2(normalized, 256)


def lang_id_expr(text: Column | str, tokens: Column | None = None) -> Column:
    """Stopword-vote language ID: argmax of per-language stopword hits,
    ties broken by language code order. Returns the language code.

    Expressed with map/filter/sort over an array of (hits, lang) structs —
    pure Catalyst, no UDF, oracle-expressible in SQL.

    ``tokens``: pass an already-BOUND tokens column (projected once via
    ``withColumn``) when the caller computes other token metrics over the
    same text — Catalyst's CollapseProject will NOT inline a non-cheap
    alias referenced many times, so the split work runs once instead of
    once per language vote.
    """
    toks = tokenize(text) if tokens is None else tokens

    def hits(stops: tuple[str, ...]) -> Column:
        # single-parameter lambda: a second parameter would be interpreted
        # by Spark as the array-index argument of filter()
        return F.size(F.filter(toks, lambda t: t.isin(*stops)))

    scored = F.array(
        *[
            F.struct(hits(stops).alias("hits"), F.lit(lang).alias("lang"))
            for lang, stops in sorted(LANG_STOPWORDS.items())
        ]
    )
    # max by (hits desc, lang asc): sort ascending by (-hits, lang), take first
    best = F.array_sort(
        scored,
        lambda a, b: F.when(a["hits"] != b["hits"], b["hits"] - a["hits"]).otherwise(
            F.when(a["lang"] < b["lang"], F.lit(-1)).otherwise(F.lit(1))
        ),
    )[0]
    return best["lang"]


def rolling_hash_grams(
    text: Column | str, k: int = 8, base: int = 257, mod: int = 2147483647
) -> Column:
    """Rabin-Karp-style polynomial rolling hash of every k-char gram:
    ``h(g) = fold(acc*base + codepoint(c) mod M)`` — the document-
    fingerprinting primitive (winnowing selects minima over these).

    Plain integer arithmetic over built-in array expressions, so the
    exact hash is reproducible in ANSI SQL (oracle-checked) and stays
    inside whole-stage codegen. Documents shorter than k yield an empty
    array.
    """
    s = F.col(text) if isinstance(text, str) else text
    n_grams = F.length(s) - k + 1
    starts = (
        F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams))
        .otherwise(F.array().cast("array<int>"))
    )

    def ghash(i: Column) -> Column:
        codes = F.transform(
            F.split(s.substr(i, F.lit(k)), ""),
            lambda ch: F.ascii(ch).cast("bigint"),
        )
        return F.aggregate(
            codes,
            F.lit(0).cast("bigint"),
            lambda acc, c: (acc * base + c) % mod,
        )

    return F.transform(starts, ghash)


def winnow_select(hashes: Column, w: int = 4) -> Column:
    """Winnowing proper (Schleimer-Wilkerson-Aiken 2003): the minimum
    hash of every ``w``-long window over the k-gram hash sequence,
    deduplicated — the selected fingerprint set whose guarantee is that
    any match of length >= w+k-1 chars shares at least one fingerprint.

    Fewer than ``w`` hashes (but >= 1): one window over the whole
    sequence, so every non-empty document gets >= 1 fingerprint; empty
    -> empty.

    ``hashes`` MUST be a BOUND column (projected via ``withColumn``),
    not a free expression — a captured expression is re-evaluated per
    window by the interpreted HOF path (the measured O(n^2) trap; see
    SCALING.md §1b). Cost with a bound column: O(n_grams * w) per row,
    w constant.
    """
    n_win = F.size(hashes) - w + 1
    starts = (
        F.when(n_win >= 1, F.sequence(F.lit(1), n_win))
        .when(F.size(hashes) >= 1, F.array(F.lit(1)))
        .otherwise(F.array().cast("array<int>"))
    )
    sel = F.transform(starts, lambda i: F.array_min(F.slice(hashes, i, w)))
    return F.array_distinct(sel)


# PII surface patterns — deliberately in BOTH the Java (Spark) and RE2
# (DuckDB) common regex subset: no backreferences, no lookaround, ASCII
# digit classes. Order matters for redaction: emails and URLs are
# replaced before IPs and phones so an already-replaced token's
# remainder cannot re-match a narrower pattern.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d[\d\- ]{7,14}\d",
}


def pii_counts(text: Column | str) -> list[Column]:
    """Per-row PII match counts, one ``n_<kind>`` bigint column per
    pattern in :data:`PII_PATTERNS` — the audit half of PII scrubbing
    (how much leaked content a corpus slice carries). Map-only."""
    c = F.col(text) if isinstance(text, str) else text
    return [
        F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with a typed placeholder (``<EMAIL>``,
    ``<URL>``, ``<IPV4>``, ``<PHONE>``) — the scrub step an LLM
    training-data pipeline runs before tokenization. A chain of
    ``regexp_replace`` in :data:`PII_PATTERNS` order, entirely map-side
    (zero shuffle, runs at scan speed at 100 TB)."""
    out = F.col(text) if isinstance(text, str) else text
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out
