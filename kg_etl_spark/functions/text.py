"""Text kernel — normalization, tokenization, similarity, fingerprints.

Capability parity with the reference's text helpers (normalize_name
`etl/utils.py:68-77`, slugify `etl/er.py:30-34`, token extraction +
light stemming `etl/er.py:54-65`, stopword filtering `etl/er.py:15-28`,
jaccard `etl/er.py:70-76`, sorted-token substring `etl/er.py:78-82`,
fuzzy similarity `etl/er.py:92-100`), built Spark-first: everything
is a native Column expression except NFKD de-accent and the fuzzy
ratio, which are vectorized pandas UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword/generic/areal vocabularies — same *capability* as the
# reference's _STOP/_GENERIC/_AREAL sets (etl/er.py:15-28).
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "in", "on", "at", "to", "for",
    "with", "by", "from", "am", "im", "der", "die", "das", "und", "la",
    "le", "les", "el", "los", "de", "du", "des", "el", "il", "lo", "es", "is",
]
GENERIC_TYPES = [
    "restaurant", "cafe", "bar", "hotel", "museum", "park", "church",
    "market", "square", "station", "theater", "theatre", "gallery",
    "garden", "bridge", "tower", "palace", "castle", "hall", "center",
]


def normalize_name(col: Column) -> Column:
    """Lower, domain synonym folding, strip non-alnum, squeeze spaces."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"stra(ss|ß)e\b|str\.", "strasse")
    c = F.regexp_replace(c, r"\bpl\.", "platz")
    c = F.regexp_replace(c, r"[^0-9a-z\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def slugify(col: Column, max_len: int = 120) -> Column:
    """Lower, spaces→-, strip charset, truncate (reference F3)."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, r"[/\\]", "-")
    c = F.regexp_replace(c, r"[^0-9a-z\s-]", "")
    c = F.regexp_replace(c, r"\s+", "-")
    c = F.regexp_replace(c, r"-+", "-")
    return F.substring(c, 1, max_len)


def tokens(col: Column, min_len: int = 3) -> Column:
    """≥min_len-char tokens with light plural stemming (ies→y, es→, s→)."""
    arr = F.split(normalize_name(col), r"\s+")
    arr = F.filter(arr, lambda t: F.length(t) >= min_len)
    stem = lambda t: (
        F.when(t.rlike("ies$"), F.regexp_replace(t, "ies$", "y"))
        .when(t.rlike("[a-z]es$"), F.regexp_replace(t, "es$", ""))
        .when(t.rlike("[a-z]s$"), F.regexp_replace(t, "s$", ""))
        .otherwise(t)
    )
    return F.transform(arr, stem)


def content_tokens(col: Column) -> Column:
    """Token set minus stopwords (reference F5)."""
    return F.array_distinct(F.array_except(tokens(col), F.array(*[F.lit(s) for s in STOPWORDS])))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard of two token arrays — fully native (reference F7)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def sorted_token_substring(a: Column, b: Column) -> Column:
    """Shorter sorted-token string contained in longer (reference F8)."""
    sa = F.concat_ws(" ", F.array_sort(a))
    sb = F.concat_ws(" ", F.array_sort(b))
    return F.when(F.length(sa) <= F.length(sb), sb.contains(sa)).otherwise(sa.contains(sb))


def word_shingles(tokens_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array (dedup kernel).

    Implemented as arrays_zip over n shifted slices + one transform —
    the token array is referenced O(n) times, not O(n·len) as an
    element_at-per-index formulation would be (which defeats Catalyst
    subexpression elimination inside lambda bodies and was ~100×
    slower).
    """
    k = F.size(tokens_col)
    m = F.greatest(k - (n - 1), F.lit(0))  # shingle count (0 if too short)
    parts = [F.slice(tokens_col, j + 1, m).alias(f"t{j}") for j in range(n)]
    zipped = F.arrays_zip(*parts)
    gram = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"t{j}"] for j in range(n)]))
    return F.array_distinct(gram)


def nfkd_ascii_udf():
    """NFKD de-accent + casefold — pandas UDF (no native NFKD in Spark)."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _deaccent(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            return (
                unicodedata.normalize("NFKD", x).encode("ascii", "ignore").decode("ascii").lower()
            )

        return s.map(one)

    return _deaccent


def fuzzy_ratio_udf():
    """Name similarity (0..1) — vectorized pandas UDF scoring each pair
    with difflib's ``SequenceMatcher.ratio``; a NULL side scores 0.0.
    One scorer in every environment, so the fuzzy ER results do not
    depend on which packages are installed. The reference's ER variant,
    max(token_set_ratio, token_sort_ratio, partial_ratio) from
    rapidfuzz, waits until rapidfuzz is part of the environment.
    """
    import difflib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _sim(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                0.0 if x is None or y is None else difflib.SequenceMatcher(None, x, y).ratio()
                for x, y in zip(a.values, b.values)
            ]
        )

    return _sim


def title_candidates(col: Column) -> Column:
    """F21 — match-key expansion for MediaWiki page titles (reference
    `etl/utils.py:15-37`): [full, pre-'/' root, sans trailing
    parenthetical, sans admin suffix], lowercased, deduped in order,
    empties pruned. Fully native (array_distinct preserves first
    occurrence); compose with nfkd_ascii_udf upstream when accents
    matter.
    """
    t0 = F.trim(F.lower(col))
    root = F.trim(F.substring_index(t0, "/", 1))
    noparen = F.trim(F.regexp_replace(t0, r"\s*\([^)]*\)\s*$", ""))
    nosuffix = F.trim(
        F.regexp_replace(t0, r"\b(district|province|region|prefecture|county)$", "")
    )
    return F.filter(F.array_distinct(F.array(t0, root, noparen, nosuffix)), lambda c: c != "")


def normalize_newlines(col: Column) -> Column:
    """F17 — CRLF/CR → LF (reference `etl/reviews_jsonl.py:48-52`)."""
    return F.regexp_replace(F.regexp_replace(col, "\r\n", "\n"), "\r", "\n")


def clean_wikitext(col: Column) -> Column:
    """F18 — wikitext → plain text (reference
    `etl/reviews_jsonl.py:302-314`): [[T|Alt]]→Alt, [[T]]→T, strip
    {{templates}}, squeeze whitespace."""
    c = F.regexp_replace(col, r"\[\[[^\]|]*\|([^\]]*)\]\]", r"$1")
    c = F.regexp_replace(c, r"\[\[([^\]]*)\]\]", r"$1")
    c = F.regexp_replace(c, r"\{\{[^}]*\}\}", "")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def strip_html(c: Column) -> Column:
    """Drop markup tags and collapse whitespace — the C4/CCNet HTML
    pre-pass (tag contents survive; scripts/styles are upstream
    extractors' concern). Native regexp, mirrored verbatim in SQL."""
    return F.trim(F.regexp_replace(F.regexp_replace(c, r"<[^>]*>", " "), r"\s+", " "))


def extract_urls(c: Column) -> Column:
    """All http(s) URLs in a text column, in order of appearance —
    crawl-lineage extraction for domain capping/blocklists."""
    return F.regexp_extract_all(c, F.lit(r'https?://[^\s"<>]+'), 0)


def monge_elkan(a_toks: Column, b_toks: Column) -> Column:
    """Symmetric Monge-Elkan token-set similarity with a normalized-
    Levenshtein inner kernel: mean over tokens of A of the best match
    in B, averaged with the reverse direction. Fully native — nested
    higher-order transforms over NATIVE `levenshtein`, no Python — so
    it runs on blocked candidate pairs at scan speed.

    Float discipline: `aggregate` over an array is an ORDERED fold
    (token order is derived identically in any engine), and every term
    is the same IEEE expression — DuckDB's list_transform/levenshtein
    mirror is bit-exact; round at the output edge.
    """

    def best(x, other):
        return F.array_max(
            F.transform(
                other,
                lambda y: F.lit(1.0)
                - F.levenshtein(x, y).cast("double")
                / F.greatest(F.length(x), F.length(y)).cast("double"),
            )
        )

    def directed(src, dst):
        total = F.aggregate(
            src,
            F.lit(0.0),
            lambda acc, x: acc + best(x, dst),
        )
        return total / F.size(src).cast("double")

    return (directed(a_toks, b_toks) + directed(b_toks, a_toks)) / F.lit(2.0)
