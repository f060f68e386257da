"""The search-surface analyzer chain (ES ``standard``-analyzer minimum).

Elasticsearch never indexes raw text: the standard analyzer lowercases and
splits on non-alphanumeric boundaries before postings are built, and the
SAME analysis is applied to query terms — the first thing any user of a
term query hits on real text ("Spark," must match the term ``spark``).
The reference applies the field-NAME twin of this normalization
(lowercase + strip, `HBaseRiver.java:314-326`, pinned by
`HBaseRiverTest.java:37-47`); this module is the field-VALUE analog for
the engine's search surface (postings build, BM25/phrase/fuzzy/suggest,
the materialized index and its streaming maintainer).

The chain: lowercase → replace every non-[a-z0-9] run with one space →
trim → split. Pure JVM-side string expressions (whole-stage codegen, no
UDF), with a DuckDB SQL twin used verbatim inside every oracle so the
correctness gate proves both engines analyze identically
(tests/test_analyzer.py runs both over a deliberately dirty corpus).

Deliberately NOT applied outside the search surface: the dedup family
(shingles, winnowing), text statistics and pretrain curation define their
own tokenization — changing their semantics is not the analyzer's job.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Token-boundary pattern: any run of characters outside [a-z0-9] (applied
#: AFTER lowercasing) is a separator. ES's standard analyzer is
#: Unicode-segmentation-based; for the a-z0-9 corpus this engine serves,
#: the boundary classes coincide, and the regex stays identical (and
#: cheap) in both engines.
TOKEN_SEP_RE = "[^a-z0-9]+"

#: Unicode-mode token boundary: any run outside letter (L), combining-mark
#: (M — keeps decomposed accents like e+U+0301 inside their token, per
#: UAX#29 word segmentation) and decimal-digit (Nd) classes. Identical
#: spelling works in Java regex (Spark) and RE2 (DuckDB), so the oracles
#: mirror it verbatim; the engines' Unicode-table drift is handled by
#: :func:`assert_analyzable_corpus` below.
UNICODE_TOKEN_SEP_RE = "[^\\p{L}\\p{M}\\p{Nd}]+"

#: The two analyzer modes. ``ascii`` is the legacy [a-z0-9] chain every
#: pre-round-8 query and oracle is pinned to; ``unicode`` is the
#: multilingual \\p{L}-class chain (the ES standard analyzer's model). The
#: reference decodes cells by configurable charset (HBaseRiver.java:74,151)
#: — unicode mode is the analysis-surface side of honoring that promise.
TOKEN_MODES = ("ascii", "unicode")


#: Characters outside 7-bit ASCII — anything the ascii-mode analyzer would
#: treat as a separator even when it is a LETTER in the document's language.
_NON_ASCII_RE = "[^\\x00-\\x7F]"

#: Codepoints where Spark (Java 17: Unicode 13 tables, full case mappings)
#: and DuckDB (RE2/utf8proc: newer Unicode tables, simple case mappings)
#: DISAGREE on [\\p{L}\\p{M}\\p{Nd}] membership or on lower() — measured by
#: an exhaustive per-codepoint sweep of both engines
#: (tools/analyzer_parity_sweep.py): 5 079 codepoints, all either
#: Unicode-14+ script additions Java 17 cannot classify (and would
#: mis-tokenize into separators) or caseless-mapping gaps like U+0130.
#: Greek final sigma (the one CONTEXTUAL lower() divergence) is folded
#: in-chain instead (ς→σ, Lucene's GreekLowerCaseFilter rule) so Greek
#: text needs no guard. Frozen as (start, end) inclusive ranges.
#: Fold contract (SCALE.md §3q): ROOT-locale simple mapping — 'I'→'i'
#: (never Turkish 'ı'; Turkish-locale casing is the full-casemap class
#: this guard refuses via U+0130), dotless ı is lower-stable, Arabic
#: tatweel (U+0640, Lm) stays in-token. Re-swept round 9 over the full
#: space: regenerated constant byte-identical to this one.
_UNI_DIVERGENT_RANGES = (
    (0x130, 0x130), (0x870, 0x887), (0x889, 0x88E), (0x898, 0x89F),
    (0x8B5, 0x8B5), (0x8C8, 0x8D2), (0xC3C, 0xC3C), (0xC5D, 0xC5D),
    (0xCDD, 0xCDD), (0xCF3, 0xCF3), (0xECE, 0xECE), (0x170D, 0x170D),
    (0x1715, 0x1715), (0x171F, 0x171F), (0x180F, 0x180F), (0x1AC1, 0x1ACE),
    (0x1B4C, 0x1B4C), (0x1C89, 0x1C89), (0x1DFA, 0x1DFA), (0x2C2F, 0x2C2F),
    (0x2C5F, 0x2C5F), (0x9FFD, 0x9FFF), (0xA7C0, 0xA7C1), (0xA7C7, 0xA7C7),
    (0xA7C9, 0xA7C9), (0xA7CB, 0xA7CC), (0xA7D0, 0xA7D1), (0xA7D3, 0xA7D3),
    (0xA7D5, 0xA7DA), (0xA7DC, 0xA7DC), (0xA7F2, 0xA7F5),
    (0x10570, 0x1057A), (0x1057C, 0x1058A), (0x1058C, 0x10592),
    (0x10594, 0x10595), (0x10597, 0x105A1), (0x105A3, 0x105B1),
    (0x105B3, 0x105B9), (0x105BB, 0x105BC), (0x10780, 0x10785),
    (0x10787, 0x107B0), (0x107B2, 0x107BA), (0x10D50, 0x10D65),
    (0x10EFD, 0x10EFF), (0x10F70, 0x10F85), (0x11070, 0x11075),
    (0x110C2, 0x110C2), (0x1123F, 0x11241), (0x11740, 0x11746),
    (0x11AB0, 0x11ABF), (0x11F00, 0x11F10), (0x11F12, 0x11F3A),
    (0x11F3E, 0x11F42), (0x11F50, 0x11F59), (0x12F90, 0x12FF0),
    (0x1342F, 0x1342F), (0x13440, 0x13455), (0x16A70, 0x16ABE),
    (0x16AC0, 0x16AC9), (0x1AFF0, 0x1AFF3), (0x1AFF5, 0x1AFFB),
    (0x1AFFD, 0x1AFFE), (0x1B11F, 0x1B122), (0x1B132, 0x1B132),
    (0x1B155, 0x1B155), (0x1CF00, 0x1CF2D), (0x1CF30, 0x1CF46),
    (0x1DF00, 0x1DF1E), (0x1DF25, 0x1DF2A), (0x1E030, 0x1E06D),
    (0x1E08F, 0x1E08F), (0x1E290, 0x1E2AE), (0x1E4D0, 0x1E4F9),
    (0x1E7E0, 0x1E7E6), (0x1E7E8, 0x1E7EB), (0x1E7ED, 0x1E7EE),
    (0x1E7F0, 0x1E7FE), (0x2A6DE, 0x2A6DF), (0x2B735, 0x2B739),
    (0x31350, 0x323AF),
)

_UNI_GUARD_RE = "[" + "".join(
    f"\\x{{{a:X}}}-\\x{{{b:X}}}" if a != b else f"\\x{{{a:X}}}"
    for a, b in _UNI_DIVERGENT_RANGES) + "]"


def assert_analyzable_corpus(df, col: str = "text",
                             mode: str = "ascii") -> None:
    """Fail loudly on a corpus the selected analyzer mode cannot analyze
    faithfully.

    ``ascii`` mode: :data:`TOKEN_SEP_RE` treats every non-[a-z0-9]
    character as a separator, so non-ASCII letters (any real multilingual
    corpus) would silently degrade into split tokens — and every oracle
    mirrors the same approximation, so the correctness gate cannot catch
    it. ``unicode`` mode: the chain is multilingual, but a small frozen
    set of codepoints (:data:`_UNI_DIVERGENT_RANGES` — Unicode-14+ script
    additions this JVM's tables cannot classify, plus caseless-mapping
    gaps like U+0130) would mis-tokenize AND diverge from the oracle, so
    those are refused.

    The WHOLE corpus is checked (one distributed codegen'd regex filter
    with a 1-row early-exit limit, no shuffle): a head-only sample would
    pass a corpus whose offending documents sit past the sampled row
    group and then mis-tokenize through a green gate — the exact failure
    this guard exists to prevent."""
    if mode not in TOKEN_MODES:
        raise ValueError(f"unknown analyzer mode {mode!r}; "
                         f"expected one of {TOKEN_MODES}")
    guard_re = _NON_ASCII_RE if mode == "ascii" else _UNI_GUARD_RE
    bad = (df.select(F.col(col).alias("_t"))
           .filter(F.col("_t").rlike(guard_re)).limit(1).collect())
    if bad:
        snippet = bad[0][0][:80]
        if mode == "ascii":
            raise ValueError(
                "corpus contains non-ASCII text (sample: "
                f"{snippet!r}) — the ascii analyzer chain is scoped to "
                "[a-z0-9] corpora (TOKEN_SEP_RE treats all other "
                "characters as separators); use the 'unicode' analyzer "
                "mode for multilingual corpora")
        raise ValueError(
            "corpus contains codepoints this JVM's Unicode tables cannot "
            f"analyze faithfully (sample: {snippet!r}) — Unicode-14+ "
            "script additions or caseless-mapping gaps (e.g. U+0130); "
            "the unicode analyzer mode would treat them as separators "
            "and diverge from the oracle engine")


def assert_ascii_corpus(df, col: str = "text") -> None:
    """Legacy alias: the ascii-mode corpus guard (see
    :func:`assert_analyzable_corpus`)."""
    assert_analyzable_corpus(df, col, mode="ascii")


def analyze_tokens(col: Column | str) -> Column:
    """``array<string>`` of analyzed tokens (empty array for text with no
    alphanumerics — never an array holding '').

    Shape: ONE regex pass (split on the separator class) + a codegen'd
    array_remove for the empty edge tokens. The earlier
    replace-separators-then-split form ran two regex passes over every
    document and measured ~35% slower on the corpus tokenization that
    every search query and both index builds pay."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), TOKEN_SEP_RE), "")


def analyze_toks_sql(expr: str = "text") -> str:
    """The DuckDB twin of :func:`analyze_tokens` over ``expr``."""
    return (f"list_filter(string_split_regex(lower({expr}),"
            f" '{TOKEN_SEP_RE}'), x -> x <> '')")


#: The analyzed-token array over the ``documents`` table's text column —
#: the expression every search-surface oracle builds on.
ANALYZE_TOKS_SQL = analyze_toks_sql("text")


def analyze_tokens_unicode(col: Column | str) -> Column:
    """``array<string>`` of unicode-analyzed tokens: lowercase (full JVM
    case mapping), fold Greek final sigma ς→σ (the one CONTEXTUAL
    lowercase rule, applied exactly as Lucene's GreekLowerCaseFilter so
    ``ΟΔΥΣΣΕΥΣ`` and ``οδυσσευσ`` analyze identically — and so the
    simple-casemap oracle engine agrees), then split on
    :data:`UNICODE_TOKEN_SEP_RE`. Same one-regex-pass shape as the ascii
    chain; pure codegen'd string expressions, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.replace(F.lower(c), F.lit("ς"), F.lit("σ"))
    return F.array_remove(F.split(low, UNICODE_TOKEN_SEP_RE), "")


def analyze_toks_unicode_sql(expr: str = "text") -> str:
    """The DuckDB twin of :func:`analyze_tokens_unicode` over ``expr``."""
    return (f"list_filter(string_split_regex(replace(lower({expr}),"
            f" 'ς', 'σ'), '{UNICODE_TOKEN_SEP_RE}'), x -> x <> '')")


def tokens_for_mode(col: Column | str, mode: str = "ascii") -> Column:
    """Mode-dispatched analyzer chain (see :data:`TOKEN_MODES`)."""
    if mode == "ascii":
        return analyze_tokens(col)
    if mode == "unicode":
        return analyze_tokens_unicode(col)
    raise ValueError(f"unknown analyzer mode {mode!r}; "
                     f"expected one of {TOKEN_MODES}")


# ---------------------------------------------------------------------------
# The ``english`` analyzer: standard chain + stopword removal + S-stemming.
# ES's english analyzer adds a stop filter and a stemmer on top of the
# standard tokenizer; the stemmer here is Harman's S-stemmer (the rule set
# of Lucene's minimal_english): crude by design, exactly expressible as
# portable string CASEs in both engines.

#: Lucene's ENGLISH_STOP_WORDS_SET (the ES `_english_` stopword list).
EN_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)


def _s_stem(t: Column) -> Column:
    """Harman S-stemmer: ies→y (not eies/aies); es→e (not aes/ees/oes);
    s→'' (not us/ss)."""
    n = F.length(t)
    return (
        F.when(t.endswith("ies") & ~t.endswith("eies") & ~t.endswith("aies"),
               F.concat(t.substr(F.lit(1), n - 3), F.lit("y")))
        .when(t.endswith("es") & ~t.endswith("aes") & ~t.endswith("ees")
              & ~t.endswith("oes"),
              t.substr(F.lit(1), n - 1))
        .when(t.endswith("s") & ~t.endswith("us") & ~t.endswith("ss"),
              t.substr(F.lit(1), n - 1))
        .otherwise(t)
    )


def analyze_tokens_en(col: Column | str) -> Column:
    """``array<string>`` of english-analyzed tokens: the standard chain,
    then stopword removal (duplicates and order preserved — tf matters),
    then per-token S-stemming. Pure higher-order-function expressions —
    whole-stage codegen, no UDF."""
    toks = analyze_tokens(col)
    kept = F.filter(toks, lambda t: ~t.isin(*EN_STOPWORDS))
    return F.transform(kept, _s_stem)


_EN_STOP_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

_S_STEM_SQL = """CASE
  WHEN ends_with(t, 'ies') AND NOT ends_with(t, 'eies')
       AND NOT ends_with(t, 'aies')
    THEN substr(t, 1, length(t) - 3) || 'y'
  WHEN ends_with(t, 'es') AND NOT ends_with(t, 'aes')
       AND NOT ends_with(t, 'ees') AND NOT ends_with(t, 'oes')
    THEN substr(t, 1, length(t) - 1)
  WHEN ends_with(t, 's') AND NOT ends_with(t, 'us')
       AND NOT ends_with(t, 'ss')
    THEN substr(t, 1, length(t) - 1)
  ELSE t END"""


def analyze_toks_en_sql(expr: str = "text") -> str:
    """The DuckDB twin of :func:`analyze_tokens_en` over ``expr``."""
    return (f"list_transform(list_filter({analyze_toks_sql(expr)}, "
            f"t -> t NOT IN ({_EN_STOP_SQL})), t -> {_S_STEM_SQL})")
