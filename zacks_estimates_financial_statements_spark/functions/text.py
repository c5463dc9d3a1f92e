"""Text-analysis kit for large-scale training-data pipelines.

All functions are Column-in/Column-out built on native Spark SQL
expressions (regexp, split, aggregate) so they run JVM-side inside
whole-stage codegen — no Python in the hot path. Designed for the
``documents`` table shape: ``(doc_id, text, lang, source, n_chars)``.

Each operator has an exact ANSI-SQL twin (used by the DuckDB oracle in
``__spark_entry__``), which also documents the semantics precisely.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Cross-engine whitespace class (r11 Unicode contract fuzz): Java's
# ``\s`` is ``[ \t\n\x0B\f\r]`` while DuckDB/RE2's omits U+000B (VT),
# so ``\s`` must NEVER appear in a pattern both engines run — every
# pattern embeds this explicit class instead, on BOTH sides. VT counts
# as whitespace (Unicode WSpace, POSIX isspace and Python str.split all
# agree); NEL/NBSP/ZWSP do NOT (neither engine's ``\s`` matches them).
# Pinned by tests/test_unicode_contracts.py.
WS_CHARS = r" \t\n\x0b\f\r"   # splice inside a [...] class
WS_RUN = f"[{WS_CHARS}]+"

# A BPE-ish word/number/symbol tokenizer: letter runs, digit runs, or a
# single non-alnum non-space symbol each count as one token.
TOKEN_REGEX = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"


def simple_lower(col: Column) -> Column:
    """Lowercase pinned to the Unicode SIMPLE mapping for ASCII token
    grammars. U+0130 (İ) is the only codepoint whose Java FULL
    lowercase ('i' + combining U+0307) differs from utf8proc's SIMPLE
    'i' in its ``[a-z0-9_]`` projection (exhaustive per-codepoint
    engine diff, round 11) — Java's mapping splits 'İstanbul' into
    tokens ('i', 'stanbul') where DuckDB keeps 'istanbul'. Translating
    İ→i first makes every downstream a-z projection engine-identical;
    DuckDB's ``lower()`` is already the simple mapping, so SQL twins
    stay plain ``lower()``. (The other 70 codepoints where the engines'
    lower() disagree — Unicode-version skew, context-sensitive final
    sigma — map non-ASCII to non-ASCII on both sides, so ASCII
    projections and substring/containment checks agree without help.)"""
    return F.lower(F.translate(col, "İ", "i"))

ASCII_UPPERCASE = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWERCASE = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col: Column) -> Column:
    """Lowercase ONLY the ASCII letters — the RFC contract for URL
    schemes and hostnames (RFC 3986 §3.1, RFC 4343: case-insensitivity
    is ASCII-only; internationalized hostnames travel punycoded, and
    full-Unicode lowering of a host is both wrong and cross-engine
    divergent — Java and utf8proc disagree on ~70 codepoints). A pure
    1:1 translate, bit-identical in any engine; SQL twins embed the
    same table via ``translate(x, 'A..Z', 'a..z')``."""
    return F.translate(col, ASCII_UPPERCASE, ASCII_LOWERCASE)


# Tiny per-language stopword panels for the n-gram/stopword language
# heuristic. Chosen to be discriminative and regex-safe.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "les", "est", "une"],
    "es": ["el", "los", "que", "una", "para"],
    "it": ["il", "che", "di", "non", "sono"],
    "pt": ["os", "uma", "com", "mais", "como"],
}

_STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that",
]


def whitespace_token_count(col: Column) -> Column:
    """Token count by whitespace split; empty/blank text counts 0."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, WS_RUN))
    ).cast("bigint")


def regex_token_count(col: Column) -> Column:
    """BPE-ish token count: number of ``TOKEN_REGEX`` matches."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), F.lit(0))).cast("bigint")


def _count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def word_tokens(col: Column) -> Column:
    """Lowercased word tokens split on ``[^a-z0-9_]+``.

    The split class is the ASCII regex word class (``\\w`` =
    ``[A-Za-z0-9_]`` in DuckDB's RE2), so counting exact-match tokens in
    this array is equivalent to counting ``\\b<word>\\b`` matches in the
    DuckDB oracles — but costs ONE pass over the text instead of one full
    regexp scan per panel word. (Java regex ``\\b`` is Unicode-aware, so
    a java-side ``\\bthe\\b`` would MISS "the" in "éthe" while RE2 and
    this split both count it; the split form is the one that matches the
    documented SQL-twin semantics. Pinned by a cross-engine unit test.)

    Casefold is ``simple_lower`` (U+0130 contract, r11)."""
    return F.split(simple_lower(col), r"[^a-z0-9_]+")


def let_once(bindings: dict[str, Column], body) -> Column:
    """Single-evaluation let-binding: compute ``bindings`` once per row and
    evaluate ``body`` over cheap references to them.

    Catalyst duplicates an alias's expression subtree wherever the alias is
    referenced (predicate pushdown, collapsed projections), so an argmax
    over L expensive scores expands to O(L^2) copies of each score — which
    both recomputes regexps per copy and can push the generated method past
    the JVM's 64 KB limit, silently dropping the whole stage to interpreted
    mode. Wrapping the values in a one-element array and binding them to a
    ``transform`` lambda variable makes every reference in ``body`` a bound
    variable read: each binding is evaluated exactly once per row no matter
    how the optimizer rewrites the surrounding plan.
    """
    s = F.struct(*[v.alias(k) for k, v in bindings.items()])
    return F.element_at(F.transform(F.array(s), body), 1)


def detect_language(col: Column) -> Column:
    """Stopword-panel language ID: per ``LANG_MARKERS`` language, count
    whole-word marker hits; return the language with the max count (ties
    broken by language code order, 'und' when nothing matches)."""
    markers = LANG_MARKERS
    langs = sorted(markers)
    names = F.array(*[F.lit(lang) for lang in langs])
    # One tokenization pass, then per-language hit counts over the bound
    # token array (vs one full-text regexp scan per marker word). argmax
    # with deterministic first-wins tie-break over sorted language codes:
    # array_position returns the FIRST index holding the max, which is
    # exactly "keeps ties against later codes, must beat earlier ones".
    # let_once keeps the token array and count array evaluated once per
    # row (the naive pairwise-comparison argmax repeats every score ~2L
    # times, and optimizer rewrites would re-split per reference).
    return let_once(
        {"t": word_tokens(col)},
        lambda x: let_once(
            {"c": F.array(*[
                F.size(F.filter(x["t"], lambda tok: tok.isin(*markers[lang])))
                for lang in langs])},
            lambda y: F.when(
                F.array_max(y["c"]) > 0,
                F.element_at(names, F.array_position(y["c"], F.array_max(y["c"])).cast("int")),
            ).otherwise(F.lit("und"))),
    )


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    n = F.length(col)
    p = _count_matches(col, r"[.,;:!?'\"()\[\]{}-]")
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def stopword_ratio(col: Column) -> Column:
    """English stopword tokens / whitespace tokens (0 for empty text).

    Stopword hits are counted in one tokenization pass (see
    ``word_tokens``) instead of one regexp scan per stopword."""
    return let_once(
        {"hits": F.size(F.filter(word_tokens(col),
                                 lambda tok: tok.isin(*_STOPWORDS_EN))),
         "toks": whitespace_token_count(col)},
        lambda x: F.when(x["toks"] == F.lit(0), F.lit(0.0)).otherwise(
            x["hits"].cast("double") / x["toks"].cast("double")),
    )


def mean_word_length(col: Column) -> Column:
    """Mean length of whitespace tokens (0 for empty text)."""
    t = F.trim(col)
    toks = whitespace_token_count(col)
    nonspace = F.length(F.regexp_replace(t, WS_RUN, ""))
    return F.when(toks == 0, F.lit(0.0)).otherwise(
        nonspace.cast("double") / toks.cast("double")
    )


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0,1]:

    - length component: ``least(1, n_tokens / 100)`` (longer is better,
      saturating at 100 tokens);
    - stopword component: saturating ``least(1, stopword_ratio * 4)``
      (natural prose has stopwords);
    - punctuation sanity: ``1 - least(1, punct_ratio * 5)`` (symbol soup
      scores low).

    Score = mean of the three components; empty/blank text scores 0.
    """
    return let_once(
        {"toks": whitespace_token_count(col),
         "sr": stopword_ratio(col),
         "pr": punct_ratio(col)},
        lambda x: F.when(x["toks"] == F.lit(0), F.lit(0.0)).otherwise(
            (F.least(F.lit(1.0), x["toks"].cast("double") / F.lit(100.0))
             + F.least(F.lit(1.0), x["sr"] * F.lit(4.0))
             + (F.lit(1.0) - F.least(F.lit(1.0), x["pr"] * F.lit(5.0))))
            / F.lit(3.0)),
    )


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse all
    non-alphanumeric runs to single spaces, trim."""
    return F.trim(F.regexp_replace(simple_lower(col), r"[^a-z0-9]+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text. Exact-dup detector
    robust to case/punctuation/whitespace differences."""
    return F.md5(normalize_text(col))


def shingles_from_words(words: Column, k: int = 3) -> Column:
    """Word k-shingles from an already-materialized words array.

    IMPORTANT: pass a *column reference* to a words array, not an inline
    ``split(normalize_text(...))`` expression — Catalyst does not eliminate
    common subexpressions through lambda functions, so an inline expression
    re-runs the regexp normalization once per array element (measured 25×
    slower at sf0.1).

    NULL contract: a NULL words array yields NULL (→ explode produces no
    shingle rows), matching the SQL twins where NULL text propagates
    through ``len``/``generate_series``. Without the guard,
    ``greatest(size(NULL) - k, 0)`` silently becomes 0 (Spark's greatest
    SKIPS nulls) and every NULL-text document gets one '' shingle —
    making all of them perfect near-dups of each other (round-8 contract
    fuzz). An EMPTY (but non-NULL) normalized text still yields the
    single '' shingle on both engines."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        words.isNotNull(),
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )


def readability_scores(text: Column) -> list[Column]:
    """Flesch readability panel (Flesch 1948 / Kincaid et al. 1975 —
    the readability axis corpus-quality filters bucket on, alongside
    perplexity): returns columns ``[n_words, n_sents, n_syllables,
    flesch_ease, fk_grade]`` to splat into a projection.

    Closed-form proxies chosen for cross-engine parity (identical
    regex counts in Java and RE2): words = ``[a-z0-9_]+`` runs,
    sentences = ``[.!?]+`` runs floored at 1 when any word exists,
    syllables = ``[aeiouy]+`` vowel-group runs (the standard cheap
    syllable estimator). Ratios divide in double and round to 6;
    documents with no words yield NULL scores. A pure zero-shuffle
    projection at any corpus size.
    """
    lo = simple_lower(text)
    n_w = F.regexp_count(lo, F.lit("[a-z0-9_]+")).cast("bigint")
    n_s = F.when(n_w > 0,
                 F.greatest(F.regexp_count(text, F.lit(r"[.!?]+")),
                            F.lit(1))).cast("bigint")
    n_y = F.regexp_count(lo, F.lit("[aeiouy]+")).cast("bigint")
    wps = n_w.cast("double") / n_s.cast("double")
    spw = n_y.cast("double") / n_w.cast("double")
    ease = F.when(n_w > 0, F.round(
        F.lit(206.835) - 1.015 * wps - 84.6 * spw, 6))
    grade = F.when(n_w > 0, F.round(
        0.39 * wps + 11.8 * spw - 15.59, 6))
    return [n_w.alias("n_words"), n_s.alias("n_sents"),
            n_y.alias("n_syllables"), ease.alias("flesch_ease"),
            grade.alias("fk_grade")]


#: Latin diacritic fold table: generated ONCE from NFKD decomposition
#: (chars U+00C0..U+017F whose combining-stripped base is a single
#: ASCII letter), so every pair is exact by construction. Exported so
#: the SQL oracle twin embeds the IDENTICAL literal and cannot drift.
ASCII_FOLD_FROM = ("\u00c0\u00c1\u00c2\u00c3\u00c4\u00c5\u00c7"
                   "\u00c8\u00c9\u00ca\u00cb\u00cc\u00cd\u00ce"
                   "\u00cf\u00d1\u00d2\u00d3\u00d4\u00d5\u00d6"
                   "\u00d9\u00da\u00db\u00dc\u00dd\u00e0\u00e1"
                   "\u00e2\u00e3\u00e4\u00e5\u00e7\u00e8\u00e9"
                   "\u00ea\u00eb\u00ec\u00ed\u00ee\u00ef\u00f1"
                   "\u00f2\u00f3\u00f4\u00f5\u00f6\u00f9\u00fa"
                   "\u00fb\u00fc\u00fd\u00ff"
                   "\u0100\u0101\u0102\u0103\u0104\u0105\u0106"
                   "\u0107\u0108\u0109\u010a\u010b\u010c\u010d"
                   "\u010e\u010f\u0112\u0113\u0114\u0115\u0116"
                   "\u0117\u0118\u0119\u011a\u011b\u011c\u011d"
                   "\u011e\u011f\u0120\u0121\u0122\u0123\u0124"
                   "\u0125\u0128\u0129\u012a\u012b\u012c\u012d"
                   "\u012e\u012f\u0130\u0134\u0135\u0136\u0137"
                   "\u0139\u013a\u013b\u013c\u013d\u013e\u0143"
                   "\u0144\u0145\u0146\u0147\u0148\u014c\u014d"
                   "\u014e\u014f\u0150\u0151\u0154\u0155\u0156"
                   "\u0157\u0158\u0159\u015a\u015b\u015c\u015d"
                   "\u015e\u015f\u0160\u0161\u0162\u0163\u0164"
                   "\u0165\u0168\u0169\u016a\u016b\u016c\u016d"
                   "\u016e\u016f\u0170\u0171\u0172\u0173\u0174"
                   "\u0175\u0176\u0177\u0178\u0179\u017a\u017b"
                   "\u017c\u017d\u017e\u017f")
ASCII_FOLD_TO = ("AAAAAACEEEEIIIINOOOOOUUUUY"
                 "aaaaaaceeeeiiiinooooouuuuyy"
                 "AaAaAaCcCcCcCcDdEeEeEeEeEeGgGgGgGgHhIiIiIiIiI"
                 "JjKkLlLlLlNnNnNnOoOoOoRrRrRrSsSsSsSsTtTt"
                 "UuUuUuUuUuUuWwYyYZzZzZzs")
assert len(ASCII_FOLD_FROM) == len(ASCII_FOLD_TO) == 162, \
    (len(ASCII_FOLD_FROM), len(ASCII_FOLD_TO))


def ascii_fold(col: Column) -> Column:
    """Fold Latin diacritics to their ASCII base (``café`` → ``cafe``,
    ``Ñoño`` → ``Nono``) — the normalization multilingual dedup keys
    and URL slugs need so accent variants of the same string collapse.
    One ``translate`` call: whole-stage codegen, zero shuffle, and the
    identical builtin exists in ANSI SQL for the oracle twin (this
    module's cross-engine table is exported as
    ``ASCII_FOLD_FROM``/``ASCII_FOLD_TO`` so the SQL literal cannot
    drift from the Spark one). Characters outside the table pass
    through unchanged (this is a fold, not a transliteration — ß/æ/œ
    expansions change lengths and are out of scope)."""
    return F.translate(col, ASCII_FOLD_FROM, ASCII_FOLD_TO)


def script_profile(text: Column) -> list[Column]:
    """Unicode-script mix profile — the routing signal multilingual
    pipelines branch on before language-ID (a CJK document should
    never reach a Latin-trained quality model): per document, counts
    of LETTER-class characters by major script block and each
    script's share of those letters.

    Returns columns ``[n_letters, n_latin, n_cyrillic, n_greek,
    n_arabic, n_cjk, n_hangul, latin_share, cjk_share]`` to splat
    into a projection. Block ranges are literal code-point classes —
    identical semantics in Java regex and RE2, so the SQL twin counts
    the same characters. Shares divide in double and round to 6;
    documents with no letters yield NULL shares. Zero-shuffle
    projection at any corpus size.
    """
    def cnt(pattern: str) -> Column:
        return F.regexp_count(text, F.lit(pattern)).cast("bigint")

    # À-ɏ minus U+00D7 (×) and U+00F8 gap U+00F7 (÷) — the two
    # non-letter code points inside Latin-1 Supplement's letter runs.
    latin = cnt(r"[A-Za-zÀ-ÖØ-öø-ɏ]")
    cyr = cnt(r"[Ѐ-ӿ]")
    greek = cnt(r"[Ͱ-Ͽ]")
    arabic = cnt(r"[؀-ۿ]")
    cjk = cnt(r"[一-鿿぀-ヿ]")
    hangul = cnt(r"[가-힯ᄀ-ᇿ]")
    total = latin + cyr + greek + arabic + cjk + hangul
    share = lambda c: F.when(total > 0, F.round(
        c.cast("double") / total.cast("double"), 6))
    return [total.alias("n_letters"), latin.alias("n_latin"),
            cyr.alias("n_cyrillic"), greek.alias("n_greek"),
            arabic.alias("n_arabic"), cjk.alias("n_cjk"),
            hangul.alias("n_hangul"),
            share(latin).alias("latin_share"),
            share(cjk).alias("cjk_share")]


#: sentence-boundary sentinel: a printable rare code point (SYMBOL FOR
#: UNIT SEPARATOR) both engines can emit in a regex replacement —
#: RE2 has no lookbehind, so the shared-twin split must be two-phase
#: (mark boundaries, then split on the mark).
_SENT_SEP = "␟"


def split_sentences(df: DataFrame, id_col: str,
                    text_col: str) -> DataFrame:
    """Sentence segmentation into a long relation — the unit the
    bitext-mining / readability / repetition passes want below the
    paragraph: one row per sentence with its 1-based index and a
    cheap per-sentence word count. Boundaries are terminal-punct runs
    (``[.!?]+``) followed by whitespace — the deterministic
    regex-splittable subset (no abbreviation model; "Dr. Smith"
    splits — documented; identical in Java regex and RE2, which is
    why there is no lookbehind here); the terminal run stays attached
    to its sentence. Trailing text without terminal punctuation is a
    sentence; empty/NULL documents produce no rows.

    Output: ``(id, sent_idx, sentence, n_words)``. One
    mark-and-split + posexplode projection — zero shuffles at any
    corpus size.
    """
    marked = F.regexp_replace(F.col(text_col), rf"([.!?]+){WS_RUN}",
                              "$1" + _SENT_SEP)
    parts = F.split(marked, _SENT_SEP)
    out = (df.select(F.col(id_col),
                     F.posexplode(parts).alias("__i", "__s"))
           .select(F.col(id_col), F.col("__i"),
                   F.trim(F.col("__s")).alias("sentence"))
           .filter(F.col("sentence") != ""))
    return (out.select(F.col(id_col),
                       (F.col("__i") + 1).cast("bigint")
                       .alias("sent_idx"), "sentence")
            .withColumn(
                "n_words",
                F.regexp_count(simple_lower(F.col("sentence")),
                               F.lit("[a-z0-9_]+")).cast("bigint")))


#: punctuation fold: typographic variants -> ASCII (1:1 via translate;
#: exported for the SQL twin). Curly quotes, dashes, exotic spaces,
#: bullets - written as escapes so no invisible char hides in source.
PUNCT_FOLD_FROM = ("\u2018\u2019\u201a\u201b"   # curly single
                   "\u201c\u201d\u201e\u201f"   # curly double
                   "\u2013\u2014\u2015\u2012"   # dashes
                   "\u00a0\u2002\u2003\u2009\u200a"  # spaces
                   "\u2022\u00b7")                # bullets
PUNCT_FOLD_TO = "''''" + '"' * 4 + '----' + ' ' * 5 + '--'
assert len(PUNCT_FOLD_FROM) == len(PUNCT_FOLD_TO), \
    (len(PUNCT_FOLD_FROM), len(PUNCT_FOLD_TO))

#: length-changing expansions (applied AFTER the translate, in order)
PUNCT_EXPANSIONS = (("\u2026", "..."), ("\u00e6", "ae"),
                    ("\u00c6", "AE"), ("\u0153", "oe"),
                    ("\u0152", "OE"), ("\u00df", "ss"),
                    ("\ufb01", "fi"), ("\ufb02", "fl"))


def normalize_punct(col: Column) -> Column:
    """Typographic-punctuation normalization - the cleanup BEFORE
    tokenization that makes curly-quoted web text and its
    straight-quoted duplicate hash the same: curly quotes / dashes /
    exotic spaces / bullets fold 1:1 via translate; ellipsis and
    the Latin ligatures (ae oe ss fi fl) expand via chained
    replace (the length-changing cases ascii_fold
    deliberately leaves alone). Both pieces exist verbatim in ANSI
    SQL; tables exported (PUNCT_FOLD_FROM/TO,
    PUNCT_EXPANSIONS) so the twin embeds identical literals.
    Zero-shuffle codegen projection."""
    out = F.translate(col, PUNCT_FOLD_FROM, PUNCT_FOLD_TO)
    for a, b in PUNCT_EXPANSIONS:
        out = F.replace(out, F.lit(a), F.lit(b))
    return out


def mojibake_stats(text: Column) -> list[Column]:
    """Encoding-damage panel: count the UTF-8 replacement char
    (U+FFFD - bytes already lost) and the classic UTF-8-read-as-
    Latin-1 double-encoding artifacts (U+00C3 + continuation-range
    char for a mangled 2-byte sequence, U+00E2 U+20AC pairs for
    mangled punctuation, stray U+00C2 before symbols). Returns
    columns [n_replacement, n_mojibake, mojibake_flag] to splat
    into a projection - the route-to-re-decode signal a web-crawl
    cleanup pass branches on. Same literal patterns in Java regex
    and RE2; zero shuffle."""
    n_rep = F.regexp_count(text, F.lit("\ufffd")).cast("bigint")
    pat = ("\u00c3[\u0080-\u00bf]"
           "|\u00e2\u20ac."
           "|\u00c2[\u00a0-\u00bf]")
    n_moj = F.regexp_count(text, F.lit(pat)).cast("bigint")
    return [n_rep.alias("n_replacement"), n_moj.alias("n_mojibake"),
            ((n_rep + n_moj) > 0).alias("mojibake_flag")]


def code_score(text: Column) -> list[Column]:
    """Code-vs-prose routing panel — the signal that sends a document
    to the code tokenizer/quality track instead of the prose one
    (every mixed web corpus needs the split before per-track
    cleaning): counts of code-ish markers computed with
    cross-engine-identical regexes, plus a [0,1] score.

    Markers: ``n_braces`` (``{};`` punctuation), ``n_keywords``
    (whole-token hits of a fixed keyword set: def/return/import/
    function/var/const/if/else/for/while/class/void/int/public),
    ``n_indented_lines`` (lines starting with 2+ spaces or a tab),
    ``n_assign`` (``=`` neighbored by identifier chars, excluding
    ``==``). ``score`` saturates each signal against the line count
    and averages — 6-digit rounded, NULL for empty docs. Zero-shuffle
    projection.
    """
    kw = ("def|return|import|function|var|const|if|else|for|while"
          "|class|void|int|public")
    n_braces = F.regexp_count(text, F.lit(r"[{};]")).cast("bigint")
    n_kw = F.regexp_count(
        simple_lower(text),
        F.lit(r"(^|[^a-z0-9_])(" + kw + r")($|[^a-z0-9_])"))\
        .cast("bigint")
    n_indent = F.regexp_count(text, F.lit(r"(?m)^(  |\t)"))\
        .cast("bigint")
    n_assign = F.regexp_count(text, F.lit(r"[a-zA-Z0-9_\]\)] ?=[^=]"))\
        .cast("bigint")
    # no coalesce: NULL text means NULL line count (no evidence), the
    # same NULL the other panel fields carry — a 0 here would diverge
    # from any SQL twin's len(string_split(NULL))
    n_lines = F.size(F.split(text, "\n")).cast("bigint")
    sat = lambda c: F.least(F.lit(1.0),
                            c.cast("double")
                            / F.greatest(n_lines, F.lit(1))
                            .cast("double"))
    score = F.when(F.length(text) > 0, F.round(
        (sat(n_braces) + sat(n_kw) + sat(n_indent) + sat(n_assign))
        / 4.0, 6))
    return [n_braces.alias("n_braces"), n_kw.alias("n_keywords"),
            n_indent.alias("n_indented_lines"),
            n_assign.alias("n_assign"), n_lines.alias("n_lines"),
            score.alias("code_score")]
