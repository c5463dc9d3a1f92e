"""Cross-engine Unicode contracts (round-11 contract fuzz,
``tools/contract_fuzz.py --unicode-rate``): adversarial non-ASCII
content spliced into string values — the sizing recon flagged 40/149
queries before the fixes these tests pin.

The round-11 engine probes (exhaustive per-codepoint case-mapping diff
plus function-level checks) isolated four divergence classes between
Spark (Java/ICU semantics) and the DuckDB twins (utf8proc/RE2):

1. CASEFOLD — Java ``lower()`` applies the Unicode FULL mapping,
   utf8proc the SIMPLE one. U+0130 (İ) is the only codepoint whose
   projections into ``[a-z0-9_]`` differ ('i'+U+0307 vs 'i'), so every
   token grammar pins the simple mapping via ``text.simple_lower``
   (translate İ→i first). URL parts instead pin ASCII-only lowering
   (``text.ascii_lower``, RFC 3986/4343 — full-Unicode lowering of a
   hostname is wrong anyway and diverges on ~70 version-skew
   codepoints).
2. WHITESPACE — Java ``\\s`` contains U+000B (VT), RE2's does not, so
   ``\\s`` never appears in a shared pattern; both sides embed
   ``text.WS_CHARS`` = space TAB LF VT FF CR. NEL/NBSP/ZWSP are NOT
   whitespace on either engine.
3. CASE-INSENSITIVE REGEX — RE2 ``(?i)`` folds the full Unicode
   simple-fold set (U+017F ſ matches [sS]); Java's folds ASCII only.
   HTML tag/scheme patterns pin per-letter ASCII classes (also the
   HTML spec's rule) and drop ``\\b`` (Java's is Unicode-aware, RE2's
   ASCII) for an explicit ASCII-non-word boundary
   (``extraction.SCRIPT_BLOCK_RE`` and friends).
4. EDIT DISTANCE — Spark ``levenshtein`` counts codepoints, DuckDB
   bytes. Linkage distance is therefore defined over
   ``linkage.linkage_key`` (ascii_fold → printable-ASCII projection);
   empty projections are unlinkable (the NULL-key contract's sibling).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions import text as T
from zacks_estimates_financial_statements_spark.functions import web
from zacks_estimates_financial_statements_spark.operators import (
    extraction,
    linkage,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


# --- class 1: casefold -----------------------------------------------------

def test_simple_lower_pins_dotted_capital_i(spark):
    # Java full mapping would give 'i' + U+0307 (two codepoints, which
    # the token split then cuts); the pinned simple mapping gives plain
    # 'i', matching DuckDB
    assert _one(spark, T.simple_lower(F.lit("İstanbul"))) == "istanbul"


def test_word_tokens_keep_istanbul_whole(spark):
    toks = _one(spark, F.array_remove(T.word_tokens(F.lit("İstanbul ok")), ""))
    assert toks == ["istanbul", "ok"]


def test_normalize_text_istanbul(spark):
    assert _one(spark, T.normalize_text(F.lit("İstanbul!"))) == "istanbul"


def test_ascii_lower_leaves_non_ascii_alone(spark):
    # RFC contract: only A-Z fold; İ and version-skew codepoints pass
    # through untouched (full lower() would rewrite them differently
    # per engine)
    assert _one(spark, T.ascii_lower(F.lit("WWW.İxⱯ𐕰.COM"))) == "www.İxⱯ𐕰.com"


def test_url_host_ascii_only_case_fold(spark):
    host = _one(spark, web.url_host(F.lit("HTTPS://WWW.İx.Example.COM:443/p")))
    assert host == "İx.example.com"


# --- class 2: whitespace ---------------------------------------------------

def test_vt_counts_as_whitespace_nel_nbsp_do_not(spark):
    # VT splits tokens; NEL (U+0085) and NBSP (U+00A0) do not — the
    # pinned WS_CHARS set, identical to what the SQL twins embed
    assert _one(spark, T.whitespace_token_count(F.lit("a\x0bb"))) == 2
    assert _one(spark, T.whitespace_token_count(F.lit("a\x85b c\xa0d"))) == 2


def test_token_regex_vt_is_not_a_symbol_token(spark):
    # VT must not surface as a symbol token on either engine
    assert _one(spark, T.regex_token_count(F.lit("a\x0bb"))) == 2
    assert _one(spark, T.regex_token_count(F.lit("a\x85b"))) == 3  # NEL is a symbol


def test_ws_chars_literal_is_the_java_set(spark):
    # the class itself: exactly space TAB LF VT FF CR
    import re
    cls = re.compile(f"[{T.WS_CHARS}]")
    assert {c for c in map(chr, range(0x200)) if cls.match(c)} == \
        set(" \t\n\x0b\f\r")


# --- class 3: case-insensitive regex / tag boundaries ----------------------

def test_script_block_ascii_case_only(spark):
    out = _one(spark, extraction.strip_html_tags(
        F.lit("<SCRIPT>x</SCRIPT><ſcript>keep</ſcript>ok")))
    # real script block stripped; the ſ homoglyph tag is NOT folded
    # into 'script' (RE2 would; the pinned ASCII classes match neither
    # engine's folding) — its angle brackets still strip as plain tags
    assert "x" not in out and "keep" in out and "ok" in out


def test_script_boundary_is_ascii_non_word(spark):
    # Java \b would treat é as a word char and refuse the boundary;
    # the explicit class matches both engines
    out = _one(spark, extraction.strip_html_tags(
        F.lit('<scripté>no</script>text<script src="u">y</script>end')))
    assert "text" in out and "end" in out and "y" not in out


def test_link_extract_scheme_gate_is_ascii(spark):
    df = spark.createDataFrame(
        [(1, '<a href="HTTPS://h.com/x">a</a><a href="httpſ://h.com/y">b</a>')],
        "id bigint, page string")
    urls = [r["url"] for r in
            extraction.extract_links(df, "id", "page").collect()]
    assert urls == ["HTTPS://h.com/x"]  # ſ-scheme must NOT pass the gate


# --- class 4: edit distance over the ASCII projection ----------------------

def test_linkage_key_projection(spark):
    # fold first (é→e), then strip the rest
    assert _one(spark, linkage.linkage_key(F.lit("Crème 😀Brûlée"))) == \
        "Creme Brulee"


def test_fuzzy_join_multibyte_edit_counts_once(spark):
    # deleting a 2-byte char is ONE edit in the pinned (normalized)
    # metric; DuckDB's byte levenshtein over the raw keys would say 2
    left = spark.createDataFrame([("ab😀cd",)], "k string")
    right = spark.createDataFrame([("abcd",)], "r string")
    out = linkage.fuzzy_join(left, right, "k", "r",
                             max_dist=1).collect()
    # '😀' is stripped by the projection: normalized keys are equal
    assert len(out) == 1 and out[0]["dist"] == 0


def test_mixture_plan_zero_token_stratum_is_null_not_crash(spark):
    # high-rate dial interaction (r11): a fuzzed `source` mints
    # singleton strata; combined with an emptied text the stratum holds
    # 0 tokens — repeat_factor/sample_rate are NULL, not an ANSI
    # divide-by-zero abort
    from zacks_estimates_financial_statements_spark.operators import curation
    df = spark.createDataFrame(
        [(1, "a", "three words here"), (2, "İb", "")],
        "id bigint, source string, text string")
    rows = {r["source"]: r for r in curation.mixture_plan(
        df, "source", "text", {"a": 1.0}).collect()}
    assert rows["İb"]["repeat_factor"] is None
    assert rows["İb"]["sample_rate"] is None
    assert rows["a"]["sample_rate"] == 1.0


def test_fuzzy_join_empty_projection_exact_tier(spark):
    # r12 (ADVICE): all-non-ASCII keys carry no cross-engine DISTANCE,
    # but exact raw equality is engine-agnostic — identical CJK keys
    # link at dist 0; near-but-unequal CJK keys still do not link.
    left = spark.createDataFrame(
        [("中文",), ("中文字",), ("abc",)], "k string")
    right = spark.createDataFrame(
        [("中文",), ("кирил",), ("abc",)], "r string")
    out = linkage.fuzzy_join(left, right, "k", "r",
                             max_dist=2).collect()
    got = sorted((r["k"], r["r"], r["dist"]) for r in out)
    # 中文字 is one edit from 中文 but has no ASCII projection → no
    # distance tier for it; кирил matches nothing
    assert got == [("abc", "abc", 0), ("中文", "中文", 0)]


def test_fuzzy_join_empty_raw_key_stays_unlinkable(spark):
    # the NULL/empty-key contract survives the r12 exact tier: raw ''
    # on both sides must NOT self-link (a corpus-scale '' bucket would
    # be quadratic and '' is "no key", like NULL)
    left = spark.createDataFrame([("",), (None,)], "k string")
    right = spark.createDataFrame([("",), (None,)], "r string")
    assert linkage.fuzzy_join(left, right, "k", "r",
                              max_dist=2).count() == 0
