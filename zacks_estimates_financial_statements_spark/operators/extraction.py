"""HTML → training-text extraction for web corpora.

Crawl deliveries are HTML; training text is what's left after stripping
markup and navigation boilerplate. ``strip_html_tags`` does it with
pure native expressions (script/style/comment removal, tag strip,
common-entity decode, whitespace collapse): a zero-shuffle codegen
projection at any corpus size, and closed-form in ANSI SQL for the
DuckDB oracle twin.

All regex patterns are restricted to constructs with identical
semantics in Java regex (Spark) and RE2 (DuckDB): inline flags,
non-greedy repetition, character classes — no backreferences (RE2 has
none), which is why script and style blocks strip with separate
literal-tag patterns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from zacks_estimates_financial_statements_spark.functions.text import WS_CHARS, WS_RUN

#: entity decode table — the half-dozen entities that dominate real
#: HTML; `&amp;` must decode LAST or `&amp;lt;` would double-decode
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"))



#: Cross-engine HTML pattern pieces (r11 Unicode contract fuzz).
#: Three Java-vs-RE2 hazards force the tag patterns to be spelled
#: explicitly on BOTH engines:
#:   - ``(?i)`` — RE2 case-folds the FULL Unicode simple-fold set
#:     (U+017F ſ matches [sS], so RE2 strips a smuggled <ſcript> block
#:     where Java leaves it), so tag-name case-insensitivity is pinned
#:     to per-letter ASCII classes, which is also the HTML spec's rule;
#:   - ``\b`` — Java's word boundary is Unicode-aware while RE2's is
#:     ASCII (``<scripté src=..>`` has a boundary after "script" only
#:     in RE2), so the name boundary is the explicit ASCII-non-word
#:     class;
#:   - ``\s`` — Java includes U+000B, RE2 does not (``text.WS_CHARS``).
_WSC = f"[{WS_CHARS}]"


def _ci(word: str) -> str:
    """Per-letter ASCII case-insensitive class: 'ab1' -> '[aA][bB]1'.

    Non-alpha characters are regex-escaped (r12, ADVICE): Python's
    ``re.escape`` only escapes ASCII punctuation, and the escaped form
    of every ASCII metachar is identical in Java and RE2, so the
    helper is safe for arbitrary literal words, not just ``[a-z]+``."""
    import re as _re
    return "".join(f"[{c}{c.upper()}]" if c.isalpha() else _re.escape(c)
                   for c in word.lower())


def _tag_block_re(tag: str) -> str:
    """Dotall pattern for an entire <tag ...>...</tag> block with
    ASCII-pinned case-insensitivity and name boundary (see above)."""
    t = _ci(tag)
    return (rf"(?s)<{t}(>|[^>A-Za-z0-9_][^>]*>)"
            rf".*?</{t}{_WSC}*>")


SCRIPT_BLOCK_RE = _tag_block_re("script")
STYLE_BLOCK_RE = _tag_block_re("style")

#: absolute http(s) URL gate, ASCII-pinned (RE2's (?i) would also
#: accept "httpſ://" — ſ case-folds to s — where Java would not)
HTTP_SCHEME_RE = rf"^{_ci('http')}{_ci('s')}?://"

#: <a ... href="..."> matchers, double- and single-quoted
HREF_DQ_RE = (rf"<{_ci('a')}{_WSC}(?:[^>]*[{WS_CHARS}'\"])?"
              rf"{_ci('href')}{_WSC}*={_WSC}*\"([^\"]+)\"")
HREF_SQ_RE = (rf"<{_ci('a')}{_WSC}(?:[^>]*[{WS_CHARS}'\"])?"
              rf"{_ci('href')}{_WSC}*={_WSC}*'([^']+)'")


def strip_html_tags(col: Column) -> Column:
    """Markup-free text of an HTML string: script/style/comment blocks
    removed, every tag replaced by a space, common entities decoded,
    whitespace collapsed and trimmed. Pure expression — compose inside
    any projection."""
    x = F.regexp_replace(col, SCRIPT_BLOCK_RE, " ")
    x = F.regexp_replace(x, STYLE_BLOCK_RE, " ")
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", " ")
    x = F.regexp_replace(x, r"(?s)<[^>]*>", " ")
    for ent, ch in _ENTITIES:
        x = F.regexp_replace(x, ent, ch)
    return F.trim(F.regexp_replace(x, WS_RUN, " "))


def extract_links(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Outbound-link extraction from HTML — the crawl-frontier /
    link-graph feeder (the edge source for ``graph.pagerank``'s quality
    prior and for ``curation.domain_quota``'s host accounting).

    Hrefs are pulled with two RE2∩Java-safe passes (double-quoted then
    single-quoted attribute values — alternation with per-quote groups
    would need a second capture group, which ``regexp_extract_all``
    cannot select per-match), concatenated in that order, and
    positions assigned by ``posexplode`` — so ``link_pos`` is 1-based
    over "all double-quoted matches in document order, then all
    single-quoted". Only absolute http(s) URLs survive (mailto:,
    javascript:, relative paths drop); each survivor also gets
    ``functions.web.canonical_url``'s normal form, ready for host
    grouping and URL-level dedup.
    One zero-shuffle projection + explode — token-linear in page
    bytes, no DOM construction, no UDF.

    Output: ``(id, link_pos, url, canonical_url)``.
    """
    from zacks_estimates_financial_statements_spark.functions import web

    # (?:[^>]*[\s'"])? — the attribute NAME needs a boundary before it,
    # or `data-href=`/`xhref=` (names merely ENDING in href) would emit
    # false-positive edges into the link graph. A real href is either
    # the first attribute (immediately after `<a\s`) or preceded by
    # whitespace / a closing quote of the previous attribute value.
    dq = F.regexp_extract_all(
        F.col(html_col),
        F.lit(HREF_DQ_RE),
        F.lit(1))
    sq = F.regexp_extract_all(
        F.col(html_col),
        F.lit(HREF_SQ_RE),
        F.lit(1))
    return (df.select(F.col(id_col),
                      F.posexplode_outer(F.concat(dq, sq))
                      .alias("__p", "url"))
            .filter(F.col("url").rlike(HTTP_SCHEME_RE))
            .select(F.col(id_col), (F.col("__p") + 1).alias("link_pos"),
                    "url")
            .withColumn("canonical_url", web.canonical_url(F.col("url"))))


def extract_tables(df: DataFrame, id_col: str,
                   html_col: str) -> DataFrame:
    """Generic HTML table extraction — every cell of every
    ``<table>`` as a long relation ``(id, table_idx, row_idx,
    col_idx, cell)``: the structured-data feeder for table-QA /
    table-to-text training corpora, generalizing the reference's
    positional financial-statement cell lookups (parse/html.py's
    sxpath walk, SURVEY §2.3 T1/T5-T7) to arbitrary pages.

    Semantics (deterministic, engine-independent):
    - ``table_idx``: 1-based over ALL ``<table>`` nodes in document
      (depth-first) order — a nested table gets its OWN index;
    - ``row_idx``: 1-based over the table's own ``<tr>`` rows in
      document order across thead/tbody/tfoot, excluding rows of
      nested tables;
    - ``col_idx``: 1-based over the row's direct ``<td>``/``<th>``
      children;
    - ``cell``: whitespace-trimmed concatenated descendant text.

    One bounded Arrow-batched ``mapInPandas`` projection over the
    same lenient stdlib DOM the estimate/statement parsers use — no
    shuffle, the DOM never leaves the executor; pages that fail to
    parse contribute zero rows (the parser is lenient enough that
    only NULL input does).
    """
    from zacks_estimates_financial_statements_spark import util

    spark = df.sparkSession
    util.ensure_package_on_executors(spark)
    # integral ids ride as strings (util.pandas_safe_id, r12)
    df, id_type, restore = util.pandas_safe_id(df, id_col)
    schema = (f"{id_col} {id_type}, table_idx int, row_idx int, "
              f"col_idx int, cell string")

    def extract_batches(batches):
        import pandas as pd

        from zacks_estimates_financial_statements_spark.parse.html import Node, parse_html

        def own_rows(tbl):
            out = []

            def walk(node):
                for c in node.children:
                    if isinstance(c, Node):
                        if c.tag == "table":
                            continue  # nested table boundary
                        if c.tag == "tr":
                            out.append(c)
                        else:
                            walk(c)
            walk(tbl)
            return out

        for pdf in batches:
            ids, t_i, r_i, c_i, cells = [], [], [], [], []
            for rid, page in zip(pdf[id_col], pdf[html_col]):
                if page is None:
                    continue
                root = parse_html(str(page))
                for ti, tbl in enumerate(root.descendants("table"), 1):
                    for ri, tr in enumerate(own_rows(tbl), 1):
                        ci = 0
                        for cell in tr.child_elems():
                            if cell.tag not in ("td", "th"):
                                continue
                            ci += 1
                            ids.append(rid)
                            t_i.append(ti)
                            r_i.append(ri)
                            c_i.append(ci)
                            cells.append(cell.text().strip())
            yield pd.DataFrame({id_col: ids, "table_idx": t_i,
                                "row_idx": r_i, "col_idx": c_i,
                                "cell": cells})

    return restore(df.select(id_col, html_col)
                   .mapInPandas(extract_batches, schema))
