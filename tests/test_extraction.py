"""HTML -> training-text extraction (operators/extraction.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.operators import extraction


def test_strip_html_tags_kitchen_sink(spark):
    html = ('<html><head><script>var a = "<p>not text</p>";</script>'
            '<style>.x { color: red }</style></head><body>'
            '<!-- comment with <b>markup</b> -->'
            '<P CLASS="big">Hello &amp; welcome to &lt;Spark&gt;,'
            '&nbsp;&quot;world&quot; &#39;ok&#39;</p>\n'
            '<br/><div>  spaced   out  </div></body></html>')
    df = spark.createDataFrame([(1, html)], ["i", "h"])
    got = df.select(extraction.strip_html_tags(F.col("h")).alias("t")) \
        .first().t
    assert got == 'Hello & welcome to <Spark>, "world" \'ok\' spaced out'


# ------------------------------------------------------------- link extraction

def test_extract_links_quotes_positions_and_scheme_gate(spark):
    from zacks_estimates_financial_statements_spark.operators import extraction
    page = ('<a href="https://a.com/1">x</a>'
            '<a href="mailto:u@v.w">m</a>'
            "<A title='t' HREF='HTTP://b.org/2/'>y</A>"
            '<a href="/relative">r</a>'
            '<a href="javascript:void(0)">j</a>')
    df = spark.createDataFrame([(1, page), (2, "<p>no links</p>"),
                                (3, None)],
                               "doc_id bigint, page string")
    out = extraction.extract_links(df, "doc_id", "page")
    rows = sorted((r["doc_id"], r["link_pos"], r["url"],
                   r["canonical_url"]) for r in out.collect())
    # doc 1: dq matches are [https://a.com/1, mailto(drop), /relative?
    # no - /relative IS dq pos 3 but dropped by the scheme gate,
    # javascript dq pos 4 dropped]; sq match HTTP://b.org/2/ is pos 5
    assert rows == [
        (1, 1, "https://a.com/1", "https://a.com/1"),
        (1, 5, "HTTP://b.org/2/", "http://b.org/2"),
    ]


def test_extract_links_attribute_name_boundary(spark):
    """Attribute names merely ENDING in 'href' (data-href, xhref) must
    NOT emit links; a real href after such an attribute still must."""
    from zacks_estimates_financial_statements_spark.operators import extraction
    page = ('<a data-href="https://fake.com/1">f</a>'
            '<a xhref="https://fake.com/2">f</a>'
            '<a data-href="https://fake.com/3" href="https://real.com/a">'
            "r</a>"
            "<a class='m' href='https://real.com/b'>r</a>"
            '<a href="https://real.com/c">r</a>')
    df = spark.createDataFrame([(1, page)], "doc_id bigint, page string")
    out = extraction.extract_links(df, "doc_id", "page")
    assert sorted(r["url"] for r in out.collect()) == [
        "https://real.com/a", "https://real.com/b", "https://real.com/c"]


# ------------------------------------------------------------ table extraction

def test_extract_tables_positions_nesting_and_text(spark):
    from zacks_estimates_financial_statements_spark.operators import extraction
    page = ("<table><thead><tr><th> A </th><th>B</th></tr></thead>"
            "<tbody><tr><td>1</td><td><b>2</b>x</td></tr></tbody></table>"
            "<p>between</p>"
            "<table><tr><td>only</td>"
            "<td><table><tr><td>nested</td></tr></table></td></tr></table>")
    df = spark.createDataFrame([(1, page), (2, "<p>no tables</p>"),
                                (3, None)],
                               "doc_id bigint, page string")
    got = sorted((r["doc_id"], r["table_idx"], r["row_idx"],
                  r["col_idx"], r["cell"])
                 for r in extraction.extract_tables(
                     df, "doc_id", "page").collect())
    assert got == [
        (1, 1, 1, 1, "A"), (1, 1, 1, 2, "B"),       # thead th, trimmed
        (1, 1, 2, 1, "1"), (1, 1, 2, 2, "2x"),      # nested-inline text
        (1, 2, 1, 1, "only"),
        (1, 2, 1, 2, "nested"),  # outer cell text includes the inner
        (1, 3, 1, 1, "nested"),  # the nested table is its own table 3
    ]
