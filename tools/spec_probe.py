"""Clean-input SPEC probe for the mirrored oracle twins.

Several twins stopped being independent derivations in r11 — they
MIRROR the Spark implementation step-for-step (`_canon_url_ctes` /
`_url_host_sql` re-state ``web.canonical_url``; ``ORACLE_HTML_TO_TEXT``
interpolates ``extraction.SCRIPT/STYLE_BLOCK_RE`` verbatim) because a
fuzzed value can move the host/path boundary, which no closed form
survives. The cost (ADVICE r11): a shared spec bug would pass both
engines undetected.

This probe restores the spec leg: hand-computed expected values on
CLEAN synthetic input, evaluated on the live SparkSession before every
oracle battery (``tools/oracle_check.py`` calls ``run(spark)`` first,
so ``contract_fuzz`` inherits it). Expected strings below are derived
from the documented spec (RFC 3986 normalization + the repo's
tracking-param/www/port/slash rules and the HTML strip contract), NOT
by running the pipeline — edit them only with a spec argument.

Standalone: python tools/spec_probe.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (raw url, expected canonical) — hand-computed from the spec:
# scheme+host lower (ASCII-only, RFC 4343), leading www. strip, default
# port strip, fragment strip, tracking params strip (utm_*, gclid,
# fbclid, ...), remaining query keys sorted, TRAILING slash run strip
# (interior duplicate slashes are content and survive — matching the
# committed CASES in tests/test_web.py), bare host gets '/'. Path CASE
# and non-default ports are content-significant and survive.
URL_CASES = [
    ("HTTPS://WWW.Spec.Example.COM:443/A/B/?utm_source=s&m=2&k=1#f",
     "https://spec.example.com/A/B?k=1&m=2"),
    ("http://Probe.TEST:80//x//y/", "http://probe.test//x//y"),
    ("https://probe.test", "https://probe.test/"),
    ("https://probe.test:9443/Keep?gclid=g&z=9&a=0",
     "https://probe.test:9443/Keep?a=0&z=9"),
    # ASCII-only host lowering: the non-ASCII İ must NOT fold
    ("http://İdn.example.com/p", "http://İdn.example.com/p"),
]

# (html, expected visible text) for the script/style strip contract:
# whole <script>/<style> blocks vanish (ASCII-case-insensitively, with
# an explicit ASCII-non-word name boundary), every other tag drops,
# entities decode (&amp; last), whitespace collapses.
HTML_CASES = [
    ('<p>keep</p><SCRIPT src="x">var a=1;</SCRIPT><style>p{}</style>'
     "<b>me</b>", "keep me"),
    # <scripté> has no ASCII-whitespace-suffixed </script> close, so no
    # block match: its tags strip like unknown tags, its body survives
    ("<p>a</p><scripté>body</scripté>&amp;<i>b</i>", "a body & b"),
    ("x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;&amp;lt; y",
     "x <tag> \"q\" 's' &lt; y"),
]


def run(spark) -> list[str]:
    """Evaluate the probe grid; return a list of failure strings."""
    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.functions import web
    from zacks_estimates_financial_statements_spark.operators import (
        extraction,
    )

    fails: list[str] = []
    udf = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(URL_CASES)], ["i", "u"])
    got = {r.i: r.c for r in udf.select(
        "i", web.canonical_url(F.col("u")).alias("c")).collect()}
    for i, (raw, want) in enumerate(URL_CASES):
        if got[i] != want:
            fails.append(f"canonical_url({raw!r}) = {got[i]!r}, "
                         f"spec says {want!r}")

    hdf = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(HTML_CASES)], ["i", "h"])
    hgot = {r.i: r.t for r in hdf.select(
        "i", extraction.strip_html_tags(F.col("h")).alias("t")).collect()}
    for i, (html, want) in enumerate(HTML_CASES):
        if hgot.get(i) != want:
            fails.append(f"html_to_text({html!r}) = {hgot.get(i)!r}, "
                         f"spec says {want!r}")
    return fails


def main() -> int:
    import bench

    fails = run(bench.session())
    for f in fails:
        print("SPEC FAIL", f)
    print(f"spec_probe: {len(URL_CASES) + len(HTML_CASES) - len(fails)}"
          f"/{len(URL_CASES) + len(HTML_CASES)} OK")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
