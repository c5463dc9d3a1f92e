from __future__ import annotations

from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions import web

CASES = [
    # (raw, canonical, host)
    ("HTTPS://WWW.Example.COM:443/Docs/?utm_source=x&b=2&a=1#frag",
     "https://example.com/Docs?a=1&b=2", "example.com"),
    ("http://example.com:80/a/b//", "http://example.com/a/b",
     "example.com"),
    ("http://example.com", "http://example.com/", "example.com"),
    # non-default port is content-significant and survives
    ("https://example.com:8443/x", "https://example.com:8443/x",
     "example.com"),
    # only the LEADING www. strips
    ("http://www.sub.www.example.com/x?", "http://sub.www.example.com/x",
     "sub.www.example.com"),
    ("https://example.com/?gclid=abc&fbclid=d&mc_cid=e",
     "https://example.com/", "example.com"),
    ("https://example.com/p?z=1&y=2&x=3",
     "https://example.com/p?x=3&y=2&z=1", "example.com"),
    # path case is preserved, host case is not
    ("HTTP://EXAMPLE.com/CaseSensitive/Path",
     "http://example.com/CaseSensitive/Path", "example.com"),
]


def test_canonical_url_and_host(spark):
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _, _) in enumerate(CASES)], ["i", "u"])
    rows = {r.i: (r.c, r.h) for r in df.select(
        "i", web.canonical_url(F.col("u")).alias("c"),
        web.url_host(F.col("u")).alias("h")).collect()}
    for i, (raw, canon, host) in enumerate(CASES):
        assert rows[i] == (canon, host), raw


def test_content_significant_ref_survives_default_strip(spark):
    """Bare ``ref`` frequently selects content (?ref=branch on code
    hosts) — the strip set must keep it so distinct resources don't
    collapse."""
    df = spark.createDataFrame(
        [(1, "https://host.com/repo?ref=main&utm_source=x"),
         (2, "https://host.com/repo?ref=dev")], ["i", "u"])
    default = {r.i: r.c for r in df.select(
        "i", web.canonical_url(F.col("u")).alias("c")).collect()}
    assert default[1] == "https://host.com/repo?ref=main"
    assert default[2] == "https://host.com/repo?ref=dev"


def test_url_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "https://www.a.com/x?utm_source=t"),
         (2, "HTTPS://A.COM/x"),
         (3, "https://a.com:443/x/"),
         (4, "https://a.com/y")], ["doc_id", "url"])
    rows = {r.doc_id: r for r in
            web.url_dedup(df, "doc_id", "url").collect()}
    assert all(rows[i].canonical_url == "https://a.com/x"
               for i in (1, 2, 3))
    assert [rows[i].keep for i in (1, 2, 3, 4)] == \
        [True, False, False, True]
    assert [rows[i].n_variants for i in (1, 2, 3, 4)] == [3, 3, 3, 1]


def test_canonical_url_idempotent_on_grid(spark):
    """canonical(canonical(u)) == canonical(u) across a combinatorial
    grid of messy-URL features — idempotence is what makes the
    canonical form safe to store and re-process."""
    import itertools

    schemes = ["http", "HTTPS"]
    wwws = ["", "www.", "WWW."]
    hosts = ["Example.COM", "sub.site.org:443", "site.org:8080"]
    paths = ["", "/", "/A/b", "/A/b/", "/x//"]
    queries = ["", "?utm_source=x", "?b=2&a=1", "?a=1&utm_medium=m&z=9"]
    frags = ["", "#top"]
    urls = ["{}://{}{}{}{}{}".format(s, w, h, p, q, f)
            for s, w, h, p, q, f in itertools.product(
                schemes, wwws, hosts, paths, queries, frags)]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               ["i", "u"])
    once = df.select("i", web.canonical_url(F.col("u")).alias("c1"))
    twice = once.select("i", "c1",
                        web.canonical_url(F.col("c1")).alias("c2"))
    bad = twice.filter(F.col("c1") != F.col("c2")).collect()
    assert bad == [], [(r.c1, r.c2) for r in bad[:5]]


def test_canonical_url_schemeless_passthrough(spark):
    df = spark.createDataFrame(
        [(1, "Example.COM/A/b/?b=2&a=1#f"), (2, "www.site.org/x")],
        ["i", "u"])
    got = {r.i: r.c for r in df.select(
        "i", web.canonical_url(F.col("u")).alias("c")).collect()}
    # no bare '://' prefix, host rules still apply
    assert got[1] == "example.com/A/b?a=1&b=2"
    assert got[2] == "site.org/x"
    # idempotent on its own output
    again = {r.i: r.c2 for r in df.select(
        "i", web.canonical_url(web.canonical_url(F.col("u")))
        .alias("c2")).collect()}
    assert again == got


# ----------------------------------------------------------------- url filter

def test_url_filter_suffix_semantics_and_patterns(spark):
    from zacks_estimates_financial_statements_spark.functions import web

    rows = [(1, "https://sub.evil.com/x"),       # suffix-blocked
            (2, "https://evil.com/y"),           # exact-blocked
            (3, "https://notevil.com/z"),        # boundary: NOT blocked
            (4, "https://ok.org/casino/slots"),  # pattern-blocked
            (5, "https://deep.sub.evil.com/q"),  # longest suffix wins
            (6, "https://fine.org/page")]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    bd = spark.createDataFrame([("evil.com",), ("sub.evil.com",)],
                               "domain string")
    out = {r["doc_id"]: r for r in web.url_filter(
        df, "doc_id", "url", bd,
        blocked_patterns=(r"/casino/", r"/slots")).collect()}
    assert len(out) == 6
    assert out[1]["matched_domain"] == "sub.evil.com"
    assert out[2]["matched_domain"] == "evil.com"
    assert out[3]["matched_domain"] is None and out[3]["keep"]
    assert out[4]["matched_pattern"] == "/casino/"  # first match wins
    assert out[5]["matched_domain"] == "sub.evil.com"  # longest suffix
    assert out[6]["keep"]
    assert not any(out[d]["keep"] for d in (1, 2, 4, 5))
    # r12 tier parity: the sequence form (literal when-chain, zero
    # joins) and the DataFrame form (broadcast suffix join) must agree
    # row-for-row
    lit = {r["doc_id"]: r for r in web.url_filter(
        df, "doc_id", "url", ("evil.com", "sub.evil.com"),
        blocked_patterns=(r"/casino/", r"/slots")).collect()}
    for d in out:
        assert tuple(out[d]) == tuple(lit[d]), d


def test_url_filter_literal_tier_size_cap(spark, monkeypatch):
    # r13 (ADVICE): a sequence larger than the literal-tier cap must
    # auto-convert to the relation tier instead of building a
    # million-node when-chain. Shrink the cap so the test exercises
    # the reroute without a huge list.
    from zacks_estimates_financial_statements_spark.functions import web

    monkeypatch.setattr(web, "_URL_FILTER_LITERAL_MAX", 3)
    df = spark.createDataFrame([(1, "https://sub.evil.com/x"),
                                (2, "https://fine.org/page")],
                               "doc_id bigint, url string")
    big = ("evil.com", "a.com", "b.com", "c.com", "d.com")
    out = {r["doc_id"]: r for r in
           web.url_filter(df, "doc_id", "url", big).collect()}
    assert out[1]["matched_domain"] == "evil.com" and not out[1]["keep"]
    assert out[2]["keep"]


def test_url_filter_domains_optional(spark):
    from zacks_estimates_financial_statements_spark.functions import web

    df = spark.createDataFrame([(1, "https://a.org/bad"),
                                (2, "https://a.org/good")],
                               "doc_id bigint, url string")
    out = {r["doc_id"]: r for r in web.url_filter(
        df, "doc_id", "url", blocked_patterns=(r"/bad$",)).collect()}
    assert not out[1]["keep"] and out[2]["keep"]


# -------------------------------------------------------- politeness schedule

def test_politeness_schedule_recurrence(spark):
    from zacks_estimates_financial_statements_spark.functions import web

    # arrivals (seconds): 0, 1, 2, 30 on one host -> scheduled 0, 10,
    # 20, 30; a second host is independent.
    rows = [("a", 1, "2024-01-01 00:00:00"), ("a", 2, "2024-01-01 00:00:01"),
            ("a", 3, "2024-01-01 00:00:02"), ("a", 4, "2024-01-01 00:00:30"),
            ("b", 5, "2024-01-01 00:00:01")]
    df = spark.createDataFrame(rows, "host string, id bigint, ts string")
    out = {r["id"]: r for r in web.politeness_schedule(
        df, "host", "id", "ts", interval_sec=10).collect()}
    base = out[1]["arrival_us"]
    assert [out[i]["sched_us"] - base for i in (1, 2, 3, 4)] == \
        [0, 10_000_000, 20_000_000, 30_000_000]
    assert out[2]["wait_us"] == 9_000_000
    assert out[4]["wait_us"] == 0            # gap big enough: no delay
    assert out[5]["wait_us"] == 0            # other key independent
    assert [out[i]["position"] for i in (1, 2, 3, 4)] == [0, 1, 2, 3]


def test_politeness_schedule_matches_sequential_replay(spark):
    from zacks_estimates_financial_statements_spark.functions import web
    import random

    rng = random.Random(7)
    rows = [("h", i, f"2024-01-01 00:00:{rng.randrange(60):02d}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "host string, id bigint, ts string")
    got = sorted(web.politeness_schedule(df, "host", "id", "ts", 3.0)
                 .collect(), key=lambda r: r["position"])
    sched = None
    for r in got:   # replay the sequential recurrence
        exp = r["arrival_us"] if sched is None else \
            max(r["arrival_us"], sched + 3_000_000)
        assert r["sched_us"] == exp
        sched = exp


def test_politeness_schedule_malformed_arrival_degrades_per_row(spark):
    """The NULL-arrival contract: a malformed timestamp (ANSI cast
    would abort the whole job) is dropped from the schedule; the
    remaining rows schedule exactly as if it were never there."""
    from zacks_estimates_financial_statements_spark.functions import web

    rows = [("a", 1, "2024-01-01 00:00:00"),
            ("a", 2, "2024-01-01 00:60:00"),   # minute 60 — unparseable
            ("a", 3, "not a timestamp"),
            ("a", 4, None),
            ("a", 5, "2024-01-01 00:00:01")]
    df = spark.createDataFrame(rows, "host string, id bigint, ts string")
    out = {r["id"]: r for r in web.politeness_schedule(
        df, "host", "id", "ts", interval_sec=10).collect()}
    assert sorted(out) == [1, 5]               # bad rows filtered, no abort
    assert out[5]["sched_us"] - out[1]["sched_us"] == 10_000_000
    assert [out[1]["position"], out[5]["position"]] == [0, 1]


# --------------------------------------------------------- registrable domain

def test_registrable_domain_psl_semantics(spark):
    from zacks_estimates_financial_statements_spark.functions import web

    rows = [(1, "https://a.b.example.co.uk/x"),  # multi-label suffix
            (2, "https://example.co.uk"),        # exactly suffix+1
            (3, "https://co.uk"),                # host IS a suffix
            (4, "https://deep.sub.example.com/p"),
            (5, "https://example.weirdtld"),     # unlisted TLD fallback
            (6, "https://www.example.com:443/")] # host normalization
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    sfx = spark.createDataFrame([("com",), ("uk",), ("co.uk",)],
                                "suffix string")
    out = {r["doc_id"]: r for r in web.registrable_domain(
        df, "doc_id", "url", sfx).collect()}
    assert out[1]["public_suffix"] == "co.uk"      # longest wins over "uk"
    assert out[1]["registrable"] == "example.co.uk"
    assert out[2]["registrable"] == "example.co.uk"
    assert out[3]["public_suffix"] == "co.uk"
    assert out[3]["registrable"] is None           # suffix-only host
    assert out[4]["registrable"] == "example.com"
    assert out[5]["public_suffix"] == "weirdtld"   # implicit-* fallback
    assert out[5]["registrable"] == "example.weirdtld"
    assert out[6]["host"] == "example.com"         # www./port stripped
    assert out[6]["registrable"] == "example.com"


# -------------------------------------------------------------------- robots

ROBOTS = """# crawl policy
User-agent: *
Disallow: /private
Allow: /private/ok

User-agent: badbot
User-agent: evilbot
Disallow: /
Allow: /welcome
"""


def _robots_fixture(spark):
    from zacks_estimates_financial_statements_spark.functions import web

    files = spark.createDataFrame([("site.org", ROBOTS)],
                                  "host string, robots string")
    return web.parse_robots(files, "host", "robots")


def test_parse_robots_groups_and_rules(spark):
    rules = {(r["agent"], r["allow"], r["prefix"])
             for r in _robots_fixture(spark).collect()}
    assert rules == {
        ("*", False, "/private"), ("*", True, "/private/ok"),
        ("badbot", False, "/"), ("badbot", True, "/welcome"),
        ("evilbot", False, "/"), ("evilbot", True, "/welcome"),
    }


def test_robots_allowed_semantics(spark):
    from zacks_estimates_financial_statements_spark.functions import web

    rules = _robots_fixture(spark)
    urls = spark.createDataFrame(
        [(1, "https://site.org/public/page"),
         (2, "https://site.org/private/doc"),
         (3, "https://site.org/private/ok/doc"),
         (4, "https://other.org/anything"),     # no robots -> allowed
         (5, "https://site.org/")],
        "id bigint, url string")
    star = {r["id"]: r for r in web.robots_allowed(
        urls, rules, "id", "url", agent="goodbot").collect()}
    assert star[1]["allowed"] and star[1]["matched_prefix"] is None
    assert not star[2]["allowed"]
    assert star[3]["allowed"]                  # longer Allow wins
    assert star[3]["matched_prefix"] == "/private/ok"
    assert star[4]["allowed"] and star[5]["allowed"]
    # exact group excludes the * group entirely
    bad = {r["id"]: r for r in web.robots_allowed(
        urls, rules, "id", "url", agent="BadBot").collect()}
    assert not bad[1]["allowed"]               # Disallow: /
    assert not bad[2]["allowed"]
    assert bad[2]["matched_prefix"] == "/"     # * rules NOT consulted
    assert not bad[5]["allowed"]


def test_parse_robots_edge_cases(spark):
    from zacks_estimates_financial_statements_spark.functions import web

    files = spark.createDataFrame(
        [("a.org", "# only comments\n\n# nothing else"),
         # rules BEFORE any User-agent group are invalid per RFC 9309
         # and must be dropped, not attached to a phantom group
         ("b.org", "Disallow: /orphan\nUser-agent: *\nDisallow: /x"),
         # empty Disallow (allow-everything idiom) drops; mixed case
         # keys and agent values normalize
         ("c.org", "USER-AGENT: MixedBot\nDISALLOW:\nAllow: /ok")],
        "host string, robots string")
    rules = web.parse_robots(files, "host", "robots").collect()
    by_host = {}
    for r in rules:
        by_host.setdefault(r["host"], set()).add(
            (r["agent"], r["allow"], r["prefix"]))
    assert "a.org" not in by_host
    assert by_host["b.org"] == {("*", False, "/x")}
    assert by_host["c.org"] == {("mixedbot", True, "/ok")}


def test_robots_allowed_no_rules_relation_rows(spark):
    from zacks_estimates_financial_statements_spark.functions import web

    rules = web.parse_robots(
        spark.createDataFrame([("x.org", "User-agent: *\nDisallow: /p")],
                              "host string, robots string"),
        "host", "robots")
    urls = spark.createDataFrame(
        [(1, "https://x.org/p/1"), (2, "https://x.org/q"),
         (3, "https://unknown.net/p/1")],
        "id bigint, url string")
    out = {r["id"]: r["allowed"] for r in web.robots_allowed(
        urls, rules, "id", "url").collect()}
    assert out == {1: False, 2: True, 3: True}
