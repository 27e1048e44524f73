"""Web-curation operators: domain blocklist suffix matching and host
concentration — hand cases plus DuckDB twin parity."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vtcomposite_spark.operators import web as W

SF = "/root/testdata/sf0.001"


def test_blocklist_suffix_semantics(spark):
    docs = spark.createDataFrame(
        [(1, "spam.com"), (2, "a.spam.com"), (3, "b.a.spam.com"),
         (4, "notspam.com"), (5, "spam.com.evil.net"), (6, "ok.org"),
         (7, "exact.match.io")],
        "doc_id long, host string")
    bl = spark.createDataFrame([("spam.com",), ("exact.match.io",)],
                               "domain string")
    out = {r.doc_id: r.blocked for r in W.blocklist_filter(docs, bl).collect()}
    # domain + all subdomains block; lookalikes and mid-string hits don't
    assert out == {1: True, 2: True, 3: True, 4: False, 5: False,
                   6: False, 7: True}


def test_domain_suffixes_col(spark):
    df = spark.createDataFrame([("a.b.example.com",)], "h string")
    got = df.select(W.domain_suffixes_col(F.col("h")).alias("s")) \
        .collect()[0].s
    assert got == ["a.b.example.com", "b.example.com", "example.com", "com"]


def test_blocklist_duckdb_twin_parity(spark):
    g = F.expr("doc_id div 4")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("site"), (g % 7).cast("string"),
                 F.when(g % 5 == 0, ".example.org")
                 .otherwise(F.lit(".example.com"))).alias("host"))
    bl = spark.createDataFrame(
        [("example.org",), ("site2.example.com",)], "domain string")
    got = {(r.doc_id, r.host, r.blocked)
           for r in W.blocklist_filter(docs, bl).collect()}
    doc_sql = ("SELECT doc_id, 'site' || (doc_id // 4) % 7 || "
               "(CASE WHEN (doc_id // 4) % 5 = 0 THEN '.example.org' "
               "ELSE '.example.com' END) AS host FROM documents")
    con = duckdb.connect()
    con.sql(f"create view documents as select * from "
            f"'{SF}/documents.parquet'")
    want = {(int(a), h, bool(b)) for a, h, b in con.sql(
        W.blocklist_filter_sql(doc_sql,
                               ["example.org", "site2.example.com"]))
        .fetchall()}
    assert got == want


def test_host_concentration_hand_case(spark):
    docs = spark.createDataFrame(
        [(i, "big.com") for i in range(5)]
        + [(10, "a.com"), (11, "a.com"), (12, "z.com")],
        "doc_id long, host string")
    row = W.host_concentration(docs).collect()[0]
    assert (row.n_docs, row.n_hosts) == (8, 3)
    assert row.hhi_sum_sq == 25 + 4 + 1
    assert (row.top_host, row.top_n) == ("big.com", 5)
    # tie on count -> lexicographically smallest host wins
    tie = spark.createDataFrame(
        [(1, "bbb.com"), (2, "aaa.com")], "doc_id long, host string")
    assert W.host_concentration(tie).collect()[0].top_host == "aaa.com"


# --- latest snapshot per canonical URL (crawl recency dedupe) ---

def test_latest_snapshot_newest_wins_ties_min_id(spark):
    import datetime as dt
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "u1", t),                          # older
        (2, "u1", t + dt.timedelta(seconds=5)),  # newest -> kept
        (3, "u2", t), (4, "u2", t),            # exact tie -> min id kept
        (5, "u3", t),                          # singleton kept
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, canonical_url string, ts timestamp_ntz")
    out = {r.doc_id: r.kept for r in W.latest_snapshot(df).collect()}
    assert out == {1: False, 2: True, 3: True, 4: False, 5: True}


def test_latest_snapshot_duckdb_twin_parity(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    fetches = ev.select(
        F.col("event_id").alias("doc_id"),
        F.concat(F.lit("https://s"), (F.col("event_id") % 5).cast("string"),
                 F.lit(".com/p/"), (F.col("event_id") % 40).cast("string"))
        .alias("canonical_url"), "ts")
    got = {(r.doc_id, r.canonical_url, r.kept)
           for r in W.latest_snapshot(fetches).collect()}
    con = duckdb.connect()
    con.sql(f"create view events as select * from '{SF}/events.parquet'")
    src = ("SELECT event_id AS doc_id, 'https://s' || event_id % 5 || "
           "'.com/p/' || event_id % 40 AS canonical_url, ts FROM events")
    want = {(int(a), u, bool(k)) for a, u, k in
            con.sql(W.latest_snapshot_sql(src)).fetchall()}
    assert got == want


def test_blocklist_plan_shape(spark):
    """Scale-shape gate, small side: with sizes the optimizer can read (a
    pandas-built frame is a LocalRelation; a list-built one is RDD-backed
    and unsized), both blocklist joins broadcast by their size estimate
    before any job runs — doc payloads do not shuffle. The large-side
    route is test_blocklist_auto_regime_matches_broadcast."""
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(100),
         "host": [f"s{i % 7}.example.com" for i in range(100)]}),
        "doc_id long, host string")
    bl = spark.createDataFrame(pd.DataFrame({"domain": ["example.com"]}),
                               "domain string")
    plan = W.blocklist_filter(docs, bl) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


# --- incremental crawl diff ---

def test_crawl_diff_statuses(spark):
    old = spark.createDataFrame(
        [("u1", "fa"), ("u2", "fb"), ("u3", "fc")],
        "url string, fingerprint string")
    new = spark.createDataFrame(
        [("u1", "fa"), ("u2", "fb2"), ("u4", "fd")],
        "url string, fingerprint string")
    out = {r.url: r.status for r in W.crawl_diff(old, new).collect()}
    assert out == {"u1": "same", "u2": "changed",
                   "u3": "removed", "u4": "added"}


def test_crawl_diff_duckdb_twin_parity(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = docs.select(F.concat(F.lit("p"), F.col("doc_id").cast("string"))
                      .alias("url"), F.md5("text").alias("fingerprint"))
    new = (docs.filter(F.col("doc_id") % 10 != 0)
           .select(F.concat(F.lit("p"), F.col("doc_id").cast("string"))
                   .alias("url"),
                   F.when(F.col("doc_id") % 7 == 0,
                          F.md5(F.concat(F.lit("v2"), F.col("text"))))
                   .otherwise(F.md5("text")).alias("fingerprint")))
    got = {(r.url, r.status) for r in W.crawl_diff(old, new).collect()}
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{SF}/documents.parquet'")
    o_sql = "SELECT 'p' || doc_id AS url, md5(text) AS fingerprint FROM documents"
    n_sql = ("SELECT 'p' || doc_id AS url, CASE WHEN doc_id % 7 = 0 "
             "THEN md5('v2' || text) ELSE md5(text) END AS fingerprint "
             "FROM documents WHERE doc_id % 10 != 0")
    want = {(u, st) for u, st in
            con.sql(W.crawl_diff_sql(o_sql, n_sql)).fetchall()}
    assert got == want


def test_blocklist_auto_regime_matches_broadcast(spark):
    """Under the no-auto-broadcast regime (the planet-scale simulation
    from test_plans) the default plan forces no broadcast: both joins
    shuffle, and the rows equal the default session's."""
    from tests.test_plans import _final_plan, _no_broadcast

    docs = spark.createDataFrame(
        [(i, f"s{i % 7}.example.com") for i in range(200)],
        "doc_id long, host string")
    bl = spark.createDataFrame(
        [("s1.example.com",), ("s3.example.com",)], "domain string")
    want = {(r.doc_id, r.blocked)
            for r in W.blocklist_filter(docs, bl).collect()}
    with _no_broadcast(spark):
        out = W.blocklist_filter(docs, bl)
        got = {(r.doc_id, r.blocked) for r in out.collect()}
        plan = _final_plan(out)  # after the run: AQE's final plan
    assert got == want
    assert "BroadcastExchange" not in plan


# ---------------------------------------------------------------------------
# robots.txt (RFC 9309 subset)
# ---------------------------------------------------------------------------

ROBOTS = [
    ("a.com", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
    # two UA lines share one group; cc-bot gets its own later group
    ("b.com", "# all bots\nUser-agent: gptbot\nUser-agent: *\n"
              "Disallow: /\nAllow: /public\n\nUser-agent: cc-bot\nAllow: /\n"),
    ("c.com", "User-agent: OtherBot\nDisallow: /\n"),
    # rule before any group ignored; empty Disallow dropped
    ("d.com", "Disallow: /ignored-no-group\nUser-agent: *\nDisallow:\n"),
    # agent match is case-insensitive
    ("e.com", "User-agent: CC-Bot\nDisallow: /only-cc\n"),
    # length tie between Allow and Disallow → Allow wins (RFC 9309)
    ("f.com", "User-agent: *\nDisallow: /tie\nAllow: /tie\n"),
]
URLS = [
    "https://a.com/private/ok/page", "https://a.com/private/no",
    "https://a.com/open", "https://b.com/public/x", "https://b.com/x",
    "https://c.com/anything", "https://d.com/ignored-no-group",
    "https://e.com/only-cc/x", "https://f.com/tie/x",
    "https://norobots.com/x", "https://a.com/private#frag",
]

STAR_EXPECT = {
    "https://a.com/private/ok/page": True,   # longest match wins
    "https://a.com/private/no": False,
    "https://a.com/open": True,              # no matching rule
    "https://b.com/public/x": True,
    "https://b.com/x": False,                # '*' group disallows /
    "https://c.com/anything": True,          # group names another agent
    "https://d.com/ignored-no-group": True,  # groupless rule ignored
    "https://e.com/only-cc/x": True,
    "https://f.com/tie/x": True,             # tie → Allow
    "https://norobots.com/x": True,          # no robots.txt → allowed
    "https://a.com/private#frag": False,     # fragment dropped pre-match
}


def _robots_frames(spark):
    rob = spark.createDataFrame(ROBOTS, "host string, robots_txt string")
    urls = spark.createDataFrame([(u,) for u in URLS], "url string")
    return rob, urls


def test_robots_allowed_star_semantics(spark):
    rob, urls = _robots_frames(spark)
    got = {r.url: r.allowed for r in W.robots_allowed(urls, rob).collect()}
    assert got == STAR_EXPECT


def test_robots_allowed_named_agent(spark):
    rob, urls = _robots_frames(spark)
    got = {r.url: r.allowed
           for r in W.robots_allowed(urls, rob, agent="cc-bot").collect()}
    # named group overrides '*' group on b.com; e.com now binds
    assert got["https://b.com/x"] is True
    assert got["https://e.com/only-cc/x"] is False
    same = {k: v for k, v in STAR_EXPECT.items()
            if k not in ("https://b.com/x", "https://e.com/only-cc/x")}
    assert {k: got[k] for k in same} == same


@pytest.mark.parametrize("agent", ["*", "cc-bot"])
def test_robots_duckdb_twin_parity(spark, agent):
    rob, urls = _robots_frames(spark)
    got = {(r.url, r.allowed)
           for r in W.robots_allowed(urls, rob, agent).collect()}
    con = duckdb.connect()
    con.register("rob_t", pd.DataFrame(ROBOTS, columns=["host", "robots_txt"]))
    con.register("url_t", pd.DataFrame({"url": URLS}))
    want = set(map(tuple, con.sql(W.robots_allowed_sql(
        "select url from url_t", "select host, robots_txt from rob_t",
        agent)).fetchall()))
    assert got == want


def test_parse_robots_rules(spark):
    rob, _ = _robots_frames(spark)
    rules = {(r.host, r.rule_path, r.allow)
             for r in W.parse_robots(rob).collect()}
    assert ("a.com", "/private", False) in rules
    assert ("a.com", "/private/ok", True) in rules
    assert ("b.com", "/", False) in rules          # shared-group rule
    assert ("c.com", "/", False) not in rules      # other agent's group
    assert not any(h == "d.com" for h, _, _ in rules)


def test_robots_auto_regime_matches_broadcast(spark):
    """Under the no-auto-broadcast regime the default plan forces no
    broadcast of the rules table, and the rows equal the default
    session's."""
    from tests.test_plans import _final_plan, _no_broadcast
    rob, urls = _robots_frames(spark)
    want = {(r.url, r.allowed)
            for r in W.robots_allowed(urls, rob).collect()}
    with _no_broadcast(spark):
        out = W.robots_allowed(urls, rob)
        got = {(r.url, r.allowed) for r in out.collect()}
        plan = _final_plan(out)  # after the run: AQE's final plan
    assert got == want
    assert "BroadcastExchange" not in plan


# ---------------------------------------------------------------------------
# SURT keys
# ---------------------------------------------------------------------------

SURT_CASES = [
    ("https://www.Example.COM/Path/File.html?B=2&a=1#frag",
     "com,example)/path/file.html?b=2&a=1"),
    ("http://a.b.example.org:8080/x", "org,example,b,a)/x"),
    ("https://example.net", "net,example)/"),
    ("https://example.net/", "net,example)/"),
    ("https://sub.www-like.example.com/Q?z",
     "com,example,www-like,sub)/q?z"),
    ("http://www.example.com:80", "com,example)/"),
]


def test_surt_hand_matrix_both_engines(spark):
    from vtcomposite_spark.functions.text import surt_col, surt_sql
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(SURT_CASES)], "i long, u string")
    got = [r.s for r in df.select("i", surt_col(F.col("u")).alias("s"))
           .orderBy("i").collect()]
    assert got == [e for _, e in SURT_CASES]
    con = duckdb.connect()
    con.register("surt_t", pd.DataFrame(
        {"i": range(len(SURT_CASES)), "u": [u for u, _ in SURT_CASES]}))
    want = [x for _, x in sorted(con.sql(
        f"select i, {surt_sql('u')} from surt_t").fetchall())]
    assert got == want


def test_surt_prefix_range_property(spark):
    """The point of SURT: a domain and ALL its subdomains sort into one
    contiguous prefix range."""
    from vtcomposite_spark.functions.text import surt_col
    urls = ["https://example.com/b", "https://a.example.com/x",
            "https://z.example.com/", "https://examplf.com/",
            "https://example.co/x", "https://www.example.com/a"]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    keys = sorted(r.s for r in
                  df.select(surt_col(F.col("u")).alias("s")).collect())
    in_dom = [k for k in keys if k.startswith("com,example)")
              or k.startswith("com,example,")]
    lo, hi = keys.index(in_dom[0]), keys.index(in_dom[-1])
    assert keys[lo:hi + 1] == in_dom and len(in_dom) == 4


def test_robots_named_group_excludes_star(spark):
    """RFC 9309 group selection: when a group NAMES the agent, the '*'
    fallback group does NOT apply — even when the named group has no
    matching rule for the url (the review's fail case: a named group
    without rules must not inherit '*' Disallow: /)."""
    rob = spark.createDataFrame(
        [("h.com", "User-agent: cc-bot\nDisallow: /private\n\n"
                   "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [("https://h.com/x",), ("https://h.com/private/y",)],
        "url string")
    got = {r.url: r.allowed
           for r in W.robots_allowed(urls, rob, agent="cc-bot").collect()}
    assert got == {"https://h.com/x": True,          # '*' does NOT apply
                   "https://h.com/private/y": False}
    star = {r.url: r.allowed
            for r in W.robots_allowed(urls, rob, agent="other").collect()}
    assert star == {"https://h.com/x": False,        # falls back to '*'
                    "https://h.com/private/y": False}


def test_robots_crlf_bom_tabs_and_host_case(spark):
    """CRLF robots.txt (the HTTP/WARC framing), a BOM, tab separators,
    and mixed-case hosts must all still enforce — not fail open."""
    rob = spark.createDataFrame(
        [("A.com", "﻿User-agent: *\r\nDisallow:\t/p\r\n")],
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [("https://a.com/p/x",), ("https://A.com/p/y",),
         ("https://a.com/ok",)], "url string")
    got = {r.url: r.allowed for r in W.robots_allowed(urls, rob).collect()}
    assert got == {"https://a.com/p/x": False,
                   "https://A.com/p/y": False,
                   "https://a.com/ok": True}
    # the DuckDB twin agrees on the same input
    con = duckdb.connect()
    con.register("rcb_r", pd.DataFrame(
        [("A.com", "﻿User-agent: *\r\nDisallow:\t/p\r\n")],
        columns=["host", "robots_txt"]))
    con.register("rcb_u", pd.DataFrame(
        {"url": ["https://a.com/p/x", "https://A.com/p/y",
                 "https://a.com/ok"]}))
    want = dict(con.sql(W.robots_allowed_sql(
        "select url from rcb_u",
        "select host, robots_txt from rcb_r")).fetchall())
    assert got == want


def test_robots_sitemaps(spark):
    """Sitemap directives: group-independent, case-preserving values,
    CRLF/comment/empty-value handling; both engines agree."""
    rows = [("A.com", "User-agent: *\r\nDisallow: /p\r\n"
                      "Sitemap: https://a.com/Sitemap.XML\r\n# c\n"
                      "sitemap:\thttps://a.com/s2.xml\nSitemap:\n"),
            ("b.com", "no sitemap here")]
    rob = spark.createDataFrame(rows, "host string, robots_txt string")
    got = {(r.host, r.sitemap_url)
           for r in W.robots_sitemaps(rob).collect()}
    assert got == {("a.com", "https://a.com/Sitemap.XML"),
                   ("a.com", "https://a.com/s2.xml")}
    con = duckdb.connect()
    con.register("sm_r", pd.DataFrame(rows, columns=["host", "robots_txt"]))
    want = set(map(tuple, con.sql(W.robots_sitemaps_sql(
        "select host, robots_txt from sm_r")).fetchall()))
    assert got == want


def test_robots_crawl_delay_group_selection_and_hazards(spark):
    """Crawl-delay follows the same RFC group selection as the rules:
    a named group EXCLUDES the '*' fallback; non-numeric values drop
    (fail-open); several valid lines take the MAX; hosts without the
    directive emit nothing. DuckDB twin replays it."""
    import duckdb as _dd

    from vtcomposite_spark.operators.web import (robots_crawl_delay,
                                                 robots_crawl_delay_sql)
    rows = [
        # named group (delay 2) must beat the '*' group (delay 9)
        ("a.com", "User-agent: spark-graft\nCrawl-delay: 2\n"
                  "Disallow: /x\n\nUser-agent: *\nCrawl-delay: 9\n"),
        # only '*' → its delay applies; two lines → max; junk drops
        ("b.com", "User-agent: *\nCrawl-delay: 1.5\n"
                  "Crawl-delay: 3\nCrawl-delay: soon\n"),
        # no crawl-delay at all → no row
        ("c.com", "User-agent: *\nDisallow: /p\n"),
        # CRLF + tab noise still parses
        ("d.com", "User-agent: *\r\n\tCrawl-delay:\t4\r\n"),
    ]
    df = spark.createDataFrame(rows, "host string, robots_txt string")
    got = {r.host: r.delay_s for r in
           robots_crawl_delay(df, agent="spark-graft").collect()}
    assert got == {"a.com": 2.0, "b.com": 3.0, "d.com": 4.0}
    _dd.sql("DROP TABLE IF EXISTS _rcd")
    _dd.sql("CREATE TABLE _rcd(host VARCHAR, robots_txt VARCHAR)")
    _dd.executemany("INSERT INTO _rcd VALUES (?, ?)", rows)
    want = dict(_dd.sql(robots_crawl_delay_sql(
        "SELECT * FROM _rcd", agent="spark-graft")).fetchall())
    assert got == want


def test_frontier_schedule_priority_slots_and_twin(spark):
    """Within a host, higher rank crawls first (ties → lower id);
    slot k waits (k−1)·delay; hosts without a declared delay take the
    default; unranked urls sink to priority 0."""
    import duckdb as _dd

    from vtcomposite_spark.operators.web import (frontier_schedule,
                                                 frontier_schedule_sql)
    urls = [(1, "https://a.com/x"), (2, "https://a.com/y"),
            (3, "https://a.com/z"), (4, "https://b.com/q")]
    ranks = [(1, 50), (2, 90), (4, 10)]   # 3 unranked
    delays = [("a.com", 2.0)]
    u = spark.createDataFrame(urls, "doc_id long, url string")
    r = spark.createDataFrame(ranks, "id long, rank long")
    d = spark.createDataFrame(delays, "host string, delay_s double")
    got = {x.doc_id: (x.host, x.priority, x.slot, x.not_before_us)
           for x in frontier_schedule(u, r, d).collect()}
    assert got[2] == ("a.com", 90, 1, 0)
    assert got[1] == ("a.com", 50, 2, 2_000_000)
    assert got[3] == ("a.com", 0, 3, 4_000_000)
    assert got[4] == ("b.com", 10, 1, 0)   # default delay, slot 1
    for t, schema, rows in [("_fu", "(doc_id BIGINT, url VARCHAR)", urls),
                            ("_fr", "(id BIGINT, rank BIGINT)", ranks),
                            ("_fd", "(host VARCHAR, delay_s DOUBLE)",
                             delays)]:
        _dd.sql(f"DROP TABLE IF EXISTS {t}")
        _dd.sql(f"CREATE TABLE {t}{schema}")
        _dd.executemany(
            f"INSERT INTO {t} VALUES ({','.join('?' * len(rows[0]))})",
            rows)
    want = {x[0]: (x[2], x[3], x[4], x[5]) for x in _dd.sql(
        frontier_schedule_sql("SELECT * FROM _fu", "SELECT * FROM _fr",
                              "SELECT * FROM _fd")).fetchall()}
    assert got == {k: (h, int(p), int(s), int(n))
                   for k, (h, p, s, n) in want.items()}
