"""Crawl/web corpus curation operators: domain blocklist filtering,
host-concentration diagnostics, crawl snapshot reconciliation, and
robots.txt permission evaluation.

All standard steps of a web training-data pipeline (UT1-style domain
blocklists; corpus-diversity dashboards; RFC 9309 crawl compliance)
with the repo's oracle discipline: suffix expansion, the concentration
statistics, and the robots group/longest-match algebra are pure
expressions/windows/aggregates replayed exactly in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def domain_suffixes_col(host):
    """'a.b.example.com' -> ['a.b.example.com', 'b.example.com',
    'example.com', 'com'] — every dot-suffix, so a blocklist entry
    matches a domain OR any of its subdomains with one equi-join."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."))


def blocklist_filter(docs: DataFrame, blocklist: DataFrame,
                     host_col: str = "host",
                     domain_col: str = "domain") -> DataFrame:
    """Mark every doc whose host equals — or is a subdomain of — a
    blocklisted domain: input rows + a ``blocked`` boolean.

    100-TB shape: the suffix explode is rows ∝ docs × label-depth
    (~4), keys-only. Neither join carries a hint: the blocklist is the
    caller's input, of any size, and the matched BAD-HOST key set grows
    with the corpus (a coarse entry can match millions of hosts).
    Catalyst's size estimate and AQE's runtime conversion broadcast a
    side while it is small and shuffle on the key otherwise. Callers
    drop with ``.filter(~F.col('blocked'))``."""
    s = (docs.select(F.col(host_col),
                     F.explode(domain_suffixes_col(F.col(host_col)))
                     .alias("_sfx"))
         .join(blocklist.select(F.col(domain_col).alias("_sfx")),
               "_sfx", "left_semi")
         .select(F.col(host_col).alias("_bad_host")).distinct())
    return (docs.join(s, docs[host_col] == s["_bad_host"], "left")
            .withColumn("blocked", F.col("_bad_host").isNotNull())
            .drop("_bad_host"))


def blocklist_filter_sql(doc_sql: str, blocklist_values: list[str],
                         host_col: str = "host") -> str:
    """DuckDB twin: ``doc_sql`` must yield the docs WITH the host
    column; the blocklist is inlined as VALUES."""
    vals = ", ".join(f"('{d}')" for d in blocklist_values)
    return (
        f"WITH d AS ({doc_sql}), "
        f"bl(domain) AS (VALUES {vals}), "
        f"sfx AS (SELECT {host_col}, "
        f"array_to_string((string_split({host_col}, '.'))[g.i:], '.') "
        f"AS _sfx FROM d, "
        f"unnest(generate_series(1, len(string_split({host_col}, '.')))) "
        "AS g(i)), "
        f"bad AS (SELECT DISTINCT s.{host_col} FROM sfx s "
        "JOIN bl ON s._sfx = bl.domain) "
        f"SELECT d.*, b.{host_col} IS NOT NULL AS blocked "
        f"FROM d LEFT JOIN bad b ON d.{host_col} = b.{host_col}"
    )


def host_concentration(docs: DataFrame,
                       host_col: str = "host") -> DataFrame:
    """Corpus-diversity diagnostic, one row: (n_docs, n_hosts,
    hhi_sum_sq, top_host, top_n). The Herfindahl index is
    hhi_sum_sq / n_docs² — reported as its INTEGER numerator (the
    repo's engine-exactness rule: no float division inside the gate);
    top_host ties break lexicographically."""
    per = docs.groupBy(host_col).agg(F.count("*").alias("n"))
    # min(struct(-n, host)) = the (count DESC, host ASC) argmax as one
    # map-side-combinable aggregate — no window, no second shuffle
    return (per.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_hosts"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("hhi_sum_sq"),
        F.min(F.struct((-F.col("n")).alias("_neg"),
                       F.col(host_col).alias("_h"))).alias("_top"))
        .select("n_docs", "n_hosts", "hhi_sum_sq",
                F.col("_top._h").alias("top_host"),
                (-F.col("_top._neg")).cast("long").alias("top_n")))


def host_concentration_sql(doc_sql: str, host_col: str = "host") -> str:
    return (
        f"WITH d AS ({doc_sql}), "
        f"per AS (SELECT {host_col} AS h, count(*) AS n FROM d "
        "GROUP BY 1) "
        "SELECT sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_hosts, "
        "sum(n * n)::BIGINT AS hhi_sum_sq, "
        f"(SELECT h FROM per ORDER BY n DESC, h ASC LIMIT 1) AS top_host, "
        "max(n)::BIGINT AS top_n FROM per"
    )


def latest_snapshot(df: DataFrame, key_col: str = "canonical_url",
                    ts_col: str = "ts",
                    id_col: str = "doc_id") -> DataFrame:
    """Crawl-recency dedupe: among repeated fetches of the same key
    (canonical URL), keep the NEWEST — the standard recrawl rule, dual
    to url_dedupe's min-id rule for frontier dedupe. One row per input:
    (id, key, kept) under the TOTAL (ts DESC, id ASC) order (timestamps
    compare as exact epoch microseconds, so ties are deterministic).

    100-TB shape: the winner is min(struct(-epoch_us, id)) — a single
    map-side-combinable aggregate on the key, no window over the data —
    joined back keys-only; snapshot payloads never shuffle.

    The epoch is built from the NTZ timestamp's FIELDS (date, h, m,
    fractional seconds as exact decimal), not unix_micros — parquet
    crawl timestamps are timezone-naive and a session-timezone cast
    would make the winner depend on driver configuration."""
    us = F.expr(
        f"unix_date(cast({ts_col} as date)) * 86400000000 + "
        f"CAST(hour({ts_col}) * 3600 + minute({ts_col}) * 60 AS BIGINT) "
        f"* 1000000 + "
        f"CAST(extract(SECOND FROM {ts_col}) * 1000000 AS BIGINT)")
    c = df.select(F.col(id_col), F.col(key_col), us.alias("_us"))
    win = c.groupBy(key_col).agg(
        F.min(F.struct((-F.col("_us")).alias("_neg"),
                       F.col(id_col).alias("_id"))).alias("_w"))
    return (c.join(win, key_col)
            .select(id_col, key_col,
                    (F.col(id_col) == F.col("_w._id")).alias("kept")))


def latest_snapshot_sql(src_sql: str, key_col: str = "canonical_url",
                        ts_col: str = "ts",
                        id_col: str = "doc_id") -> str:
    """DuckDB twin (``src_sql`` yields id, key, ts columns)."""
    return (
        f"WITH c AS (SELECT {id_col}, {key_col}, "
        f"epoch_us({ts_col}) AS _us FROM ({src_sql})), "
        f"w AS (SELECT {key_col}, min(struct_pack(_neg := -_us, "
        f"_id := {id_col})) AS _w FROM c GROUP BY 1) "
        f"SELECT c.{id_col}, c.{key_col}, "
        f"c.{id_col} = w._w._id AS kept "
        f"FROM c JOIN w USING ({key_col})"
    )


def crawl_diff(old: DataFrame, new: DataFrame, key_col: str = "url",
               fp_col: str = "fingerprint") -> DataFrame:
    """Incremental-crawl reconciliation: compare two snapshots by key
    (canonical URL) and content fingerprint → one row per key with
    status 'added' | 'removed' | 'changed' | 'same' — the delta an
    incremental corpus build feeds downstream (re-embed changed docs,
    tombstone removed ones) instead of reprocessing the snapshot.

    Inputs must be key-unique (one row per URL — latest_snapshot/
    url_dedupe upstream guarantee it); fingerprints compare as opaque
    strings. 100-TB shape: one full-outer equi-join on the key, both
    sides keys+fingerprint only — payloads never enter the diff."""
    o = old.select(F.col(key_col).alias("_k"),
                   F.col(fp_col).alias("_ofp"))
    n = new.select(F.col(key_col).alias("_k"),
                   F.col(fp_col).alias("_nfp"))
    j = o.join(n, "_k", "full_outer")
    status = (F.when(F.col("_ofp").isNull(), "added")
              .when(F.col("_nfp").isNull(), "removed")
              .when(F.col("_ofp") != F.col("_nfp"), "changed")
              .otherwise("same"))
    return j.select(F.col("_k").alias(key_col), status.alias("status"))


def crawl_diff_sql(old_sql: str, new_sql: str, key_col: str = "url",
                   fp_col: str = "fingerprint") -> str:
    return (
        f"WITH o AS (SELECT {key_col} AS _k, {fp_col} AS _ofp "
        f"FROM ({old_sql})), "
        f"n AS (SELECT {key_col} AS _k, {fp_col} AS _nfp "
        f"FROM ({new_sql})) "
        f"SELECT coalesce(o._k, n._k) AS {key_col}, "
        "CASE WHEN o._ofp IS NULL THEN 'added' "
        "WHEN n._nfp IS NULL THEN 'removed' "
        "WHEN o._ofp != n._nfp THEN 'changed' "
        "ELSE 'same' END AS status "
        "FROM o FULL OUTER JOIN n ON o._k = n._k"
    )


# ---------------------------------------------------------------------------
# robots.txt (RFC 9309) — group parsing + longest-match permission join
# ---------------------------------------------------------------------------
#
# Deterministic subset of RFC 9309, documented precisely so the SQL twin
# replays it: line comments stripped at '#'; a GROUP is a maximal run of
# consecutive User-agent lines plus the Allow/Disallow lines that follow
# it; a rule governs `agent` when its group names '*' or the agent
# (exact, case-insensitive — product-token prefix matching is out of
# scope); rules before any User-agent line are ignored (per spec);
# empty-path rules are dropped (an empty Disallow means "no
# restriction"); paths match by LITERAL byte prefix ('*'/'$' wildcards
# and %-decoding are out of scope and treated literally). Precedence is
# the RFC's: the longest matching path wins, and on a length tie Allow
# beats Disallow. No matching rule — or no robots.txt for the host —
# means allowed.

def _robots_toks_groups(robots: DataFrame, agent: str,
                        host_col: str, txt_col: str):
    """Shared group machinery for the robots operators: the tokenized
    line view (host, line_no, _dir, _val, _blk) and the per-host
    SELECTED group ids (RFC 9309 max-specificity)."""
    # CR (CRLF robots.txt — the common HTTP/WARC framing) and BOM bytes
    # would otherwise poison '_val' and fail OPEN; '\s'-trim also eats
    # tabs, which F.trim does not
    clean = F.regexp_replace(
        F.regexp_replace(F.col("_raw"), "[\r\ufeff]", ""), "#.*", "")
    lines = robots.select(
        F.lower(F.col(host_col)).alias("host"),
        F.posexplode(F.split(F.col(txt_col), "\n"))
        .alias("line_no", "_raw"))
    parts = F.split(F.regexp_replace(clean, r"^\s+|\s+$", ""), ":", 2)
    toks = lines.select(
        "host", "line_no",
        F.lower(F.regexp_replace(parts.getItem(0), r"^\s+|\s+$", ""))
        .alias("_dir"),
        F.when(F.size(parts) > 1,
               F.regexp_replace(parts.getItem(1), r"^\s+|\s+$", ""))
        .otherwise(F.lit("")).alias("_val"))
    w = Window.partitionBy("host").orderBy("line_no")
    is_ua = (F.col("_dir") == "user-agent")
    # _blk increments at the START of each consecutive User-agent run,
    # so every rule line carries the id of the group governing it
    # (two window steps: run-start flag, then its running sum)
    toks = toks.withColumn(
        "_st", (is_ua & ~F.coalesce(F.lag(is_ua).over(w),
                                    F.lit(False))).cast("int"))
    toks = toks.withColumn(
        "_blk", F.sum("_st").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    # RFC 9309 group selection: a group NAMED for the agent beats the
    # '*' fallback — when any named group exists on a host, '*' groups
    # do NOT apply there (per-host max over the match specificity)
    named = (F.lower(F.col("_val")) == agent.lower()).cast("int")
    star = (F.col("_val") == "*").cast("int")
    cand = (toks.filter(is_ua)
            .select("host", "_blk",
                    F.when(named == 1, F.lit(2))
                    .when(star == 1, F.lit(1)).alias("_m"))
            .filter(F.col("_m").isNotNull()))
    best = cand.groupBy("host").agg(F.max("_m").alias("_best"))
    groups = (cand.join(best, "host")
              .filter(F.col("_m") == F.col("_best"))
              .select("host", "_blk").distinct())
    return toks, groups


def parse_robots(robots: DataFrame, agent: str = "*",
                 host_col: str = "host",
                 txt_col: str = "robots_txt") -> DataFrame:
    """(host, rule_path, allow) — the rules governing ``agent``.

    100-TB shape: rows ∝ robots.txt LINES (a per-host-bounded, tiny
    table next to the url corpus); the two windows partition by host,
    so group reconstruction never shuffles more than one host's lines
    to a task."""
    toks, groups = _robots_toks_groups(robots, agent, host_col, txt_col)
    rules = toks.filter(F.col("_dir").isin("allow", "disallow") &
                        (F.col("_val") != "") & (F.col("_blk") > 0))
    return (rules.join(groups, ["host", "_blk"], "left_semi")
            .select("host", F.col("_val").alias("rule_path"),
                    (F.col("_dir") == "allow").alias("allow")))


def robots_crawl_delay(robots: DataFrame, agent: str = "*",
                       host_col: str = "host",
                       txt_col: str = "robots_txt") -> DataFrame:
    """(host, delay_s) — the ``Crawl-delay`` of the group governing
    ``agent`` (the de-facto frontier rate limit; not in RFC 9309 but
    honored by most crawlers, so a polite frontier reads it). Group
    selection is the same max-specificity machinery as the rules;
    non-numeric values drop (the fail-open line-hazard rule) and
    several valid lines in the governing groups take the MAX — the
    conservative (politest) reading. Hosts with no directive emit no
    row (caller applies its own default)."""
    toks, groups = _robots_toks_groups(robots, agent, host_col, txt_col)
    d = (toks.filter((F.col("_dir") == "crawl-delay")
                     & (F.col("_blk") > 0))
         .join(groups, ["host", "_blk"], "left_semi")
         .select("host",
                 F.expr("try_cast(_val AS double)").alias("delay_s"))
         .filter(F.col("delay_s").isNotNull()))
    return d.groupBy("host").agg(F.max("delay_s").alias("delay_s"))


def _robots_prefix_sql(robots_sql: str, agent: str,
                       host_col: str, txt_col: str) -> str:
    """Shared CTE prefix (lines → tokens → groups → selected groups)
    for the robots twins — emits _rblk and _rgroups."""
    a = agent.lower().replace("'", "''")
    ws = "regexp_replace(regexp_replace({x}, '^\\s+', ''), '\\s+$', '')"
    raw = (f"string_split({txt_col}, chr(10))[g.i]")
    ln = ("regexp_replace(regexp_replace(" + raw +
          ", '[\\r\\x{{FEFF}}]', '', 'g'), '#.*', '')").replace(
              "{{FEFF}}", "{FEFF}")
    dir_x = "string_split(_ln, ':')[1]"
    val_x = "substr(_ln, instr(_ln, ':') + 1)"
    return (
        f"WITH _rlines AS (SELECT lower({host_col}) AS host, "
        f"g.i AS line_no, {ws.format(x=ln)} AS _ln "
        f"FROM ({robots_sql}), "
        f"unnest(generate_series(1, len(string_split({txt_col}, "
        "chr(10))))) AS g(i)), "
        "_rtoks AS (SELECT host, line_no, "
        f"lower({ws.format(x=dir_x)}) AS _dir, "
        "CASE WHEN instr(_ln, ':') > 0 "
        f"THEN {ws.format(x=val_x)} ELSE '' END AS _val "
        "FROM _rlines), "
        "_rst AS (SELECT *, CASE WHEN _dir = 'user-agent' AND NOT "
        "coalesce(lag(_dir = 'user-agent') OVER "
        "(PARTITION BY host ORDER BY line_no), false) THEN 1 ELSE 0 END "
        "AS _st FROM _rtoks), "
        "_rblk AS (SELECT *, sum(_st) "
        "OVER (PARTITION BY host ORDER BY line_no ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS _blk FROM _rst), "
        # named group (specificity 2) beats the '*' fallback (1): when
        # any named group exists on a host, '*' does not apply there
        "_rcand AS (SELECT host, _blk, CASE "
        f"WHEN lower(_val) = '{a}' THEN 2 "
        "WHEN _val = '*' THEN 1 END AS _m FROM _rblk "
        "WHERE _dir = 'user-agent' AND (_val = '*' OR "
        f"lower(_val) = '{a}')), "
        "_rbest AS (SELECT host, max(_m) AS _best FROM _rcand "
        "GROUP BY 1), "
        "_rgroups AS (SELECT DISTINCT c.host, c._blk FROM _rcand c "
        "JOIN _rbest x ON c.host = x.host AND c._m = x._best) "
    )


def parse_robots_sql(robots_sql: str, agent: str = "*",
                     host_col: str = "host",
                     txt_col: str = "robots_txt") -> str:
    """DuckDB twin of :func:`parse_robots`."""
    return (
        _robots_prefix_sql(robots_sql, agent, host_col, txt_col)
        + "SELECT b.host, b._val AS rule_path, b._dir = 'allow' AS allow "
        "FROM _rblk b JOIN _rgroups g ON b.host = g.host AND b._blk = g._blk "
        "WHERE b._dir IN ('allow', 'disallow') AND b._val != '' "
        "AND b._blk > 0"
    )



def robots_crawl_delay_sql(robots_sql: str, agent: str = "*",
                           host_col: str = "host",
                           txt_col: str = "robots_txt") -> str:
    """DuckDB twin of :func:`robots_crawl_delay`."""
    return (
        _robots_prefix_sql(robots_sql, agent, host_col, txt_col)
        + "SELECT host, max(delay_s) AS delay_s FROM ("
        "SELECT b.host, TRY_CAST(b._val AS DOUBLE) AS delay_s "
        "FROM _rblk b JOIN _rgroups g ON b.host = g.host "
        "AND b._blk = g._blk "
        "WHERE b._dir = 'crawl-delay' AND b._blk > 0) "
        "WHERE delay_s IS NOT NULL GROUP BY 1"
    )


def robots_sitemaps(robots: DataFrame, host_col: str = "host",
                    txt_col: str = "robots_txt") -> DataFrame:
    """(host, sitemap_url) — the ``Sitemap:`` directives, which are
    GROUP-INDEPENDENT per RFC 9309 (they apply regardless of any
    User-agent group), so this is one line-explode + filter; the
    frontier-seeding feed. Values keep their case (urls), line noise
    (CR/BOM/comments) handled as in :func:`parse_robots`."""
    lines = robots.select(
        F.lower(F.col(host_col)).alias("host"),
        F.explode(F.split(F.col(txt_col), "\n")).alias("_raw"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("_raw"), "[\r\ufeff]", ""), "#.*", "")
    parts = F.split(F.regexp_replace(clean, r"^\s+|\s+$", ""), ":", 2)
    return (lines.select(
        "host",
        F.lower(F.regexp_replace(parts.getItem(0), r"^\s+|\s+$", ""))
        .alias("_dir"),
        F.when(F.size(parts) > 1,
               F.regexp_replace(parts.getItem(1), r"^\s+|\s+$", ""))
        .otherwise(F.lit("")).alias("_val"))
        .filter((F.col("_dir") == "sitemap") & (F.col("_val") != ""))
        .select("host", F.col("_val").alias("sitemap_url")))


def robots_sitemaps_sql(robots_sql: str, host_col: str = "host",
                        txt_col: str = "robots_txt") -> str:
    ws = "regexp_replace(regexp_replace({x}, '^\\s+', ''), '\\s+$', '')"
    raw = f"string_split({txt_col}, chr(10))[g.i]"
    ln = ("regexp_replace(regexp_replace(" + raw +
          ", '[\\r\\x{FEFF}]', '', 'g'), '#.*', '')")
    dir_x = "string_split(_ln, chr(58))[1]"
    val_x = "substr(_ln, instr(_ln, chr(58)) + 1)"
    return (
        f"WITH _sml AS (SELECT lower({host_col}) AS host, "
        f"{ws.format(x=ln)} AS _ln "
        f"FROM ({robots_sql}), unnest(generate_series(1, "
        f"len(string_split({txt_col}, chr(10))))) AS g(i)) "
        "SELECT host, "
        f"{ws.format(x=val_x)} AS sitemap_url FROM _sml "
        f"WHERE lower({ws.format(x=dir_x)}) = 'sitemap' "
        "AND instr(_ln, ':') > 0 AND "
        f"{ws.format(x=val_x)} != ''")


def robots_allowed(urls: DataFrame, robots: DataFrame, agent: str = "*",
                   url_col: str = "url", host_col: str = "host",
                   txt_col: str = "robots_txt") -> DataFrame:
    """(url, allowed): evaluate every url against its host's robots.txt
    under the RFC 9309 precedence (longest matching path wins; tie →
    Allow). The match path is the url's path+query (fragment dropped),
    '/' when empty.

    100-TB shape: the parsed rules table grows with the robots corpus,
    so its join carries no hint — Catalyst's size estimate and AQE's
    runtime conversion broadcast it to the url scan while it is small
    and shuffle both sides on the host otherwise. The candidate explode
    is rows ∝ urls × rules-per-host (bounded), keys-only; the winner is one
    min(struct(-len, disallow_rank)) aggregate per url — longest path,
    Allow on ties — no window over the url corpus."""
    from ..functions.text import SCHEME_HOST_PATTERN, url_host_col
    rules = parse_robots(robots, agent, host_col, txt_col)
    u = urls.select(
        F.col(url_col),
        # hostnames are case-insensitive (RFC 4343); parse_robots
        # lowercases its side, so lower here too or mixed-case urls
        # would silently fail OPEN
        F.lower(url_host_col(F.col(url_col))).alias("_uhost"),
        F.coalesce(
            F.nullif(F.regexp_replace(
                F.regexp_replace(F.col(url_col),
                                 SCHEME_HOST_PATTERN, ""),
                "#.*", ""), F.lit("")),
            F.lit("/")).alias("_path"))
    cand = (u.join(rules, u["_uhost"] == rules["host"], "left")
            .withColumn("_hit",
                        F.col("rule_path").isNotNull() &
                        F.col("_path").startswith(F.col("rule_path"))))
    win = (cand.groupBy(url_col).agg(
        F.min(F.when(F.col("_hit"),
                     F.struct((-F.length("rule_path")).alias("_neg"),
                              (~F.col("allow")).cast("int").alias("_dis"))))
        .alias("_w")))
    return win.select(
        url_col,
        F.coalesce(F.col("_w._dis") == 0, F.lit(True)).alias("allowed"))


def robots_allowed_sql(urls_sql: str, robots_sql: str, agent: str = "*",
                       url_col: str = "url", host_col: str = "host",
                       txt_col: str = "robots_txt") -> str:
    """DuckDB twin of :func:`robots_allowed`."""
    from ..functions.text import SCHEME_HOST_PATTERN, url_host_sql
    rules = parse_robots_sql(robots_sql, agent, host_col, txt_col)
    return (
        f"WITH _rules AS ({rules}), "
        f"_u AS (SELECT {url_col}, lower({url_host_sql(url_col)}) AS _uhost, "
        f"coalesce(nullif(regexp_replace(regexp_replace({url_col}, "
        f"'{SCHEME_HOST_PATTERN}', ''), '#.*', ''), ''), '/') AS _path "
        f"FROM ({urls_sql})), "
        f"_cand AS (SELECT u.{url_col}, r.rule_path, r.allow, "
        "r.rule_path IS NOT NULL AND starts_with(u._path, r.rule_path) "
        "AS _hit FROM _u u LEFT JOIN _rules r ON u._uhost = r.host), "
        f"_win AS (SELECT {url_col}, min(CASE WHEN _hit THEN "
        "struct_pack(_neg := -length(rule_path), "
        "_dis := CASE WHEN allow THEN 0 ELSE 1 END) END) AS _w "
        f"FROM _cand GROUP BY 1) "
        f"SELECT {url_col}, coalesce(_w._dis = 0, true) AS allowed "
        "FROM _win"
    )


def frontier_schedule(urls: DataFrame, ranks: DataFrame,
                      delays: DataFrame, default_delay_s: float = 1.0,
                      url_col: str = "url", id_col: str = "doc_id",
                      rank_col: str = "rank") -> DataFrame:
    """Polite crawl-frontier scheduling — the composition the crawl
    operators exist for: each URL gets a PRIORITY (its page's link
    rank) and a host-local crawl SLOT under the host's Crawl-delay →
    (url, host, priority, slot, not_before_s). Within a host, higher
    rank crawls first (ties → lower id — a total order), slot k waits
    (k−1)·delay seconds with ``default_delay_s`` where robots declared
    none; integer micro seconds keep it engine-exact.

    100-TB shape: ranks join on the page id (keys only), the tiny
    delay table broadcasts, and the slot window partitions by host —
    the frontier's natural unit (a host's queue is sequential BY
    POLICY, so per-host windows are the semantics, not a bottleneck).
    """
    from ..functions.text import url_host_col

    u = urls.select(F.col(id_col).alias("_id"),
                    F.col(url_col).alias("url"),
                    F.lower(url_host_col(F.col(url_col))).alias("host"))
    r = ranks.select(F.col("id").alias("_id"),
                     F.col(rank_col).alias("priority"))
    d = delays.select(F.lower(F.col("host")).alias("host"),
                      F.col("delay_s").alias("_d"))
    j = (u.join(r, "_id", "left")
         .withColumn("priority", F.coalesce("priority", F.lit(0)))
         .join(F.broadcast(d), "host", "left")
         .withColumn("_d", F.coalesce("_d", F.lit(default_delay_s))))
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("_id").asc())
    return (j.withColumn("slot", F.row_number().over(w))
            .select(F.col("_id").alias(id_col), "url", "host",
                    "priority", "slot",
                    ((F.col("slot") - 1)
                     * F.round(F.col("_d") * 1_000_000).cast("long"))
                    .alias("not_before_us")))


def frontier_schedule_sql(urls_sql: str, ranks_sql: str,
                          delays_sql: str,
                          default_delay_s: float = 1.0,
                          id_col: str = "doc_id") -> str:
    """DuckDB twin (``urls_sql`` yields (id, url); ``ranks_sql``
    (id, rank); ``delays_sql`` (host, delay_s))."""
    from ..functions.text import HOST_PATTERN

    host = (f"lower(coalesce(regexp_extract(u.url, "
            f"'{HOST_PATTERN}', 1), ''))")
    return (
        f"WITH u AS (SELECT {id_col} AS _id, url, {host.replace('u.url', 'url')} AS host "
        f"FROM ({urls_sql}) u), "
        f"r AS (SELECT id AS _id, rank AS priority FROM ({ranks_sql})), "
        f"d AS (SELECT lower(host) AS host, delay_s AS _d "
        f"FROM ({delays_sql})), "
        "j AS (SELECT u._id, u.url, u.host, "
        "coalesce(r.priority, 0) AS priority, "
        f"coalesce(d._d, {default_delay_s}) AS _d "
        "FROM u LEFT JOIN r USING (_id) LEFT JOIN d USING (host)) "
        f"SELECT _id AS {id_col}, url, host, priority, "
        "row_number() OVER (PARTITION BY host ORDER BY priority DESC, "
        "_id ASC) AS slot, "
        "(row_number() OVER (PARTITION BY host ORDER BY priority DESC, "
        "_id ASC) - 1) * CAST(round(_d * 1000000) AS BIGINT) "
        "AS not_before_us FROM j"
    )
