"""robots.txt parsing + crawl gate: RFC 9309 semantics, unit-level."""

from __future__ import annotations

from pyspark.sql import functions as F

from reading_the_unreadable_spark.operators.robots import (
    crawl_schedule,
    parse_robots,
    robots_gate,
)

ROBOTS = """\
# robots for h0 — exercises comments, case, grouping
User-Agent: otherbot
Disallow: /

user-agent: rtu-bot
USER-AGENT: extrabot
Allow: /p/*.html$
Disallow: /p/
Disallow: /private   # staff only
Allow: /private/pub*
Disallow:
Crawl-Delay: 7

User-agent: *
Disallow: /
Sitemap: https://h0.example.com/sitemap.xml
"""


def _rules(spark, txt=ROBOTS, agent="rtu-bot"):
    df = spark.createDataFrame([("h0", txt)], "host string, robots_txt string")
    return parse_robots(df, agent=agent).collect()[0]


def test_group_selection_and_compile(spark):
    r = _rules(spark)
    pats = {x["pattern"]: x for x in r["rules"]}
    # exact-agent group only: neither otherbot's nor *'s 'Disallow: /'
    assert set(pats) == {"/p/*.html$", "/p/", "/private", "/private/pub*"}
    # empty Disallow: dropped (allow-all, not an empty pattern)
    assert all(p != "" for p in pats)
    a = pats["/p/*.html$"]
    assert a["is_allow"] == 1 and a["plen"] == 10 and a["rx"] == "^/p/.*\\.html$"
    d = pats["/private"]  # trailing comment stripped before the value
    assert d["is_allow"] == 0 and d["rx"] == "^/private"
    assert r["crawl_delay"] == 7
    assert r["sitemaps"] == ["https://h0.example.com/sitemap.xml"]
    assert r["n_rules"] == 4
    # rules arrive pre-sorted by precedence (plen desc)
    assert [x["plen"] for x in r["rules"]] == sorted(
        (x["plen"] for x in r["rules"]), reverse=True
    )


def test_star_fallback_and_unknown_agent(spark):
    # unknown agent → '*' group applies
    r = _rules(spark, agent="nobody-bot")
    assert [x["pattern"] for x in r["rules"]] == ["/"]
    assert r["crawl_delay"] is None  # crawl-delay was group-scoped to rtu-bot
    # no '*' group at all and no exact match → no rules → allow-all
    r2 = _rules(spark, txt="User-agent: otherbot\nDisallow: /\n", agent="rtu-bot")
    assert r2["rules"] == [] and r2["n_rules"] == 0


def _gate(spark, paths, txt=ROBOTS, agent="rtu-bot"):
    robots = spark.createDataFrame([("h0", txt)], "host string, robots_txt string")
    urls = spark.createDataFrame(
        [(i, "h0", p) for i, p in enumerate(paths)],
        "doc_id long, host string, path string",
    )
    out = robots_gate(urls, parse_robots(robots, agent=agent))
    return {r["path"]: r for r in out.collect()}


def test_gate_longest_match_semantics(spark):
    v = _gate(
        spark,
        [
            "/p/1.html",      # Allow /p/*.html$ (10) beats Disallow /p/ (3)
            "/p/1",           # Disallow /p/
            "/p/1.htmlx",     # $ anchor: allow rule does NOT match → deny
            "/p/1Xhtml",      # '.' escaped in compile: no allow match → deny
            "/private/pub9",  # Allow /private/pub* (13) beats /private (8)
            "/private/9",     # Disallow /private
            "/other",         # no rule → default allow, no matched pattern
        ],
    )
    assert v["/p/1.html"]["allowed"] is True
    assert v["/p/1.html"]["matched_pattern"] == "/p/*.html$"
    assert v["/p/1"]["allowed"] is False
    assert v["/p/1.htmlx"]["allowed"] is False
    assert v["/p/1Xhtml"]["allowed"] is False
    assert v["/private/pub9"]["allowed"] is True
    assert v["/private/9"]["allowed"] is False
    assert v["/other"]["allowed"] is True
    assert v["/other"]["matched_pattern"] is None
    assert all(r["crawl_delay"] == 7 and r["n_rules"] == 4 for r in v.values())


def test_gate_unlisted_host_defaults_allow(spark):
    robots = spark.createDataFrame([("h0", ROBOTS)], "host string, robots_txt string")
    urls = spark.createDataFrame(
        [(0, "h-unlisted", "/p/1")], "doc_id long, host string, path string"
    )
    r = robots_gate(urls, parse_robots(robots, agent="rtu-bot")).collect()[0]
    assert r["allowed"] is True and r["n_rules"] == 0
    assert r["matched_pattern"] is None


def test_allow_wins_exact_length_tie(spark):
    txt = "User-agent: *\nDisallow: /dir\nAllow: /dir\n"
    v = _gate(spark, ["/dir/x"], txt=txt)
    assert v["/dir/x"]["allowed"] is True


def test_blank_lines_do_not_end_groups(spark):
    # RFC 9309 §2.2.1: the Disallow after the blank line still belongs
    # to the rtu-bot group (the 1994 draft would have orphaned it)
    txt = "User-agent: rtu-bot\nDisallow: /a\n\n\nDisallow: /b\n"
    r = _rules(spark, txt=txt)
    assert {x["pattern"] for x in r["rules"]} == {"/a", "/b"}


def test_crawl_schedule_slots(spark):
    gated = spark.createDataFrame(
        [
            (0, "a", True, 3),
            (1, "a", True, 3),
            (2, "a", False, 3),  # denied: never scheduled
            (3, "a", True, 3),
            (4, "b", True, None),  # no declared delay → default
            (5, "b", True, None),
        ],
        "doc_id long, host string, allowed boolean, crawl_delay int",
    )
    rows = {
        r["doc_id"]: r
        for r in crawl_schedule(gated).collect()
    }
    assert 2 not in rows
    # slots are contiguous per host in doc_id order, skipping denials
    assert [rows[i]["slot"] for i in (0, 1, 3)] == [0, 1, 2]
    assert [rows[i]["fetch_at_sec"] for i in (0, 1, 3)] == [0, 3, 6]
    assert [rows[i]["fetch_at_sec"] for i in (4, 5)] == [0, 1]


def test_gate_plan_is_broadcast_no_url_shuffle(spark):
    robots = spark.createDataFrame(
        [(f"h{k}", ROBOTS) for k in range(3)], "host string, robots_txt string"
    )
    urls = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("h"), F.col("id") % 3).alias("host"),
        F.concat(F.lit("/p/"), F.col("id")).alias("path"),
    )
    plan = (
        robots_gate(urls, parse_robots(robots, agent="rtu-bot"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only exchanges are on the tiny robots dimension (window +
    # groupBy on host) and the broadcast itself — the URL fact side
    # (the Range scan: printed between the join and the BroadcastExchange
    # subtree) must reach the join without any hash/range Exchange
    stream_side = plan.split("BroadcastHashJoin", 1)[1].split("BroadcastExchange")[0]
    assert "Range" in stream_side
    assert "Exchange hash" not in stream_side
    assert "Exchange range" not in stream_side
