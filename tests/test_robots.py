"""robots.txt ops vs RFC 9309 semantics (grouping, longest match,
wildcards, agent specificity, defaults)."""

from opensmile_spark.robots import match_robots, parse_robots

ROBOTS_A = """\
# global group
User-agent: *
Disallow: /private/
Allow: /private/public-page
Disallow: /*.gif$

User-agent: corpusbot
User-agent: otherbot
Disallow: /nocorpus/
Allow: /

Sitemap: https://a.ex/sitemap.xml
"""

ROBOTS_B = """\
User-agent: *
Disallow: /
Allow: /docs
"""


def _rules(spark):
    df = spark.createDataFrame(
        [("a.ex", ROBOTS_A), ("b.ex", ROBOTS_B)],
        "host string, robots_txt string")
    return parse_robots(df)


def test_parse_groups_and_sitemap(spark):
    rows = _rules(spark).collect()
    by = {(r["host"], r["agent"], r["rule"], r["path"]) for r in rows}
    # group 1 binds to '*'
    assert ("a.ex", "*", "disallow", "/private/") in by
    assert ("a.ex", "*", "allow", "/private/public-page") in by
    # group 2: BOTH consecutive user-agent lines share the rules
    assert ("a.ex", "corpusbot", "disallow", "/nocorpus/") in by
    assert ("a.ex", "otherbot", "disallow", "/nocorpus/") in by
    assert ("a.ex", "corpusbot", "allow", "/") in by
    # sitemap surfaced
    assert ("a.ex", "*", "sitemap", "https://a.ex/sitemap.xml") in by
    # comments never become rules
    assert not any("global" in p for (_, _, _, p) in by)


def _match(spark, agent, cases):
    urls = spark.createDataFrame(cases, "host string, path string")
    out = match_robots(urls, _rules(spark), agent)
    return {(r["host"], r["path"]): (r["robots_allowed"], r["robots_rule"])
            for r in out.collect()}


def test_longest_match_and_tiebreak(spark):
    got = _match(spark, "randombot", [
        ("a.ex", "/private/secret"),        # disallow /private/
        ("a.ex", "/private/public-page"),   # longer allow wins
        ("a.ex", "/open/page"),             # no rule -> allow
        ("b.ex", "/anything"),              # disallow /
        ("b.ex", "/docs/guide"),            # allow /docs beats /
        ("c.ex", "/no/robots/at/all"),      # host without robots
    ])
    assert got[("a.ex", "/private/secret")] == (0, "/private/")
    assert got[("a.ex", "/private/public-page")][0] == 1
    assert got[("a.ex", "/open/page")] == (1, "")
    assert got[("b.ex", "/anything")] == (0, "/")
    assert got[("b.ex", "/docs/guide")] == (1, "/docs")
    assert got[("c.ex", "/no/robots/at/all")] == (1, "")


def test_wildcard_and_anchor(spark):
    got = _match(spark, "randombot", [
        ("a.ex", "/img/photo.gif"),     # /*.gif$ matches
        ("a.ex", "/img/photo.gif?x"),   # $ anchor: no match -> allow
        ("a.ex", "/img/photo.png"),
    ])
    assert got[("a.ex", "/img/photo.gif")][0] == 0
    assert got[("a.ex", "/img/photo.gif?x")][0] == 1
    assert got[("a.ex", "/img/photo.png")][0] == 1


def test_agent_specific_group_preempts_star(spark):
    # corpusbot gets ITS group only: /private/ (a '*' rule) doesn't bind
    got = _match(spark, "CorpusBot", [
        ("a.ex", "/private/secret"),    # allowed for corpusbot (Allow: /)
        ("a.ex", "/nocorpus/data"),     # its own disallow
    ])
    assert got[("a.ex", "/private/secret")][0] == 1
    assert got[("a.ex", "/nocorpus/data")][0] == 0


def test_empty_disallow_means_unrestricted(spark):
    df = spark.createDataFrame(
        [("d.ex", "User-agent: *\nDisallow:\n")],
        "host string, robots_txt string")
    rules = parse_robots(df)
    assert rules.filter("rule in ('allow','disallow')").count() == 0
    urls = spark.createDataFrame([("d.ex", "/x")], "host string, path string")
    out = match_robots(urls, rules, "anybot").collect()[0]
    assert out["robots_allowed"] == 1


def test_broadcast_rules_plan(spark):
    # the URL-side join must be broadcast: the urls scan feeds a
    # BroadcastHashJoin directly (SMJ inside the tiny rules-construction
    # subtree is irrelevant to the corpus side)
    urls = spark.createDataFrame([("a.ex", "/x")], "host string, path string")
    plan = match_robots(urls, _rules(spark), "bot") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the corpus scan (LocalTableScan of urls) must NOT feed an exchange
    # for the join — no 'hashpartitioning(host' repartition of the urls
    # side before a SortMergeJoin against the rules
    assert "BroadcastExchange" in plan
