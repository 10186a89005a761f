"""robots.txt (RFC 9309) parsing and URL permission matching.

Responsible corpus building filters crawled pages by the host's robots
rules (retroactive opt-out respect is standard practice for training
corpora). Two operators, both pure DataFrame ops:

  parse_robots(df)   robots.txt text per host -> a normalized rules
                     table (host, agent, rule, path, group_id) plus
                     sitemap rows; the RFC group model is reproduced
                     with window functions (consecutive User-agent
                     lines open ONE group; rules bind to every agent
                     of the group), so parsing is JVM-side — no Python.
  match_robots(urls, rules, agent)
                     per-URL allow/disallow decision: the group for the
                     most specific matching agent (exact product token,
                     else '*'), then RFC 9309 §2.2.2 longest-match —
                     the rule with the longest path pattern wins, ties
                     broken toward allow; no matching rule = allow.
                     Patterns support '*' wildcards and the '$' end
                     anchor.

Scale shape: the rules table is per-host and tiny next to the URL
table — match_robots broadcasts it; the URL side never shuffles. A
100 TB corpus sweep is therefore one map-side join + per-URL argmax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def parse_robots(df: DataFrame, host_col: str = "host",
                 text_col: str = "robots_txt") -> DataFrame:
    """Normalize robots.txt bodies into one row per (host, agent, rule).

    Output columns: host, group_id, agent (lower-cased), rule
    ('allow' | 'disallow' | 'sitemap'), path (pattern or sitemap URL).
    Empty-path Allow/Disallow lines are dropped per the RFC (an empty
    Disallow means 'no restriction', not 'disallow nothing-matches').
    """
    lines = df.select(
        host_col,
        F.posexplode(F.split(F.col(text_col), "\r?\n"))
        .alias("line_idx", "line"))
    # strip comments + whitespace, split 'key: value'
    kv = lines.withColumn(
        "line", F.trim(F.regexp_replace("line", "#.*$", ""))) \
        .filter(F.col("line") != "") \
        .withColumn("key", F.lower(F.trim(
            F.regexp_extract("line", r"^([^:]+):", 1)))) \
        .withColumn("value", F.trim(
            F.regexp_extract("line", r"^[^:]+:(.*)$", 1))) \
        .filter(F.col("key").isin(
            "user-agent", "allow", "disallow", "sitemap"))
    # RFC group model: a user-agent line opens a NEW group only when the
    # previous directive was not itself a user-agent line
    w = Window.partitionBy(host_col).orderBy("line_idx")
    kv = kv.withColumn("prev_key", F.lag("key").over(w)) \
        .withColumn("starts_group",
                    ((F.col("key") == "user-agent")
                     & (F.coalesce(F.col("prev_key"), F.lit(""))
                        != "user-agent")).cast("int")) \
        .withColumn("group_id", F.sum("starts_group").over(w))
    agents = kv.filter(F.col("key") == "user-agent").select(
        host_col, "group_id", F.lower(F.col("value")).alias("agent"))
    rules = kv.filter(F.col("key").isin("allow", "disallow")
                      & (F.col("value") != "")).select(
        host_col, "group_id", F.col("key").alias("rule"),
        F.col("value").alias("path"))
    grouped = agents.join(rules, [host_col, "group_id"])
    sitemaps = kv.filter(F.col("key") == "sitemap").select(
        host_col, "group_id", F.lit("*").alias("agent"),
        F.lit("sitemap").alias("rule"), F.col("value").alias("path"))
    return grouped.unionByName(sitemaps)


def _pattern_regex(path_col):
    """RFC pattern -> Java/RE2 regex: escape metachars, '*' -> '.*',
    a trailing '$' stays an anchor; otherwise prefix match."""
    esc = F.regexp_replace(path_col, r"([.^+?(){}\[\]\\|])", r"\\$1")
    esc = F.regexp_replace(esc, r"\*", ".*")
    has_anchor = path_col.endswith("$")
    body = F.when(has_anchor, esc).otherwise(F.concat(esc, F.lit(".*")))
    return F.concat(F.lit("^"), body)


def match_robots(urls: DataFrame, rules: DataFrame, agent: str,
                 host_col: str = "host", path_col: str = "path",
                 broadcast_rules: bool = True) -> DataFrame:
    """Per-URL decision for `agent`. Adds `robots_allowed` (int 1/0) and
    `robots_rule` (the winning pattern, '' if default-allow).

    Group selection: rows whose agent token equals `agent`
    (case-insensitive) if the host has any, else the '*' group; hosts
    with no robots rows default to allow. Longest-match per RFC 9309
    §2.2.2 with allow winning ties.

    broadcast_rules=True is right whenever the rules table fits an
    executor (a curated corpus's host set); pass False for a
    full-crawl host universe, where the URL-side join becomes a hash
    join on host instead.
    """
    a = agent.lower()
    r = rules.filter(F.col("rule").isin("allow", "disallow")) \
        .filter(F.col("agent").isin(a, "*")) \
        .withColumn("exact", (F.col("agent") == a).cast("int"))
    # most specific agent level available per host
    lvl = r.groupBy(host_col).agg(F.max("exact").alias("best"))
    r = r.join(F.broadcast(lvl), host_col).filter(
        F.col("exact") == F.col("best"))
    r = r.select(host_col, "rule",
                 F.col("path").alias("rule_path"),
                 _pattern_regex(F.col("path")).alias("rx"),
                 F.length("path").alias("plen"))

    if broadcast_rules:
        r = F.broadcast(r)
    j = urls.join(r, host_col, "left") \
        .withColumn("hit", F.when(
            F.col("rx").isNotNull()
            & F.expr(f"{path_col} rlike rx"), 1).otherwise(0))
    key_cols = [F.col(c) for c in urls.columns]
    win = (F.when(F.col("hit") == 1,
                  F.struct(F.col("plen").alias("plen"),
                           (F.col("rule") == "allow").cast("int")
                           .alias("is_allow"),
                           F.col("rule_path").alias("rule_path")))
           .otherwise(F.lit(None)))
    agg = j.groupBy(*key_cols).agg(F.max(win).alias("w"))
    return agg.select(
        *urls.columns,
        F.when(F.col("w").isNull(), F.lit(1))
        .otherwise(F.col("w.is_allow")).alias("robots_allowed"),
        F.when(F.col("w").isNull(), F.lit(""))
        .otherwise(F.col("w.rule_path")).alias("robots_rule"))
