"""robots.txt (RFC 9309 Robots Exclusion Protocol): parse + permission join.

A crawl/curation pipeline needs MACHINE-readable crawl permissions, not
just the per-page <meta name=robots> the extractor already surfaces: real
pipelines fetch each host's /robots.txt once and gate every url of that
host against it. This module implements the RFC 9309 subset that governs
matching in practice:

  - group structure: one or more `User-agent:` lines followed by
    `Allow:` / `Disallow:` rules; later groups for the same agent merge;
    comments (#) and unknown directives (crawl-delay, sitemap) ignored
    for matching purposes (sitemaps ARE collected — they are the crawl
    frontier's seed list).
  - agent selection: the group whose user-agent token is the LONGEST
    prefix of the requesting agent (case-insensitive) wins; `*` is the
    fallback group. Per RFC 9309 §2.2.1 only one group applies.
  - rule matching: longest-match wins (§2.2.2); on equal length, Allow
    wins. Patterns are path prefixes with `*` (any chars) and a final
    `$` (end anchor). An empty Disallow means allow-all. No rules or no
    robots.txt at all -> allowed.

The SCALE shape: robots tables are per-host and tiny next to the url
table, so the permission join is rules-broadcast x urls — one projection,
no shuffle of the big side. Matching is regex-translated ONCE per rule
(Python, small side) and evaluated JVM-side; the DuckDB oracle runs the
SAME translated regexes (Java and RE2 agree on this subset: literal
escapes + `.*` + optional `$`).
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, StringType, StructField, StructType,
)

from docvision_spark.functions.boilerplate import HOST_RE

RULES_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("agent", StringType()),     # lowercased user-agent token
    StructField("allow", BooleanType()),
    StructField("pattern", StringType()),   # raw REP pattern
    StructField("regex", StringType()),     # translated, engine-portable
    StructField("length", IntegerType()),   # raw pattern length (precedence)
    StructField("sitemaps", ArrayType(StringType())),
])


def pattern_to_regex(pattern: str) -> str:
    """REP pattern -> anchored regex that Java and RE2 read identically:
    escape regex specials, `*` -> `.*`, trailing `$` -> end anchor."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    out = []
    for ch in body:
        if ch == "*":
            out.append(".*")
        elif ch in r"\.^$+?()[]{}|":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + ("$" if anchored else "")


def parse_robots_txt(text: str) -> tuple[list[dict], list[str]]:
    """robots.txt body -> ([{agent, allow, pattern}], [sitemap urls]).

    Group semantics per RFC 9309: consecutive User-agent lines share the
    following rule block; a User-agent line after rules starts a new
    group. Rules before any User-agent line are ignored (malformed).
    """
    rules: list[dict] = []
    sitemaps: list[str] = []
    agents: list[str] = []
    in_rules = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_rules:
                agents = []
                in_rules = False
            if val:
                agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_rules = True
            if not agents:
                continue  # rules with no group: malformed, ignored
            if not val:
                if key == "disallow":
                    continue  # empty Disallow == allow-all (no rule)
                continue      # empty Allow is meaningless
            for a in agents:
                rules.append({"agent": a, "allow": key == "allow",
                              "pattern": val})
        elif key == "sitemap" and val:
            sitemaps.append(val)
    return rules, sitemaps


def select_agent(groups: set[str], agent: str) -> str | None:
    """The single applicable group token for `agent` (RFC 9309 §2.2.1):
    longest token that prefix-matches the agent name; `*` as fallback."""
    agent = agent.lower()
    best = None
    for g in groups:
        if g != "*" and agent.startswith(g):
            if best is None or len(g) > len(best):
                best = g
    if best is None and "*" in groups:
        best = "*"
    return best


def is_allowed(rules: list[dict], path: str, agent: str = "*") -> bool:
    """Reference (driver-side) matcher: longest-match, Allow wins ties.
    The Spark/SQL operators must agree with this function bit-for-bit —
    it is the unit-test anchor."""
    grp = select_agent({r["agent"] for r in rules}, agent)
    if grp is None:
        return True
    best_len, best_allow = -1, True
    for r in rules:
        if r["agent"] != grp:
            continue
        if re.match(pattern_to_regex(r["pattern"]), path):
            ln = len(r["pattern"])
            if ln > best_len or (ln == best_len and r["allow"]
                                 and not best_allow):
                best_len, best_allow = ln, r["allow"]
    return best_allow


def robots_rules_df(spark, robots: list[tuple[str, str]], agent: str = "*"
                    ) -> DataFrame:
    """(host, robots_txt) pairs -> the flat per-host rule table for
    `agent`, already reduced to the single applicable group per host
    (agent selection happens here, ONCE per host, not per url)."""
    rows = []
    for host, txt in robots:
        rules, sitemaps = parse_robots_txt(txt)
        grp = select_agent({r["agent"] for r in rules}, agent)
        for r in rules:
            if r["agent"] == grp:
                rows.append((host, r["agent"], r["allow"], r["pattern"],
                             pattern_to_regex(r["pattern"]),
                             len(r["pattern"]), sitemaps))
    return spark.createDataFrame(rows, RULES_SCHEMA)


def crawl_allowed(urls: DataFrame, rules: DataFrame,
                  url_col: str = "url") -> DataFrame:
    """Per-url crawl permission: append an `allowed` column (longest-match
    precedence, Allow wins ties, default allowed) preserving every input
    column and row.

    Scale shape: ZERO shuffle of the url side. The rule table is per-host
    configuration — kilobytes per host — so it collapses to one
    rules-array row per host and BROADCAST-joins; the verdict is a
    higher-order `aggregate(filter(...))` fold over that array inside the
    same projection. No groupBy, no join-back, no second pass over the
    big table."""
    per_host = rules.groupBy("host").agg(
        F.collect_list(F.struct("length", "allow", "regex")).alias("_rules"))
    u = (urls.withColumn("_host",
                         F.regexp_extract(url_col, HOST_RE, 1))
             .withColumn("_path",
                         F.coalesce(
                             F.nullif(F.regexp_extract(
                                 url_col, r"^[a-z]+://[^/]+(/[^#]*)", 1),
                                 F.lit("")),
                             F.lit("/"))))
    j = u.join(F.broadcast(per_host), u["_host"] == per_host["host"], "left")
    verdict = F.expr("""
        coalesce(
          aggregate(
            filter(_rules, r -> _path rlike r.regex),
            cast(null as struct<length: int, allow: boolean>),
            (acc, r) -> case
              when acc is null
                   or r.length > acc.length
                   or (r.length = acc.length and r.allow and not acc.allow)
              then named_struct('length', r.length, 'allow', r.allow)
              else acc end
          ).allow,
          true)
    """)
    return (j.withColumn("allowed", verdict)
             .drop("_rules", "_host", "_path", "host"))
