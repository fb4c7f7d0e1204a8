"""robots.txt parsing + per-url politeness verdicts.

A crawl pipeline that fetches without consulting robots.txt is not
shippable; this module adds the decision layer. ``parse_robots`` turns a
``(host, robots_txt)`` table — one row per host, the body of
``http://host/robots.txt`` as fetched — into a rule table, and
``robots_verdict`` joins any url set against it.

Supported grammar (the documented subset, mirrored line-for-line by the
``crawl_robots_filter`` DuckDB oracle):

* lines split on ``\\n`` (``\\r`` stripped), ``#`` comments cut, spaces
  trimmed; keys case-insensitive;
* ``User-agent:`` lines open a group; CONSECUTIVE user-agent lines stack
  onto the same group (RFC 9309 §2.1), any rule line closes the stack;
* only groups whose agent set contains ``*`` are kept (per-agent
  overrides are out of scope — this engine crawls as the generic agent);
* ``Allow:`` / ``Disallow:`` with a non-empty path become rules; an
  EMPTY ``Disallow:`` means "allow everything" and yields no rule;
* rule paths are matched as PLAIN PREFIXES of the url's path+query.
  Paths containing RFC 9309 wildcards (``*`` or ``$``) are outside the
  subset and are kept CONSERVATIVELY: the path is truncated at the first
  wildcard and treated as a prefix — for ``Disallow`` this over-blocks
  (never under-blocks), and an ``Allow`` truncated this way can only
  re-permit more, both safe-side errors for a polite crawler;
* decision per url (RFC 9309 §2.2.2): among matching rules the LONGEST
  path wins; at equal length ``Allow`` wins; no matching rule (or no
  robots row for the host) = allowed.

Scale shape: parsing is per-host window algebra over exploded lines
(robots files are KBs; the window partitions by host and never sees two
hosts in one frame). The verdict join broadcasts the RULE table —
robots rules are tiny next to a url set (millions of hosts x a handful
of rules vs billions of candidate urls), so the url side never
shuffles; the per-url argmax folds into one aggregate keyed by the
url row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def parse_robots(robots: DataFrame, host_col: str = "host",
                 txt_col: str = "robots_txt") -> DataFrame:
    """``(host, robots_txt)`` -> ``(host, is_allow, path_prefix,
    prefix_len)`` rules for the ``*`` agent, per the module grammar."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(txt_col), "\n")).alias("line_no", "raw"),
    ).select(
        "host",
        "line_no",
        F.trim(F.regexp_replace(F.regexp_replace("raw", "\r", ""), "#.*", "")).alias(
            "line"
        ),
    ).filter(F.col("line") != "")
    typed = lines.select(
        "host",
        "line_no",
        F.lower(F.trim(F.substring_index("line", ":", 1))).alias("key"),
        F.trim(F.expr("substring(line, instr(line, ':') + 1)")).alias("value"),
    ).filter(F.col("key").isin("user-agent", "allow", "disallow"))
    w = Window.partitionBy("host").orderBy("line_no")
    grouped = typed.select(
        "*",
        (
            (F.col("key") == "user-agent")
            & (F.coalesce(F.lag("key").over(w), F.lit("")) != "user-agent")
        ).cast("int").alias("new_group"),
    ).select("*", F.sum("new_group").over(w).alias("group_id"))
    wg = Window.partitionBy("host", "group_id")
    starred = grouped.select(
        "*",
        F.max(
            ((F.col("key") == "user-agent") & (F.col("value") == "*")).cast("int")
        ).over(wg).alias("has_star"),
    )
    rules = starred.filter(
        (F.col("has_star") == 1)
        & F.col("key").isin("allow", "disallow")
        & (F.col("value") != "")
    )
    # wildcard subset: truncate at the first * or $ and prefix-match the
    # head (safe-side for both rule kinds; see module docstring)
    prefix = F.substring_index(F.substring_index("value", "*", 1), "$", 1)
    return rules.select(
        "host",
        (F.col("key") == "allow").alias("is_allow"),
        prefix.alias("path_prefix"),
        F.length(prefix).alias("prefix_len"),
    ).filter(F.col("path_prefix") != "")


def robots_verdict(
    urls: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Attach ``allowed`` (bool), ``matched_prefix``, ``matched_len`` to
    each url row by RFC 9309 longest-match. ``urls`` needs a host column
    and the url's path+query; all other columns pass through. The rules
    side is broadcast — the url side never shuffles."""
    others = [c for c in urls.columns]
    r = F.broadcast(rules.select(
        F.col("host").alias("_r_host"), "is_allow", "path_prefix", "prefix_len"
    ))
    joined = urls.join(
        r,
        (F.col(host_col) == F.col("_r_host"))
        & F.col(path_col).startswith(F.col("path_prefix")),
        "left",
    )
    # longest prefix wins; tie -> allow (is_allow sorts true > false)
    best = F.max(F.struct("prefix_len", "is_allow", "path_prefix")).alias("_best")
    out = joined.groupBy(*others).agg(best)
    return out.select(
        *others,
        F.coalesce(F.col("_best.is_allow"), F.lit(True)).alias("allowed"),
        F.col("_best.path_prefix").alias("matched_prefix"),
        F.col("_best.prefix_len").alias("matched_len"),
    )
