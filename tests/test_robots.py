"""robots.txt grammar subset (operators/robots.py) vs a pure-Python
mirror, plus designed verdicts and the verdict join's plan shape."""

from __future__ import annotations

import re

from deepex_spark.operators.robots import parse_robots, robots_verdict


def _parse_py(txt: str):
    """Independent mirror of the documented grammar."""
    rules = []
    group_star = False
    prev_ua = False
    for raw in txt.split("\n"):
        line = re.sub(r"#.*", "", raw.replace("\r", "")).strip()
        if not line:
            continue
        key, _, value = line.partition(":")
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            if not prev_ua:
                group_star = False
            group_star = group_star or value == "*"
            prev_ua = True
            continue
        if key in ("allow", "disallow"):
            prev_ua = False
            prefix = value.split("*")[0].split("$")[0]
            if group_star and prefix:
                rules.append((key == "allow", prefix))
        # unknown keys are ignored and do NOT close a UA stack
    return rules


def _verdict_py(rules, path):
    best = None
    for is_allow, prefix in rules:
        if path.startswith(prefix):
            k = (len(prefix), is_allow)
            if best is None or k > best:
                best = k
    return True if best is None else best[1]


ROBOTS_TXT = (
    "# banner comment\r\n"
    "User-agent: googlebot\r\n"
    "Disallow: /\r\n"
    "\r\n"
    "User-agent: bingbot\n"
    "User-agent: *\n"
    "Crawl-delay: 5\n"
    "Disallow: /private/\n"
    "Allow: /private/ok\n"
    "Disallow: /tmp\n"
    "Allow: /tmp   # same length: allow wins\n"
    "Disallow:\n"
    "Disallow: /wild/*card\n"
    "Allow: /end$\n"
)

CASES = {
    "/": True,
    "/private/": False,
    "/private/x": False,
    "/private/ok/deep": True,
    "/tmp": True,          # equal-length tie -> allow
    "/tmp/file": True,
    "/wild/anything": False,   # truncated prefix /wild/ over-blocks
    "/end": True,
    "/elsewhere": True,
}


def test_parse_matches_python_mirror(spark):
    df = spark.createDataFrame(
        [("h.example", ROBOTS_TXT)], "host string, robots_txt string"
    )
    got = sorted(
        (r["is_allow"], r["path_prefix"], r["prefix_len"])
        for r in parse_robots(df).collect()
    )
    exp = sorted((a, p, len(p)) for a, p in _parse_py(ROBOTS_TXT))
    assert got == exp
    # the googlebot-only group contributed nothing
    assert ("/",) not in {(p,) for _, p, _ in got} or not any(
        p == "/" for _, p, _ in got
    )


def test_verdicts_match_designed_cases(spark):
    df = spark.createDataFrame(
        [("h.example", ROBOTS_TXT)], "host string, robots_txt string"
    )
    rules = parse_robots(df)
    urls = spark.createDataFrame(
        [(f"u{i}", "h.example", p) for i, p in enumerate(CASES)],
        "url string, host string, path string",
    )
    verdict = robots_verdict(urls, rules)
    out = {r["path"]: r["allowed"] for r in verdict.collect()}
    py_rules = _parse_py(ROBOTS_TXT)
    for path, want in CASES.items():
        assert out[path] is want, path
        assert _verdict_py(py_rules, path) is want, ("mirror", path)
    # the rule table is broadcast: the url side never shuffles
    plan = verdict._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_unknown_host_defaults_to_allowed(spark):
    rules = parse_robots(
        spark.createDataFrame(
            [("a.example", "User-agent: *\nDisallow: /")],
            "host string, robots_txt string",
        )
    )
    urls = spark.createDataFrame(
        [("u1", "b.example", "/x")], "url string, host string, path string"
    )
    rows = robots_verdict(urls, rules).collect()
    assert rows[0]["allowed"] is True and rows[0]["matched_prefix"] is None
