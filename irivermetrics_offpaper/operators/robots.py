"""robots.txt crawl-politeness filter — from-scratch RFC 9309 parser
and matcher, applied distributively to a URL table.

Why it matters at 100 TB: a crawl-derived corpus must be filterable by
the publisher's stated crawl policy (the REP is how "may I train on
this" is expressed operationally). The robots dimension is per-HOST —
bounded by the host count, not the corpus — so the scale shape is:
parse every robots body ONCE into a compact rule table, aggregate to
one rules-array row per host, join onto the URL table by host (hash
join; broadcast-able when the host dim is small), and evaluate with
one Arrow kernel that memoizes compiled patterns per worker.

RFC 9309 semantics implemented (public spec, reimplemented):
- groups = consecutive ``User-agent`` lines followed by rules; a
  crawler obeys the group whose agent token is the LONGEST
  case-insensitive prefix of its product token, falling back to the
  ``*`` group; no group at all -> allow.
- rule matching: byte-wise path-prefix match where ``*`` matches any
  run and ``$`` anchors the end; candidate paths include the query
  string. The most-octets pattern wins; on a tie ``allow`` wins.
- an empty ``Disallow:`` value allows everything (common idiom);
  unknown directives and comments (#) are ignored; keys are
  case-insensitive; line endings may be \\r\\n; a UTF-8 BOM is
  stripped. ``Sitemap``/``Crawl-delay`` are surfaced as metadata.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_RULES_SCHEMA = ("host string, rule_idx int, allow boolean, pattern string, "
                 "crawl_delay double, sitemaps array<string>")


def parse_robots(body: str, user_agent: str) -> dict:
    """Parse one robots.txt body for one crawler product token.
    Returns {'rules': [(allow, pattern), ...], 'crawl_delay': float|None,
    'sitemaps': [str, ...]} — the combined rules of every group at the
    most specific matching agent level (RFC 9309 §2.2.1), in file
    order. Never raises on malformed input (garbage lines are skipped,
    per the RFC's error tolerance)."""
    ua = user_agent.lower()
    groups: list[tuple[list[str], list[tuple[bool, str]], list[float]]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    delays: list[float] = []
    sitemaps: list[str] = []
    in_group_header = False  # consecutive UA lines share one group

    if body and body[0] == "\ufeff":
        body = body[1:]
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_group_header:
                if agents:
                    groups.append((agents, rules, delays))
                agents, rules, delays = [], [], []
                in_group_header = True
            agents.append(val.lower())
            continue
        if key == "sitemap":
            # non-group record: collected globally
            if val:
                sitemaps.append(val)
            continue
        if key == "allow" or key == "disallow":
            in_group_header = False
            if agents and val:
                rules.append((key == "allow", val))
            # empty Disallow: allow all — contributes no rule
        elif key == "crawl-delay":
            in_group_header = False
            if agents:
                try:
                    delays.append(float(val))
                except ValueError:
                    pass
        # unknown directives are ignored entirely and — per RFC 9309's
        # error tolerance — do NOT split a run of User-agent lines
    if agents:
        groups.append((agents, rules, delays))

    # RFC 9309 §2.2.1: when several groups match at the same (most
    # specific) level they are COMBINED — e.g. two separate
    # 'User-agent: *' groups both contribute rules
    best_len = -1
    for agents, _, _ in groups:
        for a in agents:
            if a != "*" and ua.startswith(a) and len(a) > best_len:
                best_len = len(a)
    chosen: list[tuple[bool, str]] = []
    chosen_delays: list[float] = []
    for agents, rules, delays in groups:
        if best_len >= 0:
            hit = any(a != "*" and ua.startswith(a) and len(a) == best_len
                      for a in agents)
        else:
            hit = "*" in agents
        if hit:
            chosen.extend(rules)
            chosen_delays.extend(delays)
    return {"rules": chosen,
            "crawl_delay": chosen_delays[0] if chosen_delays else None,
            "sitemaps": sitemaps}


def _compile(pattern: str):
    """Path pattern -> compiled regex: '*' = any run, trailing '$' =
    end anchor, everything else literal, anchored at path start."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "".join(".*" if c == "*" else re.escape(c) for c in body)
    return re.compile("^" + rx + ("$" if anchored else ""))


def decide(rules: list[tuple[bool, str]], path: str,
           _memo: dict = {}) -> bool:  # noqa: B006 — worker-lifetime memo
    """RFC 9309 most-octets-wins decision for one path (incl. query).
    No matching rule -> allowed. Tie on length -> allow wins."""
    if not path.startswith("/"):
        path = "/" + path
    verdict = True
    best_len = -1
    for allow, pattern in rules:
        crx = _memo.get(pattern)
        if crx is None:
            if len(_memo) > 65536:
                _memo.clear()
            crx = _memo[pattern] = _compile(pattern)
        if crx.match(path):
            n = len(pattern)
            if n > best_len or (n == best_len and allow):
                best_len, verdict = n, allow
    return verdict


def parse_robots_df(robots: DataFrame, user_agent: str,
                    host_col: str = "host",
                    body_col: str = "robots_txt") -> DataFrame:
    """(host, robots_txt) -> compact per-host rule rows: (host,
    rule_idx, allow, pattern, crawl_delay, sitemaps). One Arrow pass;
    each body parsed exactly once. Hosts whose body yields no rules
    still emit one row (rule_idx -1, pattern NULL) so an outer join
    can distinguish 'robots seen, allows all' from 'no robots'."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                d = parse_robots(body or "", user_agent)
                if not d["rules"]:
                    rows.append(dict(host=host, rule_idx=-1, allow=None,
                                     pattern=None, crawl_delay=d["crawl_delay"],
                                     sitemaps=d["sitemaps"]))
                for i, (allow, pattern) in enumerate(d["rules"]):
                    rows.append(dict(host=host, rule_idx=i, allow=allow,
                                     pattern=pattern,
                                     crawl_delay=d["crawl_delay"],
                                     sitemaps=d["sitemaps"]))
            yield pd.DataFrame(rows, columns=["host", "rule_idx", "allow",
                                              "pattern", "crawl_delay",
                                              "sitemaps"])

    return (robots.select(F.col(host_col).alias(host_col),
                          F.col(body_col).alias(body_col))
            .mapInPandas(kernel, schema=_RULES_SCHEMA))


def filter_by_robots(urls: DataFrame, robots: DataFrame, user_agent: str,
                     url_col: str = "url", missing_allows: bool = True,
                     broadcast_rules: bool = False) -> DataFrame:
    """Adds ``robots_allowed`` to a URL table by evaluating each row's
    path against its host's parsed rules. ``robots`` is the raw
    (host, robots_txt) dimension; hosts absent from it get
    ``missing_allows`` (the web convention: no robots.txt = allowed).

    Plan: rules are parsed once, collapsed to ONE array row per host
    (the shuffle carries each host's rules once per URL-partition
    join row, never the raw body), left-joined on host —
    ``broadcast_rules=True`` hints the broadcast when the host
    dimension fits — and decided in a single Arrow kernel with a
    per-worker compiled-pattern memo."""
    from irivermetrics_offpaper.operators import urlops

    clash = {"_rules", "_rb_host", "_rb_path", "_rb_rhost",
             "robots_allowed"} & set(urls.columns)
    if clash:
        raise ValueError(f"urls already carries column(s) {sorted(clash)}; "
                         "rename them before filter_by_robots")

    rules = parse_robots_df(robots, user_agent)
    # one conditional aggregation (collect_list drops the NULL produced
    # by the rule-less hosts' marker row) — a filtered-branch union here
    # would duplicate the parse subtree and re-parse every body twice
    per_host = (rules.groupBy("host")
                .agg(F.array_sort(F.collect_list(
                    F.when(F.col("pattern").isNotNull(), F.struct(
                        "rule_idx", "allow", "pattern"))))
                    .alias("_rules"))
                .withColumnRenamed("host", "_rb_rhost"))
    if broadcast_rules:
        per_host = F.broadcast(per_host)

    u = urls.withColumn("_rb_host", urlops.url_host(F.col(url_col)))
    q = F.coalesce(urlops.url_query(F.col(url_col)), F.lit(""))
    u = u.withColumn(
        "_rb_path",
        F.concat(F.when(F.col(url_col).rlike("^[A-Za-z][A-Za-z0-9+.-]*://"),
                        urlops.url_path(F.col(url_col))).otherwise(F.lit("/")),
                 # url_query strips the leading '?': restore it, else
                 # query-targeting rules (Disallow: /*?) never match and
                 # prefix rules can spuriously match query text
                 F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit(""))))
    joined = u.join(per_host, u["_rb_host"] == per_host["_rb_rhost"], "left") \
              .drop("_rb_rhost")

    def judge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rules_arr, path in zip(pdf["_rules"], pdf["_rb_path"]):
                if rules_arr is None:  # host not in the robots dim
                    out.append(bool(missing_allows))
                else:
                    rl = [(bool(r["allow"]), str(r["pattern"]))
                          for r in rules_arr]
                    out.append(decide(rl, path or "/"))
            pdf = pdf.drop(columns=["_rules", "_rb_host", "_rb_path"])
            pdf["robots_allowed"] = pd.array(out, dtype="boolean")
            yield pdf

    keep = [f for f in urls.schema.fields]
    from pyspark.sql.types import BooleanType, StructField, StructType
    schema = StructType(keep + [StructField("robots_allowed", BooleanType())])
    cols = [f.name for f in keep] + ["_rules", "_rb_host", "_rb_path"]
    return joined.select(*cols).mapInPandas(judge, schema)
