"""robots.txt compliance for the crawl-ingest edge: parse per-host
robots payloads into a rules table, then gate a pages table on it.

Not in the reference (its corpus is four hand-picked RFCs); this is the
web-deployment EXTENSION a Common-Crawl-style ingest needs before any
text ever reaches the §2.2 contract — a pipeline that republishes
disallowed content is not shippable. Semantics follow RFC 9309 (the
Robots Exclusion Protocol): rule groups keyed by User-agent, longest
path-prefix match wins, Allow wins length ties, no matching rule =
allowed. Only literal path prefixes are supported ('*'/'$' wildcard
rules are kept with their literal prefix up to the first wildcard —
the conservative reading; a '%'-free LIKE is not enough for RFC 9309
wildcards and a regex per rule would not be oracle-exact).

Scale shape: robots tables are host-keyed and tiny relative to pages
(one row per (host, rule) — millions, not trillions), so the gate is a
broadcast-or-shuffle equi-join on host followed by a per-URL max_by
over the matched rules: no window over the corpus, no UDF in the gate.
Parsing is one Arrow-batched mapInPandas over the (host, payload)
rows — stdlib string handling, one pass per file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rows import map_rows

RULES_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("allow", T.BooleanType()),
        T.StructField("path_prefix", T.StringType()),
    ]
)
CRAWL_DELAYS_SCHEMA = T.StructType(
    [T.StructField("host", T.StringType()), T.StructField("delay_millis", T.LongType())]
)


def _robots_text(payload: bytes | str | None) -> str:
    """A robots payload as text: binary decodes UTF-8 with replacement
    (crawled robots files are not reliably clean); a NULL payload is an
    empty file, which declares nothing."""
    if payload is None:
        return ""
    if isinstance(payload, (bytes, bytearray)):
        return bytes(payload).decode("utf-8", errors="replace")
    return str(payload)


def _iter_group_directives(text: str, agent: str = "*"):
    """Yield ``(field, value, group_active)`` for every non-User-agent
    directive line of a robots.txt body, tracking RFC 9309 group
    semantics ONCE for every directive parser in this module
    (consecutive User-agent lines open a group; the group applies if
    any of its agents is ``agent`` or '*', exact token match,
    case-insensitive; '#' comments run to end-of-line). Directives
    before any User-agent line never yield group_active=True."""
    want = {agent.lower(), "*"}
    group_agents: list[str] = []
    group_active = False
    in_agent_run = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field, value = field.strip().lower(), value.strip()
        if field == "user-agent":
            if not in_agent_run:
                group_agents, in_agent_run = [], True
            group_agents.append(value.lower())
            group_active = bool(want & set(group_agents))
            continue
        in_agent_run = False
        yield field, value, group_active and bool(group_agents)


def parse_robots_text(text: str, agent: str = "*") -> list[tuple[bool, str]]:
    """One robots.txt body -> [(allow, path_prefix)] for ``agent``.
    Pure function (no Spark) so tests and the oracle side can call it.

    Group semantics per RFC 9309: consecutive User-agent lines open a
    group; the group applies if any of its agents is ``agent`` or '*'
    (exact token match, case-insensitive); later Allow/Disallow lines
    belong to the open group. An empty Disallow value means
    allow-everything and contributes no rule. Wildcards are truncated
    at the first '*' / trailing '$' (conservative literal prefix)."""
    rules: list[tuple[bool, str]] = []
    for field, value, group_active in _iter_group_directives(text, agent):
        if field not in ("allow", "disallow"):
            continue
        if not group_active:
            continue
        if value == "":
            if field == "disallow":
                continue  # "Disallow:" = allow everything, no rule needed
            continue  # "Allow:" with no value is meaningless
        prefix = value.split("*", 1)[0]
        if prefix.endswith("$"):
            prefix = prefix[:-1]
        if prefix == "":
            prefix = "/" if field == "disallow" else prefix
            if prefix == "":
                continue
        rules.append((field == "allow", prefix))
    return rules


def parse_crawl_delay_text(text: str, agent: str = "*") -> int | None:
    """One robots.txt body -> the Crawl-delay for ``agent`` in exact
    MILLIS (de-facto extension; not in RFC 9309 but honored by most
    crawlers). Same group semantics as :func:`parse_robots_text`; when
    several applicable groups give delays, the MAX (most conservative)
    wins. Decimal values scale by digit shifting — '0.5' is exactly
    500 on every engine; junk values are ignored."""
    import re

    best: int | None = None
    for field, value, group_active in _iter_group_directives(text, agent):
        if field != "crawl-delay" or not group_active:
            continue
        m = re.fullmatch(r"(\d+)(?:\.(\d+))?", value)
        if not m:
            continue
        millis = int(m.group(1)) * 1000 + int(((m.group(2) or "") + "000")[:3])
        if best is None or millis > best:
            best = millis
    return best


def parse_crawl_delays(
    robots: DataFrame, agent: str = "*", host_col: str = "host", payload_col: str = "payload"
) -> DataFrame:
    """(host, payload) robots files -> (host, delay_millis) for hosts
    that declare a Crawl-delay applicable to ``agent``. Arrow-batched
    mapInPandas, zero shuffle — feeds
    :func:`operators.frontier.schedule_fetches`."""

    def host_delay(host, payload):
        delay = parse_crawl_delay_text(_robots_text(payload), agent)
        if delay is not None:
            yield host, delay

    return map_rows(robots, [host_col, payload_col], CRAWL_DELAYS_SCHEMA, host_delay)


def parse_robots(robots: DataFrame, agent: str = "*", host_col: str = "host",
                 payload_col: str = "payload") -> DataFrame:
    """(host, payload) robots files -> (host, allow, path_prefix) rules
    for ``agent``. Arrow-batched mapInPandas; payload may be binary or
    string (binary decodes UTF-8 with replacement — crawled robots
    files are not reliably clean)."""

    def host_rules(host, payload):
        for allow, prefix in parse_robots_text(_robots_text(payload), agent):
            yield host, allow, prefix

    return map_rows(robots, [host_col, payload_col], RULES_SCHEMA, host_rules)


def robots_filter(
    pages: DataFrame, rules: DataFrame, url_col: str = "url", keep_col: str = "robots_allowed"
) -> DataFrame:
    """Adds ``keep_col``: whether ``url_col`` is fetchable under the
    rules table (host, allow, path_prefix). Longest matching prefix
    wins; Allow wins ties; hosts with no matching rule are allowed.

    Plan: equi-join on host (rules side is the small one — Spark
    broadcasts it under the session threshold; at extreme rule volumes
    the shuffle join on host is still page-linear), ``startswith``
    filter, then one max_by((len, allow)) aggregate keyed by url — no
    corpus-wide window, no UDF."""
    from .webtext import url_parts

    # consumed twice (matched + the zero-fill join-back): truncate the
    # lineage so the distinct's shuffle evaluates once (the repo's
    # recurring double-eval class)
    u = (
        url_parts(pages.select(F.col(url_col).alias("url")).distinct(), "url")
        .select(
            "url", "host",
            F.when(F.col("path") == "", "/").otherwise(F.col("path")).alias("__path"),
        )
        .localCheckpoint(eager=False)
    )
    matched = (
        u.join(rules, on="host")
        .filter(F.col("__path").startswith(F.col("path_prefix")))
        .groupBy("url")
        .agg(
            F.max_by(
                F.col("allow"),
                F.struct(
                    F.length("path_prefix").alias("l"), F.col("allow").cast("int").alias("a")
                ),
            ).alias("__verdict")
        )
    )
    verdicts = u.select("url").join(matched, "url", "left").select(
        "url", F.coalesce("__verdict", F.lit(True)).alias(keep_col)
    )
    return pages.join(verdicts, pages[url_col] == verdicts["url"], "left").drop(verdicts["url"])
