"""robots.txt: raw fetched bodies → rules, and the crawl's one robots gate.

:func:`parse_robots` derives rules from fetched robots.txt text — user-agent
section selection, allow/disallow rule collection, crawl-delay.
:func:`normalize_robots` turns either robots input (those rules, or a
pre-built (host, disallow_prefix[, crawl_delay]) table) into the one table
bootstrap commits, and :func:`gate_robots` is the gate every round runs
against it.

One normative spec, two implementations (the crawl module's own pattern):
:func:`rules_allow` is the pure-Python twin of the DataFrame gate; parity
tests assert they agree on generated rule/path matrices including
precedence conflicts.

Semantics (REP, RFC 9309 + the de-facto Google spec — public knowledge):
* lines are ``field: value`` with ``#`` comments; fields case-insensitive;
* consecutive ``User-agent`` lines open a group; ``Allow``/``Disallow``/
  ``Crawl-delay`` lines belong to the open group(s);
* a crawler obeys the MOST SPECIFIC matching group only: exact-agent groups
  (longest agent-token substring match) beat ``*`` groups;
* rule precedence per path: the longest matching rule prefix wins; on a
  length tie the least restrictive (Allow) rule wins; no match ⇒ allowed;
* an empty ``Disallow:`` value means "no restriction" (rule dropped);
* rules containing the ``*``/``$`` wildcard extensions are out of scope and
  skipped with a flag (``n_wildcard`` in the parse stats) — a documented
  seam, not silent data loss.

Scale: robots bodies are a per-host dimension (one row per host). Parsing is
one Arrow-batched crossing (mapInPandas); the normalized table is
dimension-sized and broadcast by the gate and the crawl-delay quotas.

Reference analog (master-exclusion pinning, P6):
pages/Postprocess_scripts/Stance_Detection.py:57-61.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RULES_SCHEMA = (
    "host string, prefix string, allow boolean, crawl_delay int"
)

DEFAULT_AGENT = "twittercrawler-spark"


def parse_robots_body(
    host: str, body: str, agent: str = DEFAULT_AGENT
) -> tuple[list[tuple[str, str, bool, int | None]], int]:
    """Parse ONE robots.txt body → ([(host, prefix, allow, crawl_delay)],
    n_wildcard_skipped). Pure Python; the vectorized reader and the parity
    twin both call this, so there is exactly one parser."""
    agent_l = agent.lower()
    # groups: list of (agent_tokens, rules, crawl_delay)
    groups: list[dict] = []
    open_group: dict | None = None
    collecting_agents = False
    for raw_line in body.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line:
            continue
        field, sep, value = line.partition(":")
        if not sep:
            continue  # malformed line: skip (S4 discipline)
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not collecting_agents:
                open_group = {"agents": [], "rules": [], "delay": None}
                groups.append(open_group)
                collecting_agents = True
            open_group["agents"].append(value.lower())
            continue
        collecting_agents = False
        if open_group is None:
            continue  # rules before any User-agent line: skip
        if field in ("allow", "disallow"):
            open_group["rules"].append((field == "allow", value))
        elif field == "crawl-delay":
            try:
                open_group["delay"] = int(float(value))
            except ValueError:
                pass

    # group selection: most specific agent match only; '*' is the fallback
    def specificity(g: dict) -> int:
        best = -1
        for tok in g["agents"]:
            if tok == "*":
                best = max(best, 0)
            elif tok and tok in agent_l:
                best = max(best, len(tok))
        return best

    scored = [(specificity(g), i, g) for i, g in enumerate(groups)]
    matched = [s for s in scored if s[0] >= 0]
    if not matched:
        return [], 0
    top = max(s[0] for s in matched)
    chosen = [g for s, _, g in matched if s == top]

    out: list[tuple[str, str, bool, int | None]] = []
    n_wild = 0
    for g in chosen:
        delay = g["delay"]
        any_rule = False
        for allow, value in g["rules"]:
            if value == "":
                if not allow:
                    continue  # empty Disallow = no restriction
                continue  # empty Allow carries no information either
            if "*" in value or "$" in value:
                n_wild += 1
                continue
            out.append((host, value, allow, delay))
            any_rule = True
        if not any_rule and delay is not None:
            # delay-only group still matters for politeness quotas
            out.append((host, "", True, delay))
    return out, n_wild


def parse_robots(bodies: DataFrame, agent: str = DEFAULT_AGENT) -> DataFrame:
    """(host, body) → rules table (RULES_SCHEMA) via one Arrow crossing.

    ``body`` may be string or binary (fetched bytes decode as UTF-8 with
    replacement — robots.txt is ASCII in practice)."""
    import pandas as pd

    def _parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = ["host", "prefix", "allow", "crawl_delay"]
        for pdf in batches:
            rows: list[tuple] = []
            for host, body in zip(pdf["host"], pdf["body"]):
                if body is None:
                    continue
                if isinstance(body, (bytes, bytearray)):
                    body = bytes(body).decode("utf-8", "replace")
                parsed, _ = parse_robots_body(host, body, agent)
                rows.extend(parsed)
            yield pd.DataFrame(rows, columns=cols)

    return bodies.select("host", "body").mapInPandas(_parse, RULES_SCHEMA)


def normalize_robots(robots: DataFrame) -> DataFrame:
    """Either robots input shape → the ONE table the gate reads:
    (host, disallow_prefix, crawl_delay int, allow_exceptions array<string>).
    Bootstrap runs this once and commits the result.

    * rules shape (has an ``allow`` column — :func:`parse_robots` output):
      each Disallow rule (``allow = false``, non-empty prefix) becomes a
      ``disallow_prefix`` row whose ``allow_exceptions`` are the host's
      Allow prefixes that extend it. Every other row keeps its
      ``crawl_delay`` under a NULL ``disallow_prefix``, which never gates.
    * disallow shape (host, disallow_prefix[, crawl_delay]): rows pass
      through with no exceptions; an empty prefix blocks the whole host.

    Exactness: two rules that match one path are both prefixes of it, so an
    Allow at least as long as a matching Disallow D extends D. Hence "some D
    matches and none of D's exceptions does" is exactly longest-match-wins
    with Allow winning ties (:func:`rules_allow`).
    """
    empty = F.array().cast("array<string>")
    if "allow" not in robots.columns:
        delay = robots["crawl_delay"] if "crawl_delay" in robots.columns else F.lit(None)
        return robots.select(
            "host",
            "disallow_prefix",
            delay.cast("int").alias("crawl_delay"),
            empty.alias("allow_exceptions"),
        )
    allows = (
        robots.filter(F.col("allow") & (F.col("prefix") != ""))
        .groupBy("host")
        .agg(F.collect_set("prefix").alias("_allows"))
    )
    is_dis = ~F.col("allow") & (F.col("prefix") != "")
    exceptions = F.filter(
        F.coalesce("_allows", empty), lambda a: a.startswith(F.col("prefix"))
    )
    return robots.join(allows, "host", "left").select(
        "host",
        F.when(is_dis, F.col("prefix")).alias("disallow_prefix"),
        F.col("crawl_delay").cast("int").alias("crawl_delay"),
        F.when(is_dis, exceptions).otherwise(empty).alias("allow_exceptions"),
    )


def gate_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """The ``candidates`` rows (needing host, path) that ``robots`` (the
    :func:`normalize_robots` table) allows: a left_anti join against the
    broadcast, dimension-sized robots table — map-only over the frontier at
    any scale."""
    c, rb = candidates.alias("c"), F.broadcast(robots).alias("rb")
    excepted = F.exists("rb.allow_exceptions", lambda e: F.col("c.path").startswith(e))
    return c.join(
        rb,
        (F.col("c.host") == F.col("rb.host"))
        & F.col("c.path").startswith(F.col("rb.disallow_prefix"))
        & ~F.coalesce(excepted, F.lit(False)),
        "left_anti",
    )


def rules_allow(
    rules: list[tuple[str, str, bool]], host: str, path: str
) -> bool:
    """Pure-Python precedence twin of :func:`gate_robots`:
    True iff (host, path) is allowed under [(host, prefix, allow)]."""
    best: tuple[int, int] | None = None
    for rh, prefix, allow in rules:
        if rh != host or not prefix or not path.startswith(prefix):
            continue
        key = (len(prefix), 1 if allow else 0)
        if best is None or key > best:
            best = key
    return best is None or best[1] == 1
