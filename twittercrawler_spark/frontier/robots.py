"""robots.txt: raw fetched bodies → rules table → the crawl's one robots gate.

:func:`parse_robots` derives a rules table (RULES_SCHEMA: one row per
Allow/Disallow rule, plus crawl-delay) from fetched robots.txt text.
:func:`compile_robots` turns it, once at bootstrap, into the committed
robots table (ROBOTS_SCHEMA) that every round gates with
:func:`disallow_gate`: a broadcast anti-join where each Disallow prefix
carries the Allow prefixes that extend it. Legacy disallow tables (host,
disallow_prefix[, crawl_delay]) are committed in the same shape with no
Allow exceptions (frontier/crawl.py bootstrap).

One normative spec, two implementations (the crawl module's own pattern):
:func:`rules_allow` is the pure-Python twin of :func:`robots_gate`
(compile + gate); parity tests assert they agree on generated rule/path
matrices including precedence conflicts.

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
one Arrow-batched crossing (mapInPandas); the compiled table is
dimension-sized and broadcast, so the frontier never shuffles for the gate.

Reference analog (master-exclusion pinning, P6):
pages/Postprocess_scripts/Stance_Detection.py:57-61.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RULES_SCHEMA = (
    "host string, prefix string, allow boolean, crawl_delay int"
)

# the committed robots table: one shape whatever the input was
ROBOTS_SCHEMA = (
    "host string, disallow_prefix string, allow_ext array<string>, "
    "crawl_delay int"
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


def compile_robots(rules: DataFrame) -> DataFrame:
    """Rules table (RULES_SCHEMA) → the committed robots table
    (ROBOTS_SCHEMA) that :func:`disallow_gate` consumes.

    Each Disallow row carries ``allow_ext``: the host's Allow prefixes that
    extend it (an Allow equal to the Disallow included — Allow wins ties).
    Every row of a host carries the host's max crawl-delay; a host with a
    positive delay but no Disallow rule keeps one NULL-prefix row so the
    politeness quota still sees it. Rules with an empty prefix carry no
    restriction (the parser emits them for delay-only groups).
    """
    # one shuffle: each host's rules collect into one dimension-sized row,
    # and its Disallow prefixes explode from it (explode_outer keeps a host
    # with none as the NULL-prefix row)
    per_host = rules.groupBy("host").agg(
        F.collect_set(
            F.when(F.col("prefix") != "", F.struct("prefix", "allow"))
        ).alias("_r"),
        F.max("crawl_delay").cast("int").alias("crawl_delay"),
    )

    def prefixes(keep) -> Column:
        return F.transform(F.filter("_r", keep), lambda r: r["prefix"])

    return (
        per_host.withColumn(
            "disallow_prefix", F.explode_outer(prefixes(lambda r: ~r["allow"]))
        )
        .filter(F.col("disallow_prefix").isNotNull() | (F.col("crawl_delay") > 0))
        .select(
            "host",
            "disallow_prefix",
            F.array_sort(
                prefixes(
                    lambda r: r["allow"]
                    & r["prefix"].startswith(F.col("disallow_prefix"))
                )
            ).alias("allow_ext"),
            "crawl_delay",
        )
    )


def disallow_gate(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """The ``candidates`` rows (host, path, …) that ``robots``
    (ROBOTS_SCHEMA) allows: a broadcast left_anti join that drops a path
    when some Disallow prefix of its host matches and none of that row's
    Allow extensions does.

    This is longest-match precedence with Allow winning ties: an Allow that
    overrides a matching Disallow on a path is at least as long and also a
    prefix of that path, so it extends the Disallow. NULL-prefix rows never
    match (``startswith(NULL)`` is NULL); an empty prefix gates the host.
    """
    c, rb = candidates.alias("c"), F.broadcast(robots).alias("rb")
    path = F.col("c.path")
    return c.join(
        rb,
        (F.col("c.host") == F.col("rb.host"))
        & path.startswith(F.col("rb.disallow_prefix"))
        & ~F.exists("rb.allow_ext", lambda a: path.startswith(a)),
        "left_anti",
    )


def robots_gate(candidates: DataFrame, rules: DataFrame) -> DataFrame:
    """The ``candidates`` rows (host, path, …) allowed under ``rules``
    (RULES_SCHEMA): :func:`compile_robots` then :func:`disallow_gate`."""
    return disallow_gate(candidates, compile_robots(rules))


def rules_allow(
    rules: list[tuple[str, str, bool]], host: str, path: str
) -> bool:
    """Pure-Python longest-match twin of :func:`robots_gate`:
    True iff (host, path) is allowed under [(host, prefix, allow)]."""
    best: tuple[int, int] | None = None
    for rh, prefix, allow in rules:
        if rh != host or not prefix or not path.startswith(prefix):
            continue
        key = (len(prefix), 1 if allow else 0)
        if best is None or key > best:
            best = key
    return best is None or best[1] == 1
