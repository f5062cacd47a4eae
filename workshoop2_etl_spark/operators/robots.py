"""robots.txt parsing and URL admission — crawl governance as a
RELATIONAL operator, completing the crawl family (WARC ingest → HTML
extraction → URL canonicalization → *may we even keep this URL?*).

Two halves:

- :func:`parse_robots` — a real RFC 9309 parser (stdlib only,
  Arrow-batched): user-agent groups, Allow/Disallow directives,
  comments, blank-line tolerance; a crawler-agent lookup picks the
  most-specific matching group (exact agent name, else ``*``), and
  each kept directive becomes ONE RULE ROW ``(…, rule_path, allow)``.
- :func:`robots_filter` — the admission decision as a JOIN, not a
  per-row loop: URLs left-join the rule rows on the grouping key,
  prefix-matching rules survive, and ONE window picks the winner by
  RFC 9309 precedence — longest rule path wins, ties go to Allow —
  with no-rule URLs admitted by default. Everything after the parse
  is relational (join + filter + window), so it scales like any
  other join (rules tables are tiny — broadcast — and the decision
  is SQL, which is what lets the registered query oracle-check the
  precedence logic in DuckDB verbatim).

Wildcard rules (round 10): RFC 9309 §2.2.3 paths may contain ``*``
(any char sequence) and a trailing ``$`` (end-of-path anchor).
Dropping them — round 9's behavior — silently ADMITS pages the site
forbade ("Disallow: /private*" became no rule at all), the compliance
bug the module warns about. They are now first-class: each wildcard
rule is compiled at parse time to an anchored regex over the
Java∩RE2 shared subset (escaped literals + ``.*`` + optional ``$``),
so the Spark join matches with ``rlike`` and the DuckDB oracle
replays the SAME pattern with ``regexp_matches``. Plain prefix rules
keep the cheaper ``startswith`` path (``rule_regex`` NULL).
Precedence uses the raw rule-path length including wildcards — the
documented most-specific-wins convention.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.analytics import top_k_per_group
from workshoop2_etl_spark.operators.rows import flat_map_rows, map_rows


def rule_to_regex(path: str) -> str | None:
    """Compile one wildcard rule path to an anchored regex (shared
    Java/RE2 subset), or None for a plain prefix rule (no ``*``, no
    trailing ``$``) — those match cheaper via ``startswith``. A ``$``
    anywhere but the end is a literal octet per the RFC."""
    if "*" not in path and not path.endswith("$"):
        return None
    anchored = path.endswith("$")
    body = path[:-1] if anchored else path
    pattern = ".*".join(re.escape(part) for part in body.split("*"))
    return "^" + pattern + ("$" if anchored else "")


def _parse_groups(text: str) -> tuple[dict, dict, dict]:
    """One walk over a robots.txt body → ``(rules_by_agent,
    delay_by_agent, rate_by_agent)``: per user-agent group, the kept
    Allow/Disallow rule list, the group's ``Crawl-delay`` seconds
    (float, None if absent/unparseable), and the ``Request-rate``
    directive converted to seconds-between-fetches (``m/n`` = m
    requests per n seconds → n/m; an optional trailing time window
    is ignored). Both are de-facto extensions most large sites
    publish (RFC 9309 leaves them out but reserves the extension
    mechanism); group scoping follows the same rules as
    directives."""
    groups: dict[str, list[tuple[str, bool]]] = {}
    delays: dict[str, float] = {}
    rates: dict[str, float] = {}
    current: list[str] = []
    last_was_agent = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not last_was_agent:
                current = []
            name = val.lower()
            current.append(name)
            groups.setdefault(name, [])
            last_was_agent = True
            continue
        last_was_agent = False
        if key in ("allow", "disallow") and current:
            if val == "" and key == "disallow":
                continue  # "Disallow:" (empty) = allow all, no rule
            for name in current:
                groups[name].append((val, key == "allow"))
        elif key == "crawl-delay" and current:
            try:
                delay = float(val)
            except ValueError:
                continue  # malformed: ignored, RFC tolerance
            if delay >= 0:
                for name in current:
                    delays[name] = delay
        elif key == "request-rate" and current:
            m = re.match(r"^(\d+)\s*/\s*(\d+)", val)
            if m and int(m.group(1)) > 0:
                rate = int(m.group(2)) / int(m.group(1))
                for name in current:
                    rates[name] = rate
    return groups, delays, rates


def _pick_group(by_agent: dict, agent: str):
    want = agent.lower()
    if want in by_agent:
        return by_agent[want]
    return by_agent.get("*")


def parse_robots_text(
    text: str, agent: str = "*"
) -> list[tuple[str, bool]]:
    """Parse one robots.txt body → [(rule_path, allow)] for
    ``agent``: directives from the group whose User-agent line
    matches ``agent`` exactly (case-insensitive), else the ``*``
    group. Wildcard rules are kept verbatim (compiled downstream —
    see :func:`rule_to_regex`). Malformed lines are ignored (RFC
    9309 tolerance); an empty/None body yields no rules (allow
    all)."""
    groups, _, _ = _parse_groups(text)
    return _pick_group(groups, agent) or []


def crawl_delay_text(text: str, agent: str = "*") -> float | None:
    """The effective seconds-between-fetches the site asks of
    ``agent``: its group's ``Crawl-delay``, else that group's
    ``Request-rate`` converted (``1/5`` → 5.0 s) — Crawl-delay wins
    when both appear (the more explicit directive). Group selection
    is exact-agent-shadows-``*``, same as the rule directives; None
    when neither is stated (or malformed)."""
    groups, delays, rates = _parse_groups(text)
    want = agent.lower()
    key = want if want in groups else "*"
    if delays.get(key) is not None:
        return delays[key]
    return rates.get(key)


def parse_robots(
    df: DataFrame,
    text_col: str = "robots_txt",
    *,
    agent: str = "*",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """One input row (a fetched robots.txt) → one output row per
    kept rule: ``key_cols…, rule_path, allow, rule_regex`` (the
    compiled wildcard pattern, NULL for plain prefix rules). Pure
    map; EACH robots file is KB-sized; whether the union of rules
    broadcasts is :func:`robots_filter`'s size-gated decision."""

    def rules(text):
        for path, allow in parse_robots_text(text, agent):
            yield path, allow, rule_to_regex(path)

    return flat_map_rows(
        df,
        [text_col],
        rules,
        [
            T.StructField("rule_path", T.StringType()),
            T.StructField("allow", T.BooleanType()),
            T.StructField("rule_regex", T.StringType()),
        ],
        keep=key_cols,
    )


def parse_crawl_delays(
    df: DataFrame,
    text_col: str = "robots_txt",
    *,
    agent: str = "*",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """One input row (a fetched robots.txt) → one output row with the
    site's ``crawl_delay`` seconds for ``agent`` (double, NULL when
    unstated) — the politeness datum :func:`operators.frontier.
    frontier_waves` turns into a per-domain wave cap, closing the
    robots → frontier edge (r10 verdict item 4). Pure map, same
    at-scale shape as :func:`parse_robots`."""
    return map_rows(
        df,
        [text_col],
        lambda text: (crawl_delay_text(text, agent),),
        [T.StructField("crawl_delay", T.DoubleType())],
        keep=key_cols,
    )


def should_broadcast(rel: DataFrame) -> bool:
    """The size-gate policy shared by every relational small-side
    join in the crawl chapter (robots rules, URL blocklists):
    broadcast only when Catalyst's own size estimate for the plan is
    known and under the session's ``autoBroadcastJoinThreshold``
    (parsed by Spark's OWN byte-string parser — hand-rolled decimal
    parsing mis-sizes binary suffixes like ``10MB`` = 10·1024², and
    an unrecognized format would silently force-disable). Anything
    unknown means no — a forced broadcast of an unexpectedly large
    side is a driver OOM."""
    try:
        conf_val = rel.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
        jvm = rel.sparkSession._jvm
        threshold = int(
            jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                conf_val
            )
        )
        size = int(
            rel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        return 0 < threshold and 0 <= size <= threshold
    except Exception:
        return False


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    *,
    url_key: str,
    path_col: str,
    join_on: str,
    keep_denied: bool = False,
    broadcast: bool | None = None,
) -> DataFrame:
    """Admission decision per URL row: join ``rules`` on ``join_on``
    (usually the registrable domain or host), keep prefix-matching
    rules, pick the winner per RFC 9309 — longest ``rule_path``
    first, ``allow`` wins ties — and default-allow URLs with no
    matching rule. Returns the URL rows plus an ``allowed`` flag
    (filtered to allowed unless ``keep_denied``).

    Scale shape: EACH robots file is KB-sized, but the UNION of rules
    across a whole crawl's domains (10⁷–10⁸ at CommonCrawl scale)
    is not broadcastable — a forced broadcast there is a driver OOM.
    ``broadcast`` gates the hint: ``True``/``False`` force it;
    ``None`` (default) size-gates — broadcast only when Catalyst's
    own size estimate for the rules plan is known and under the
    session's ``autoBroadcastJoinThreshold``, else a plain join on
    ``join_on`` (Catalyst shuffles both sides on the domain key; the
    per-URL window below is keyed the same way, so AQE can often
    reuse the exchange). The big-rules regime is thus a two-shuffle
    hash join keyed by domain — linear, no single-node collect."""
    if broadcast is None:
        broadcast = should_broadcast(rules)
    if "rule_regex" not in rules.columns:  # pre-wildcard callers
        rules = rules.withColumn("rule_regex", F.lit(None).cast("string"))
    # Reserved internal names for the rules-side columns: a urls frame
    # that itself carries rule_path/allow/rule_regex must not make the
    # join output ambiguous nor lose user columns to the final drop().
    rules = (
        rules.withColumnRenamed("rule_path", "__rule_path")
        .withColumnRenamed("allow", "__rule_allow")
        .withColumnRenamed("rule_regex", "__rule_regex")
    )
    joined = urls.join(
        F.broadcast(rules) if broadcast else rules, join_on, "left"
    )
    # a non-matching rule row must NOT eliminate its URL: rank
    # matches above non-matches so a URL whose domain has rules but
    # none matching still surfaces (as its default-allow winner row).
    # Wildcard rules match via their compiled anchored regex (RLIKE,
    # same pattern the oracle replays in RE2); plain prefix rules
    # keep the cheaper startswith.
    is_match = (
        F.col("__rule_path").isNotNull()
        & F.when(
            F.col("__rule_regex").isNotNull(),
            F.expr(f"`{path_col}` RLIKE __rule_regex"),
        ).otherwise(F.col(path_col).startswith(F.col("__rule_path")))
    ).cast("int")
    decided = (
        top_k_per_group(
            joined.withColumn("__m", is_match),
            [url_key],
            [
                F.col("__m").desc(),
                F.length(F.col("__rule_path")).desc_nulls_last(),
                F.col("__rule_allow").desc_nulls_last(),
            ],
            1,
            rank_col="__rn",
        )
        .withColumn(
            "allowed",
            F.when(F.col("__m") == 0, F.lit(True)).otherwise(
                F.col("__rule_allow")
            ),
        )
        .drop("__rn", "__m", "__rule_path", "__rule_allow", "__rule_regex")
    )
    return decided if keep_denied else decided.where(F.col("allowed"))
