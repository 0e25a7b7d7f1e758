"""RFC 9309 robots.txt parsing + crawl-policy gate.

The step upstream of every fetch in a real crawl pipeline (and hence
upstream of everything this engine ingests): parse each host's
robots.txt, select the group that applies to our product token, and
run longest-match-wins allow/deny over the URL corpus.  The reference
pipeline consumes already-fetched corpora (its scope starts at images
— `send_to_lm_functions.py`), so this is a beyond-reference curation
operator in the `urls.py` family.

Spark-first shape — the whole gate is ONE map stage over the URLs:

- robots.txt is per-HOST state: hosts are a dimension (millions at
  web scale, but tiny next to the URL fact table).  Parsing — line
  explode, comment strip, group assignment, agent-group selection,
  pattern→RE2 compilation — happens entirely on the dimension side
  with native expressions (split/posexplode/regexp/windows); the
  result is ONE row per host carrying an `array<struct>` of compiled
  rules.
- the gate broadcast-joins that rule table onto the URLs and decides
  each URL with higher-order functions: `filter(rules, r ->
  regexp_like(path, r.rx))` then `array_max` over the
  `(plen, is_allow, …)` struct — struct ordering IS the RFC's
  longest-match / allow-wins-ties precedence, so no per-URL window,
  no URL-side shuffle, zero UDFs.  At 100 TB the URL side never
  leaves the scan stage.

Semantics implemented (RFC 9309 + the de-facto Google extensions):

- groups head at `User-agent:` lines; consecutive UA lines share one
  group; blank lines do NOT end a group (RFC 9309 §2.2.1 — unlike
  the 1994 REP draft).
- group selection: case-insensitive exact product-token match beats
  the `*` group; all groups tied at the best specificity merge
  (union of their rules).  If nothing matches, crawling is allowed.
- rule match: case-sensitive prefix match over path+query with `*`
  as any-sequence wildcard and a trailing `$` end anchor; the most
  octets (raw pattern length, wildcards included) wins; `Allow` wins
  exact ties.
- empty `Disallow:` is "no rule" (allow-all), not an empty pattern.
- `#` starts a comment anywhere on a line; field names are
  case-insensitive; `Crawl-delay` is group-scoped, `Sitemap` global.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# RE2 metacharacters to neutralize when compiling a robots pattern to
# a regex — every char except '*' (the robots wildcard, handled after
# escaping: a '*' surviving this chain can only be the wildcard).
_ESC_META = "([.+?()\\[\\]{}|^$\\\\])"


def _compile_pattern(value: Column) -> Column:
    """robots path pattern → anchored RE2.  Trailing ``$`` (detected on
    the RAW value, before escaping) anchors the end; ``*`` becomes
    ``.*``; everything else is literal."""
    anchored = value.endswith("$")
    core = F.when(anchored, F.substring(value, 1, F.length(value) - 1)).otherwise(
        value
    )
    esc = F.regexp_replace(core, _ESC_META, "\\\\$1")
    body = F.regexp_replace(esc, "\\*", ".*")
    return F.concat(F.lit("^"), body, F.when(anchored, F.lit("$")).otherwise(F.lit("")))


def parse_robots(robots: DataFrame, agent: str) -> DataFrame:
    """(host, robots_txt) → one row per host: the compiled rule set
    for ``agent``.

    Output: ``(host, rules array<struct<plen:int, is_allow:int,
    pattern:string, rx:string>>, crawl_delay int, sitemaps
    array<string>, n_rules int)``.  The struct field ORDER is the
    precedence order — ``array_max`` over it implements
    longest-match-wins with Allow breaking ties (RFC 9309 §2.2.2).

    All window/groupBy traffic here is on the host dimension (small);
    the fact-table side never appears in this function.
    """
    lines = robots.select(
        "host", F.posexplode(F.split(F.col("robots_txt"), "\n")).alias("ln", "raw")
    )
    stripped = F.regexp_replace(F.col("raw"), "#.*$", "")
    field = F.lower(F.trim(F.regexp_extract(stripped, "^([^:]*):", 1)))
    value = F.trim(F.regexp_extract(stripped, "^[^:]*:(.*)$", 1))
    p = lines.select(
        "host", "ln", field.alias("field"), value.alias("value")
    ).where(
        F.col("field").isin("user-agent", "allow", "disallow", "crawl-delay", "sitemap")
    )

    w = Window.partitionBy("host").orderBy("ln")
    prev_field = F.lag("field").over(w)
    new_group = (F.col("field") == "user-agent") & (
        prev_field.isNull() | (prev_field != "user-agent")
    )
    p = p.withColumn("gid", F.sum(new_group.cast("int")).over(w))

    # group specificity: exact product-token match (2) > '*' (1);
    # propagated to every directive row of the group, then the best
    # specificity present on the host selects the eligible group(s).
    ua_spec = F.when(
        (F.col("field") == "user-agent")
        & (F.lower(F.col("value")) == agent.lower()),
        F.lit(2),
    ).when((F.col("field") == "user-agent") & (F.col("value") == "*"), F.lit(1))
    g_spec = F.max(ua_spec).over(Window.partitionBy("host", "gid"))
    host_best = F.max(g_spec).over(Window.partitionBy("host"))
    p = p.withColumn("eligible", g_spec.isNotNull() & (g_spec == host_best))

    is_rule = (
        F.col("eligible")
        & F.col("field").isin("allow", "disallow")
        & (F.col("value") != "")  # empty Disallow: = allow-all, not a rule
    )
    rule = F.when(
        is_rule,
        F.struct(
            F.length("value").cast("int").alias("plen"),
            (F.col("field") == "allow").cast("int").alias("is_allow"),
            F.col("value").alias("pattern"),
            _compile_pattern(F.col("value")).alias("rx"),
        ),
    )
    delay = F.when(
        F.col("eligible") & (F.col("field") == "crawl-delay"),
        F.col("value").cast("int"),
    )
    sitemap = F.when(F.col("field") == "sitemap", F.col("value"))

    agg = p.groupBy("host").agg(
        F.sort_array(F.collect_list(rule), asc=False).alias("rules"),
        F.max(delay).alias("crawl_delay"),
        F.sort_array(F.collect_list(sitemap)).alias("sitemaps"),
    )
    return agg.withColumn("n_rules", F.size("rules"))


def robots_gate(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Per-URL (host, path) crawl verdict.  ``rules`` is
    :func:`parse_robots` output; it is broadcast (hosts ≪ URLs), so the
    verdict adds ZERO shuffle to the URL side: match = array filter with ``regexp_like``, winner =
    ``array_max`` over the precedence-ordered struct, default = allow
    (no matching rule, or host absent from the robots corpus).

    Adds: ``allowed`` (boolean), ``matched_pattern`` (null when no rule
    matched), ``crawl_delay``, ``n_rules``.
    """
    path = F.col("path")
    joined = urls.join(F.broadcast(rules), on="host", how="left")
    matched = F.filter(
        F.coalesce(F.col("rules"), F.array()),
        lambda r: F.regexp_like(path, r["rx"]),
    )
    best = F.array_max(matched)
    return (
        joined.withColumn(
            "allowed",
            F.when(F.size(matched) == 0, F.lit(True)).otherwise(
                best["is_allow"] == 1
            ),
        )
        .withColumn(
            "matched_pattern",
            F.when(F.size(matched) > 0, best["pattern"]),
        )
        .withColumn("n_rules", F.coalesce(F.col("n_rules"), F.lit(0)))
        .drop("rules", "sitemaps")
    )


def crawl_schedule(gated: DataFrame) -> DataFrame:
    """Politeness scheduling over a gated frontier: URLs that survived
    :func:`robots_gate` (``allowed``) get a per-host fetch slot in
    ``doc_id`` order and a fetch time of ``slot × crawl_delay``
    seconds (1 s where the host declared none).

    Per-host sequencing is the SEMANTICS of politeness, so the one
    shuffle here (hash by host for the window) is irreducible; what is
    controllable at crawl scale is skew — a mega-host with 10^8 URLs
    serializes its own window task.  The scale path is to pre-filter
    the frontier (e.g. by priority) before scheduling rather than salt
    — a salted window would break slot contiguity, which is the
    invariant downstream fetchers rely on.

    Adds ``slot`` (0-based per host) and ``fetch_at_sec``.
    """
    w = Window.partitionBy("host").orderBy("doc_id")
    out = gated.where(F.col("allowed")).withColumn(
        "slot", F.row_number().over(w) - 1
    )
    delay = F.coalesce(F.col("crawl_delay"), F.lit(1))
    return out.withColumn("fetch_at_sec", (F.col("slot") * delay).cast("long"))
