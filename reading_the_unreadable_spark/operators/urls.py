"""URL parsing + filtering for crawl-corpus curation.

The first gate real web pipelines apply (C4 drops bad-word hosts,
RefinedWeb's §3.1 scores URLs against the UT1 blocklist plus a
word-weight list before ever fetching text): parse the capture URI,
reduce it to a registrable domain, and flag documents whose URL alone
disqualifies them.  Everything is native column expressions —
RE2-safe regexps (the PII-module convention, shared verbatim with the
DuckDB oracles), zero UDFs, zero shuffles: at crawl scale this runs
inside the scan stage of whatever consumes it.

Heuristics (each an independent reason flag, so downstream can tune):
- ``blocked_domain``: registrable domain in the blocklist (the UT1
  role; matched on the LAST TWO labels — a subdomain of a blocked
  domain is blocked).
- ``blocked_word``: any blocklist word occurs in the lowercased URL
  (RefinedWeb's word list).
- ``digit_host``: host is mostly digits (IP-literal / DGA-ish hosts).
- ``long_url`` / ``deep_query``: length and query-spam caps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HOST_RE = "^[a-z][a-z0-9+.-]*://([^/:?#]+)"
PORT_RE = "^[a-z][a-z0-9+.-]*://[^/:?#]+:([0-9]+)"
REG_DOMAIN_RE = "([^.]+\\.[^.]+)$"

BLOCKED_WORDS = ("casino", "poker", "viagra", "xxx")


def _host(lurl: Column) -> Column:
    # strip the :port suffix after extracting the authority
    return F.regexp_replace(F.regexp_extract(lurl, HOST_RE, 1), ":[0-9]+$", "")


def url_features(documents: DataFrame) -> DataFrame:
    """Adds host / reg_domain / port / path_depth / n_query_params /
    url_len / host_digit_frac — the raw signals the filter thresholds.
    Pure projections over the input (column-pruned, shuffle-free).
    Structural regexps run on the lowercased URL (schemes and hosts are
    case-insensitive per RFC 3986; path case never feeds a feature)."""
    url = F.col("url")
    lurl = F.lower(url)
    host = _host(lurl)
    path = F.regexp_extract(lurl, "^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    query = F.regexp_extract(lurl, "\\?([^#]*)", 1)
    port_s = F.regexp_extract(lurl, PORT_RE, 1)
    return documents.withColumns(
        {
            "host": host,
            "reg_domain": F.regexp_extract(host, REG_DOMAIN_RE, 1),
            # empty-match guard: ANSI mode refuses cast('' as int)
            "port": F.when(port_s == "", F.lit(None).cast("int")).otherwise(
                port_s.cast("int")
            ),
            "path_depth": F.when(path == "", 0).otherwise(
                F.size(F.split(path, "/")) - 1
            ),
            "n_query_params": F.when(query == "", 0).otherwise(
                F.size(F.split(query, "&"))
            ),
            "url_len": F.length(url),
            "host_digit_frac": F.round(
                (
                    F.length(host)
                    - F.length(F.regexp_replace(host, "[0-9]", ""))
                ).cast("double")
                / F.greatest(F.length(host), F.lit(1)),
                6,
            ),
        }
    )


def url_filter(
    documents: DataFrame,
    blocked_domains: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc keep/drop verdict with its reasons (comma-joined, stable
    order, engine-portable).  Blocklists arrive as array LITERALS in
    the plan — they are configuration-sized (UT1 is ~4M lines; at that
    size swap the literal for a broadcast join on reg_domain, same
    semantics), so no shuffle is ever introduced."""
    feats = url_features(documents)
    url_lc = F.lower(F.col("url"))
    dom_arr = F.array(*[F.lit(d) for d in blocked_domains]) if blocked_domains else None
    word_hits = F.filter(
        F.array(*[F.lit(w) for w in BLOCKED_WORDS]),
        lambda w: F.contains(url_lc, w),
    )
    reasons = F.array_compact(
        F.array(
            (
                F.when(
                    F.array_contains(dom_arr, F.col("reg_domain")),
                    F.lit("blocked_domain"),
                )
                if dom_arr is not None
                else F.lit(None).cast("string")
            ),
            F.when(F.size(word_hits) > 0, F.lit("blocked_word")),
            F.when(
                F.col("host_digit_frac") > 0.4,
                F.lit("digit_host"),
            ),
            F.when(F.col("url_len") > 200, F.lit("long_url")),
            F.when(
                F.col("n_query_params") > 8,
                F.lit("deep_query"),
            ),
        )
    )
    return feats.withColumns(
        {
            "drop_reasons": F.array_join(reasons, ","),
            "url_keep": F.size(reasons) == 0,
        }
    )


# tracking parameters every crawl frontier strips before URL dedup
TRACKING_PARAM_RE = r"^(utm_[^=]*|ref|fbclid|gclid)(=.*)?$"


def _pct_normalize(c: Column) -> Column:
    """Percent-encoding normalization (RFC 3986 §6.2.2.1-2): decode
    %XX escapes of UNRESERVED characters (ALPHA / DIGIT / - . _ ~),
    uppercase the hex of every other escape.  Pure higher-order fold
    over '%'-split fragments — no UDF."""
    parts = F.split(c, "%", -1)

    def frag(p: Column) -> Column:
        hexpair = F.upper(F.substring(p, 1, 2))
        rest = F.substr(p, F.lit(3), F.length(p))
        code = F.conv(hexpair, 16, 10).cast("int")
        unreserved = (
            ((code >= 48) & (code <= 57))
            | ((code >= 65) & (code <= 90))
            | ((code >= 97) & (code <= 122))
            | code.isin(45, 46, 95, 126)
        )
        return F.when(
            p.rlike("^[0-9A-Fa-f]{2}"),
            F.when(unreserved, F.concat(F.char(code), rest)).otherwise(
                F.concat(F.lit("%"), hexpair, rest)
            ),
        ).otherwise(F.concat(F.lit("%"), p))

    return F.when(F.size(parts) <= 1, c).otherwise(
        F.concat(
            F.element_at(parts, 1),
            F.concat_ws(
                "",
                F.transform(
                    F.slice(parts, 2, F.size(parts) - 1), frag
                ),
            ),
        )
    )


def _remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal as an aggregate fold over
    '/'-split segments; '..' never climbs above the root."""
    segs = F.split(path, "/", -1)
    folded = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(s == ".", acc)
        .when(
            s == "..",
            F.when(
                F.size(acc) > 1, F.slice(acc, 1, F.size(acc) - 1)
            ).otherwise(acc),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    return F.array_join(folded, "/")


def canonicalize_url(documents: DataFrame) -> DataFrame:
    """Crawl-frontier URL canonicalization — the normalization pass that
    makes URL-grain dedup meaningful (the same page arrives as
    ``HTTPS://News.Example.COM:443/a/./b/../p?utm_source=x&b=2&a=1#sec``
    and ``https://news.example.com/a/p?a=1&b=2``):

    1. fragment stripped;  2. scheme + host lowercased;  3. default
    port dropped (:80 http / :443 https);  4. percent-escapes
    normalized (unreserved decoded, others uppercased) in path and
    query;  5. dot-segments removed;  6. tracking params
    (utm_*/ref/fbclid/gclid) dropped and the rest SORTED;  7. empty
    path → '/'.

    Pure projection — every rule a native expression, zero shuffle;
    schemeless inputs pass through unchanged (changed = 0).  Returns
    (doc_id, url, canonical_url, changed)."""
    url = F.col("url")
    u0 = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(
        F.regexp_extract(u0, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    auth = F.lower(
        F.regexp_extract(u0, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    auth = F.when(
        scheme == "https", F.regexp_replace(auth, ":443$", "")
    ).when(scheme == "http", F.regexp_replace(auth, ":80$", "")).otherwise(auth)
    path_raw = F.regexp_extract(
        u0, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1
    )
    path = F.when(path_raw == "", F.lit("/")).otherwise(
        _remove_dot_segments(_pct_normalize(path_raw))
    )
    query_raw = F.regexp_extract(u0, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(_pct_normalize(query_raw), "&", -1),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    q = F.array_join(params, "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    canon = F.when(scheme == "", url).otherwise(canon)
    return documents.select(
        "doc_id",
        url.alias("url"),
        canon.alias("canonical_url"),
        (~(canon.eqNullSafe(url))).cast("int").alias("changed"),
    )
