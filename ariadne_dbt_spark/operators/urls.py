"""URL / domain operators for web-corpus pipelines (north-star scale
extension): normalization, domain extraction, per-domain statistics and
blocklist filtering — the steps between WARC ingestion
(ingest/warc.py) and document-level quality filtering.

Everything is JVM regex/column expressions (map-only; the only shuffle
anywhere is the per-domain aggregate), and every regex is engine-
portable so the SQL oracle mirrors bit-for-bit — deliberately NOT
`parse_url` (Spark-specific) so the exact same semantics run anywhere.

The registered-domain helper is a last-N-labels heuristic; a production
deployment swaps in the Public Suffix List (a broadcast lookup of
~9k suffixes — same join shape as the blocklist filter below).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ariadne_dbt_spark.session import local_frame

__all__ = [
    "url_host",
    "registered_domain",
    "normalize_url",
    "domain_stats",
    "filter_blocked_domains",
]

#: scheme://[userinfo@]HOST[:port]/... — host is group 1
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"


def url_host(url: Column | str) -> Column:
    """Lowercased host (no scheme/userinfo/port/path); '' if unparseable."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(c, _HOST_RE, 1))


def registered_domain(url: Column | str, *, labels: int = 2) -> Column:
    """Last ``labels`` host labels ('a.b.example.com' → 'example.com').
    Heuristic stand-in for the Public Suffix List (see module note)."""
    host = url_host(url)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.when(n <= labels, host).otherwise(
        F.array_join(F.slice(parts, n - labels + 1, labels), ".")
    )


def normalize_url(url: Column | str) -> Column:
    """Canonical URL for dedup/grouping: lowercase scheme+host, strip
    the fragment, default :80/:443 ports, utm_* tracking params (the
    query string is REBUILT by split-filter-rejoin so delimiters stay
    valid), and a single trailing slash (bare root included: '/' and
    '' key identically for dedup). Pure string rewrites — one
    codegen'd projection, applied identically by the oracle."""
    c = F.col(url) if isinstance(url, str) else url
    # lowercase scheme and authority (up to the first '/', '?' or '#')
    u = F.concat(
        F.lower(F.regexp_extract(c, r"^([^/?#]*://[^/?#]*)", 1)),
        F.regexp_replace(c, r"^[^/?#]*://[^/?#]*", ""),
    )
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    # default ports — no lookahead (the oracle's RE2 engine lacks it):
    # capture the rest of the URL and re-emit it
    u = F.regexp_replace(u, r"^([a-z]+://[^/:?#]+):(?:80|443)([/?].*)?$", r"$1$2")
    # tracking params: REBUILD the query (split on '&', drop utm_*,
    # rejoin) — regex deletion corrupts delimiters when the first or
    # consecutive params are dropped ('?utm=x&q=1' must become '?q=1')
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    qs = F.regexp_extract(u, r"^[^?]*\?(.*)$", 1)
    kept = F.filter(
        F.split(qs, "&"), lambda p: (~p.rlike("^utm_")) & (p != F.lit(""))
    )
    u = F.concat(
        base,
        F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
            F.lit("")
        ),
    )
    return F.regexp_replace(u, r"(://[^/?#]+.+?)/$", r"$1")


def domain_stats(df: DataFrame, url_col: str) -> DataFrame:
    """Per-registered-domain document counts — the input to per-domain
    caps (operators/sampling.py `per_source_cap`) and crawl audits.
    One aggregation; map-side combine does the heavy lifting."""
    return (
        df.select(registered_domain(url_col).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def filter_blocked_domains(
    df: DataFrame, url_col: str, blocked: DataFrame | list[str]
) -> DataFrame:
    """Drop rows whose registered domain is blocklisted — broadcast
    anti-join (blocklists are small: even industry lists are ~10⁶ rows,
    megabytes); the corpus side never shuffles."""
    spark = df.sparkSession
    if not isinstance(blocked, DataFrame):
        blocked = local_frame(spark, [(d,) for d in blocked], "domain string")
    tagged = df.withColumn("_dom", registered_domain(url_col))
    out = tagged.join(
        F.broadcast(blocked.select(F.col("domain").alias("_dom"))),
        "_dom",
        "left_anti",
    )
    return out.drop("_dom")


def extract_links(df: DataFrame, html_col: str, *, out_col: str = "href") -> DataFrame:
    """One row per ``href="..."`` anchor target in an HTML column — the
    link-extraction stage of a web-corpus pipeline (the host-level link
    graph this feeds is what CommonCrawl publishes, and what PageRank-
    style crawl prioritization consumes; see operators/graph.py
    ``pagerank``).

    JVM-side ``regexp_extract_all`` + ``explode`` — no parser, by
    design: like ``html_to_text`` (operators/text.py), a regex chain is
    the deterministic, oracle-mirrorable 80% answer; a real deployment
    swaps in an HTML5 parser behind the same (df, col) → rows contract.
    Documents with no links produce no rows (explode, not explode_outer).
    """
    c = F.col(html_col)
    return df.select(
        "*",
        F.explode(F.regexp_extract_all(c, F.lit(r'href="([^"]+)"'), 1)).alias(out_col),
    )
