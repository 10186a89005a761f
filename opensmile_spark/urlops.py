"""URL parsing, normalization and crawl signals for web-scale pipelines.

Every crawled document carries a URL; the first grouping/dedup key of a
100 TB corpus build is a *canonical* URL (case-folded host, default port
and fragment stripped, tracking parameters removed, remaining query
params sorted) — without it the same page appears under millions of
utm-decorated aliases and exact-dedup misses them all.

All operations are built-in column expressions (JVM codegen, map-only,
zero Python — plan-asserted in tools/plan_audit.py). Component splitting
uses the reference regex of RFC 3986 Appendix B, which is deliberately
backreference- and lookaround-free, so the DuckDB oracle twin runs the
same pattern under RE2 (the gate doubles as a regex-dialect parity
check, like htmlops).

Reference analogy: like htmlops, this is the normalization boundary the
reference implements for audio containers (SURVEY.md §2.1,
/root/reference/src/iocore/waveSource.cpp:1) re-expressed for the web
modality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# RFC 3986 Appendix B. Groups: 2=scheme, 4=authority, 5=path, 7=query,
# 9=fragment. Shared verbatim with the SQL twin.
URI_RE = r"^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\?([^#]*))?(#(.*))?"

# Tracking params dropped by normalize_url / flagged by url_signals:
# the public UTM set plus the big ad-click identifiers.
TRACKING_PARAM_RE = (r"^(utm_[a-z]+|fbclid|gclid|dclid|msclkid|mc_eid"
                     r"|igshid|ref|ref_src|_ga)=")

# Default ports stripped during normalization, keyed by scheme.
_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}


def _grp(url_col, n: int):
    return F.regexp_extract(url_col, URI_RE, n)


def parse_urls(df: DataFrame, url_col: str = "url",
               prefix: str = "url_") -> DataFrame:
    """Split a URL column into typed components (all map-only exprs):

      {p}scheme   lower-cased scheme ('' if relative)
      {p}host     lower-cased host, userinfo and port stripped
      {p}port     explicit port string ('' if none)
      {p}path     raw path
      {p}query    raw query string (no '?')
      {p}fragment fragment (no '#')
    """
    u = F.col(url_col)
    auth = _grp(u, 4)
    # userinfo ends at the LAST '@' (RFC 3986 3.2.1); port starts at the
    # last ':' that is followed by digits only (IPv6 literals keep their
    # colons inside brackets and are out of scope for the expr path).
    hostport = F.regexp_replace(auth, r"^.*@", "")
    host = F.lower(F.regexp_replace(hostport, r":\d*$", ""))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    p = prefix
    return (df.withColumn(p + "scheme", F.lower(_grp(u, 2)))
              .withColumn(p + "host", host)
              .withColumn(p + "port", port)
              .withColumn(p + "path", _grp(u, 5))
              .withColumn(p + "query", _grp(u, 7))
              .withColumn(p + "fragment", _grp(u, 9)))


def _canonical_query(query_col):
    """Drop tracking params, sort the rest byte-wise, re-join with '&'."""
    parts = F.split(query_col, "&")
    kept = F.filter(parts, lambda x: (
        (F.length(x) > 0) & ~x.rlike(TRACKING_PARAM_RE)))
    return F.array_join(F.array_sort(kept), "&")


def normalize_url(df: DataFrame, url_col: str = "url",
                  out_col: str = "url_norm") -> DataFrame:
    """Canonical dedup key for a URL column (map-only exprs).

    Rules (each is standard crawl-dedup practice):
      scheme + host lower-cased; userinfo dropped; default port stripped
      (80/443/21 by scheme); fragment dropped; tracking params removed;
      surviving query params sorted; '' path becomes '/'; trailing '/'
      trimmed from non-root paths; duplicate '//' in the path collapsed.
    """
    u = F.col(url_col)
    scheme = F.lower(_grp(u, 2))
    auth = _grp(u, 4)
    hostport = F.regexp_replace(auth, r"^.*@", "")
    host = F.lower(F.regexp_replace(hostport, r":\d*$", ""))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = F.when(
        (port == "") |
        F.coalesce(
            *[F.when(scheme == s, port == d) for s, d in
              _DEFAULT_PORTS.items()],
            F.lit(False)),
        F.lit("")).otherwise(F.concat(F.lit(":"), port))
    path2 = _grp(u, 5)
    path2 = F.regexp_replace(path2, r"/{2,}", "/")
    path2 = F.when(path2 == "", F.lit("/")).otherwise(path2)
    path2 = F.when((F.length(path2) > 1) & path2.endswith("/"),
                   path2.substr(F.lit(1), F.length(path2) - 1)
                   ).otherwise(path2)
    q = _canonical_query(_grp(u, 7))
    out = F.concat(
        scheme, F.lit("://"), host, keep_port, path2,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)))
    return df.withColumn(out_col, out)


def url_signals(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Crawl-quality / routing signals, all map-only exprs:

      url_depth       number of non-empty path segments
      url_n_params    query params before canonicalization
      url_n_tracking  tracking params (utm_* etc.)
      url_is_https    1/0
      url_tld         last host label ('' if none)
      url_reg_domain  registrable domain heuristic: last two host labels,
                      or last three when the 2nd-level label is a known
                      country-code SLD (co/com/net/org/ac/gov/edu —
                      e.g. example.co.uk). A full public-suffix-list
                      lookup is a broadcast join away; the heuristic
                      keeps this map-only.
    """
    u = F.col(url_col)
    auth = _grp(u, 4)
    host = F.lower(F.regexp_replace(
        F.regexp_replace(auth, r"^.*@", ""), r":\d*$", ""))
    path = _grp(u, 5)
    segs = F.filter(F.split(path, "/"), lambda x: F.length(x) > 0)
    qparts = F.filter(F.split(_grp(u, 7), "&"),
                      lambda x: F.length(x) > 0)
    ntrack = F.size(F.filter(qparts, lambda x: x.rlike(TRACKING_PARAM_RE)))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    tld = F.when(n > 0, F.element_at(labels, -1)).otherwise(F.lit(""))
    sld = F.when(n > 1, F.element_at(labels, -2)).otherwise(F.lit(""))
    take3 = (n >= 3) & sld.isin("co", "com", "net", "org", "ac", "gov",
                                "edu")
    reg = (F.when(take3,
                  F.concat_ws(".", F.element_at(labels, -3), sld, tld))
           .when(n >= 2, F.concat_ws(".", sld, tld))
           .otherwise(host))
    return (df.withColumn("url_depth",
                          F.size(segs).cast("long"))
              .withColumn("url_n_params", F.size(qparts).cast("long"))
              .withColumn("url_n_tracking", ntrack.cast("long"))
              .withColumn("url_is_https",
                          (F.lower(_grp(u, 2)) == "https").cast("int"))
              .withColumn("url_tld", tld)
              .withColumn("url_reg_domain", reg))


def synth_urls(df: DataFrame, id_col: str = "doc_id",
               src_col: str = "source") -> DataFrame:
    """Deterministic URL per document row (column `url`) so tests and the
    oracle gate have inputs covering every normalization rule without
    external data: mixed-case scheme/host, userinfo on every 3rd row, an
    explicit default or non-default port, doubled slashes, a trailing
    slash, utm/gclid tracking params, unsorted surviving params, and a
    fragment. Everything derives from (doc_id, source) via built-in
    expressions, so the DuckDB twin rebuilds the identical URL.
    """
    did = F.col(id_col).cast("string")
    m3 = F.col(id_col) % 3
    m4 = F.col(id_col) % 4
    scheme = F.when(m3 == 0, "HTTPS").when(m3 == 1, "http") \
        .otherwise(F.lit("https"))
    user = F.when(m3 == 0, F.lit("crawler@")).otherwise(F.lit(""))
    host = F.concat(F.when(m4 == 0, "WWW.").otherwise(F.lit("cdn.")),
                    F.lower(F.col(src_col)),
                    F.when(m4 == 1, ".co.uk").otherwise(F.lit(".org")))
    port = F.when(m4 == 2, ":443").when(m4 == 3, ":8080") \
        .otherwise(F.lit(""))
    path = F.concat(F.lit("/a//b/doc-"), did,
                    F.when(m3 == 2, "/").otherwise(F.lit("")))
    query = F.concat(F.lit("?z="), did, F.lit("&utm_source=feed&a=1"),
                     F.when(m4 == 0, "&gclid=xyz").otherwise(F.lit("")))
    return df.withColumn(
        "url", F.concat(scheme, F.lit("://"), user, host, port, path,
                        query, F.lit("#frag-"), did))
