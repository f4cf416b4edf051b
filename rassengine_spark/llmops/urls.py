"""URL-level curation for crawl corpora: the filter stage that runs
BEFORE any text is even decoded (C4/RefinedWeb both gate on URL lists —
it is the cheapest possible reject). All pure Column expressions: domain
extraction and flags fuse into the scan, never a per-row Python call.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# scheme://[userinfo@]host[:port]/path?query#fragment
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"


def url_host(url: Column) -> Column:
    """Lowercased host, '' when the value does not parse as a URL."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


# The high-traffic multi-label public suffixes (a pragmatic subset of the
# Mozilla Public Suffix List — swap in the full PSL as a broadcast table
# when exactness beyond these matters). Kept sorted for readability.
MULTI_LABEL_SUFFIXES = [
    "ac.uk", "co.uk", "gov.uk", "org.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "com.tr",
    "co.in", "co.kr", "co.nz", "co.za",
]


def registered_domain(url: Column) -> Column:
    """Registrable domain: last two host labels, or last THREE when the
    final two form a known multi-label public suffix
    ('news.bbc.co.uk' -> 'bbc.co.uk', 'docs.example.co' -> 'example.co')
    — the grouping key corpus policies are written against."""
    parts = F.split(url_host(url), r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2),
                        F.element_at(parts, -1))
    last3 = F.concat_ws(".", F.element_at(parts, -3),
                        F.element_at(parts, -2), F.element_at(parts, -1))
    is_multi = last2.isin(MULTI_LABEL_SUFFIXES)
    return F.when((n >= 3) & is_multi, last3) \
            .when(n >= 2, last2) \
            .otherwise(url_host(url))


def url_features(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """(id, host, domain, path_depth, has_query, is_ip, suspect_ext):
    the per-URL columns curation rules key on. suspect_ext flags
    non-document payload extensions a text pipeline drops unseen."""
    u = F.col(url_col)
    # authority is [^/?#]*, NOT [^/]*: a path-less URL's query may contain
    # slashes ('https://x.com?next=/a/b' has path depth 0)
    path = F.regexp_extract(u,
                            r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)",
                            1)
    depth = F.when(path == "", 0).otherwise(
        F.size(F.filter(F.split(path, "/"), lambda s: s != "")))
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]{1,5})$", 1))
    return df.select(
        F.col(id_col).alias("id"),
        url_host(u).alias("host"),
        registered_domain(u).alias("domain"),
        depth.cast("int").alias("path_depth"),
        (F.instr(u, "?") > 0).alias("has_query"),
        url_host(u).rlike(r"^\d{1,3}(\.\d{1,3}){3}$").alias("is_ip"),
        ext.isin("jpg", "jpeg", "png", "gif", "css", "js", "ico", "svg",
                 "woff", "zip", "exe", "mp3", "mp4", "pdf")
           .alias("suspect_ext"))


# tracking params every major canonicalizer strips (param name alone or
# with a value)
TRACKING_PARAM_RE = r"^(utm_[^=&]*|fbclid|gclid|msclkid|mc_eid)(=.*)?$"

_URL_PARTS_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(.*)$"


def canonical_url(url: Column) -> Column:
    """Canonical form for URL-level dedup (the key `GROUP BY url` joins
    and blocklists should use — raw crawl URLs spell the same page a
    dozen ways):

    - fragment dropped (#... never reaches the server)
    - scheme and host:port lowercased (RFC 3986 §6.2.2.1); userinfo,
      path and query case are preserved (significant on most servers)
    - default port stripped (:80 for http, :443 for https)
    - tracking params removed (utm_*, fbclid, gclid, msclkid, mc_eid)
    - remaining query params sorted bytewise; '?' dropped when none
      survive
    - empty path becomes '/' (RFC 3986 §6.2.3)

    Values that do not parse as scheme://authority pass through trimmed
    and otherwise untouched (a canonicalizer must never invent a URL).
    Pure Column expression — fuses into the scan like every other
    curation column here."""
    u = F.trim(url)
    nf = F.substring_index(u, "#", 1)
    scheme = F.lower(F.regexp_extract(nf, _URL_PARTS_RE, 1))
    auth0 = F.regexp_extract(nf, _URL_PARTS_RE, 2)
    # userinfo (up to the first '@', which RFC 3986 requires be encoded
    # inside userinfo) keeps its case; only host:port lowercases
    userinfo = F.regexp_extract(auth0, "^([^@]*@)", 1)
    hostport = F.lower(auth0.substr(F.length(userinfo) + 1,
                                    F.lit(1 << 30)))
    hostport = F.when(scheme == "http",
                      F.regexp_replace(hostport, ":80$", "")) \
                .when(scheme == "https",
                      F.regexp_replace(hostport, ":443$", "")) \
                .otherwise(hostport)
    auth = F.concat(userinfo, hostport)
    path = F.regexp_extract(nf, _URL_PARTS_RE, 3)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qs = F.regexp_extract(nf, _URL_PARTS_RE, 4)   # '?a=1&...' or ''
    params = F.array_sort(F.filter(
        F.split(F.substring(qs, 2, 1 << 30), "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE)))
    tail = F.when(F.size(params) > 0,
                  F.concat(F.lit("?"), F.array_join(params, "&"))) \
            .otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), auth, path, tail)
    return F.when(scheme == "", u).otherwise(canon)
