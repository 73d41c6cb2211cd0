"""URL canonicalization + URL-keyed dedup for web-scale corpora.

Crawl pipelines dedup by URL before touching content: the same page is
fetched via http/https, with/without default ports, fragments, tracking
params, and trailing slashes. Canonicalize first, then the dedup is the
same hash-agg shape as the content fingerprint
(``dedup.exact_dedup_keep_min`` keyed on :func:`canonical_url`; it moves
canonical URLs, never payloads).

All transforms are single-pass regexp/string expressions kept inside the
Java∩RE2 subset (no lookaround, numbered-group replacements only) so the
DuckDB twin runs the SAME patterns — pure codegen, stateless map, no UDFs
(pattern: operators/text.py PII regexes).

Canonical form (RFC 3986-lite, the crawl-dedup subset):
  1. scheme + host[:port] lowercased (path/query stay case-sensitive);
  2. `#fragment` dropped;
  3. tracking params dropped (utm_*, fbclid, gclid, ref) — other params
     kept in original order (order can be semantic);
  4. default ports `:80` / `:443` dropped;
  5. trailing `/` dropped from non-root paths; a bare `?` left by step 3
     dropped.

Reference analog: the REST ingestion layer keys its bronze snapshots by
request URL (`src/nhl_pipeline/ingestion/api_utils.py:37-47` builds the
endpoint URLs the S3 keys derive from); canonicalization is what makes
URL-keyed idempotence robust when upstreams vary formatting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tracking params to strip (whole param names only; non-capturing so the
# surrounding patterns own the group numbers; `(?:p&)+` removes RUNS of
# consecutive tracking params in one pass). The NAME match is
# case-insensitive via a scoped (?i:...) group — ?UTM_SOURCE=x is the same
# tracker — while values and all non-tracking params stay case-sensitive.
# (?i:...) is in the Java∩RE2 subset, so the DuckDB twin shares the pattern.
_TRACKING = r"(?i:utm_[a-z]+|fbclid|gclid|ref)=[^&#]*"


def canonical_url(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # Lowercase ONLY scheme + host: userinfo (user:pass@) is case-sensitive
    # per RFC 3986, so the authority is split at its '@' (if any) and the
    # credential part is carried through verbatim.
    scheme = F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*://)", 1)
    userinfo = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*@)", 1)
    hostport = F.regexp_extract(
        c, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)", 1
    )
    head_len = F.length(scheme) + F.length(userinfo) + F.length(hostport)
    rest = F.substring(c, head_len + 1, F.lit(1 << 30))
    u = F.when(
        F.length(scheme) > 0,
        F.concat(F.lower(scheme), userinfo, F.lower(hostport), rest),
    ).otherwise(c)
    u = F.regexp_replace(u, r"#.*$", "")                              # fragment
    u = F.regexp_replace(u, r"([?&])(?:" + _TRACKING + r"&)+", r"$1")  # mid runs
    u = F.regexp_replace(u, r"([?&])" + _TRACKING + r"$", "")         # last param
    u = F.regexp_replace(u, r"\?$", "")                               # bare '?'
    # default ports are scheme-specific: :80 is default ONLY for http,
    # :443 ONLY for https — http://x:443 is a different origin and stays
    u = F.regexp_replace(u, r"^(http://[^/?#]+):80([/?#]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#]+):443([/?#]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https?://[^/?#]+(/[^?#]*[^/?#]))/(\?|$)", r"$1$3")
    return u


def canonical_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonical_url` — same patterns, RE2 syntax."""
    scheme = f"regexp_extract({expr}, '^([A-Za-z][A-Za-z0-9+.-]*://)', 1)"
    userinfo = f"regexp_extract({expr}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*@)', 1)"
    hostport = (
        f"regexp_extract({expr},"
        f" '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)', 1)"
    )
    head_len = f"(length({scheme}) + length({userinfo}) + length({hostport}))"
    rest = f"substring({expr}, {head_len} + 1)"
    u = (
        f"(CASE WHEN length({scheme}) > 0 THEN"
        f" concat(lower({scheme}), {userinfo}, lower({hostport}), {rest})"
        f" ELSE {expr} END)"
    )
    u = f"regexp_replace({u}, '#.*$', '')"
    u = f"regexp_replace({u}, '([?&])(?:{_TRACKING}&)+', '\\1', 'g')"
    u = f"regexp_replace({u}, '([?&]){_TRACKING}$', '')"
    u = f"regexp_replace({u}, '\\?$', '')"
    u = f"regexp_replace({u}, '^(http://[^/?#]+):80([/?#]|$)', '\\1\\2')"
    u = f"regexp_replace({u}, '^(https://[^/?#]+):443([/?#]|$)', '\\1\\2')"
    u = (
        f"regexp_replace({u},"
        f" '^(https?://[^/?#]+(/[^?#]*[^/?#]))/(\\?|$)', '\\1\\3')"
    )
    return u

