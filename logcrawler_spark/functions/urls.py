"""URL canonicalization (SURT) as pure Column-expression pipelines.

Reference analog: the string-parsing of path components into keys
(``01_input_game_data.py:18-27,102-105``) and prefix-strip normalization
(``01_input_game_data.py:34,117-131`` — SURVEY.md §2.8 C2). Here the keys are
URLs: canonical form + SURT + ``xxhash64`` is the engine's primary key for
the URL-seen set and the frontier.

Everything is built from ``pyspark.sql.functions`` only — no Python UDFs —
so at 10^10 URLs the whole pipeline stays inside WholeStageCodegen and is
eligible for predicate pushdown / partition pruning on the derived hash.

Canonicalization rules (applied in order):
1. scheme lowercased; missing scheme -> ``http``
2. userinfo dropped; host lowercased, trailing dot stripped
3. default ports stripped (``:80`` for http, ``:443`` for https)
4. fragment dropped
5. empty path -> ``/``; duplicate slashes collapsed
6. query parameters sorted lexicographically; empty params dropped;
   ``?`` dropped when query is empty

SURT form (Sort-friendly URI Reordering Transform, as used by public web
archives): host labels reversed and comma-joined, then ``)``, then path and
sorted query — e.g. ``http://www.Example.com:80/a/b?y=2&x=1`` ->
``com,example,www)/a/b?x=1&y=2``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"


def url_scheme(url: Column) -> Column:
    s = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    return F.when(s == "", F.lit("http")).otherwise(s)


def _after_scheme(url: Column) -> Column:
    return F.regexp_replace(url, _SCHEME_RE, "")


def _authority(url: Column) -> Column:
    # authority = up to first /, ? or #; userinfo (user:pass@) dropped
    auth = F.regexp_extract(_after_scheme(url), r"^([^/?#]*)", 1)
    return F.regexp_replace(auth, r"^[^@/]*@", "")


def url_host(url: Column) -> Column:
    """Lowercased host, trailing dot stripped."""
    host = F.lower(F.regexp_extract(_authority(url), r"^([^:]*)", 1))
    return F.regexp_replace(host, r"\.$", "")


def url_port(url: Column) -> Column:
    """Explicit port as string, with default ports normalized away."""
    port = F.regexp_extract(_authority(url), r":(\d+)$", 1)
    scheme = url_scheme(url)
    is_default = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    return F.when(is_default, F.lit("")).otherwise(port)


def _path_query_fragment(url: Column) -> Column:
    return F.regexp_replace(_after_scheme(url), r"^[^/?#]*", "")


def url_path(url: Column) -> Column:
    """Path with duplicate slashes collapsed; empty -> '/'."""
    p = F.regexp_extract(_path_query_fragment(url), r"^([^?#]*)", 1)
    p = F.regexp_replace(p, r"//+", "/")
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_query_canonical(url: Column) -> Column:
    """Query with params sorted and empties dropped ('' when none)."""
    q = F.regexp_extract(_path_query_fragment(url), r"\?([^#]*)", 1)
    parts = F.filter(F.split(q, "&"), lambda x: x != "")
    return F.array_join(F.array_sort(parts), "&")


def canonicalize_url(url: Column) -> Column:
    """Full canonical URL string (rules in module docstring)."""
    scheme = url_scheme(url)
    host = url_host(url)
    port = url_port(url)
    path = url_path(url)
    q = url_query_canonical(url)
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(port != "", F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def surt(url: Column) -> Column:
    """SURT key: reversed host labels + ')' + canonical path/query."""
    host = url_host(url)
    port = url_port(url)
    path = url_path(url)
    q = url_query_canonical(url)
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    return F.concat(
        rev_host,
        F.when(port != "", F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        F.lit(")"),
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def url_hash(url: Column) -> Column:
    """Primary key of the frontier / URL-seen set: ``xxhash64(surt(url))``.

    At scale, tables are bucketed by this value (``pmod(url_hash, n_buckets)``)
    so dedup anti-joins co-locate without a shuffle of the big side.
    """
    return F.xxhash64(surt(url))


def resolve_link(base_url: Column, href: Column) -> Column:
    """Resolve an outlink href against its page URL (absolute/relative/
    protocol-relative/root-relative), as column expressions.

    Reference analog: the UDTF-style one-frame->many-rows flattener
    (``10_input_behavior_frames.py:64-93`` — SURVEY.md §2.10 X6) re-targeted
    to link extraction.
    """
    scheme = url_scheme(base_url)
    host = url_host(base_url)
    base_dir = F.regexp_replace(url_path(base_url), r"[^/]*$", "")
    return (
        F.when(href.rlike(_SCHEME_RE), href)
        .when(
            href.startswith("//"), F.concat(scheme, F.lit(":"), href)
        )
        .when(
            href.startswith("/"),
            F.concat(scheme, F.lit("://"), host, href),
        )
        .otherwise(F.concat(scheme, F.lit("://"), host, base_dir, href))
    )
