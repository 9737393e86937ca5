"""URL canonicalization / hashing / host extraction.

Generalizes the reference's seed-ID validation (crawler.py:92-94 regex
``[A-Z0-9]{4}-[A-Z0-9]{3}``) to URL keys, per SURVEY.md P7. Everything here
is built-in Column expressions (regexp/lower/xxhash64) so the whole layer
stays inside whole-stage codegen — no Python in the hot path.

Canonicalization spec (pinned; tests assert it byte-for-byte):
  1. trim surrounding whitespace
  2. drop the fragment (``#...``)
  3. lowercase scheme and authority (path/query case preserved)
  4. strip default ports (http:80, https:443)
  5. strip a single trailing ``/`` (so ``https://h/`` == ``https://h``)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"
_AUTH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)"
_PATHQ_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*(.*)$"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a URL (see module docstring for the pinned spec)."""
    u = F.regexp_replace(F.trim(url), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    auth = F.lower(F.regexp_extract(u, _AUTH_RE, 1))
    auth = (
        F.when(scheme == F.lit("http"), F.regexp_replace(auth, r":80$", ""))
        .when(scheme == F.lit("https"), F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth)
    )
    pathq = F.regexp_replace(F.regexp_extract(u, _PATHQ_RE, 1), r"/$", "")
    return F.concat(scheme, F.lit("://"), auth, pathq)


def url_host(url: Column) -> Column:
    """Lowercased host (userinfo and port stripped)."""
    auth = F.lower(F.regexp_extract(F.trim(url), _AUTH_RE, 1))
    auth = F.regexp_replace(auth, r"^[^@]*@", "")
    return F.regexp_replace(auth, r":\d+$", "")


def url_hash(canonical_url: Column) -> Column:
    """64-bit key for the seen-set / bucketing (xxhash64, JVM built-in)."""
    return F.xxhash64(canonical_url)

