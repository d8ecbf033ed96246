"""URL column functions — all native Spark SQL expressions (JVM-side,
whole-stage-codegen; no Python in the hot path).

Mirrors: card-id → URL template (``CrawlerPet911/Utils.fs:26-33``), plus
the north_rule's canonical-URL 64-bit hashing and host extraction for
politeness partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Utils.fs:26-27 — percent-encoded city/type/animal segments are dummies the
# server ignores; percent-encoding must be preserved verbatim (the reference
# disables URL canonicalization for this, Downloader.fs:58-64).
CARD_URL_TEMPLATE = (
    "https://pet911.ru/%D0%A5%D0%B0%D0%B1%D0%B0%D1%80%D0%BE%D0%B2%D1%81%D0%BA/"
    "%D0%BD%D0%B0%D0%B9%D0%B4%D0%B5%D0%BD%D0%B0/"
    "%D1%81%D0%BE%D0%B1%D0%B0%D0%BA%D0%B0/%s"
)


def card_id_to_url(card_id: Column) -> Column:
    """Utils.fs:26-27 — fixed template, id appended.  `concat`, not
    `format_string`: the template's literal percent-escapes must survive
    verbatim (the server is case-sensitive about them, Downloader.fs:58-64)."""
    return F.concat(F.lit(CARD_URL_TEMPLATE[: -len("%s")]), card_id)


def url_host(url: Column) -> Column:
    """Host for politeness partitioning (north_rule).

    ``try_parse_url`` not ``parse_url``: a 100 TB frontier always contains
    malformed urls (bad percent-escapes, stray spaces) and ``parse_url``
    THROWS on them — one bad row would kill the whole job.  The regexp
    fallback recovers the host from urls java.net.URI rejects but a
    crawler still wants grouped by site.
    """
    return F.coalesce(
        F.try_parse_url(url, F.lit("HOST")),
        F.nullif(
            F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)",
                             1),
            F.lit(""),
        ),
    )


def url_path_safe(url: Column) -> Column:
    """Path component for robots matching — total (never-throwing) and
    never NULL: ``try_parse_url`` first (exact java.net.URI semantics on
    valid urls), a scheme-authority regexp strip as the fallback for urls
    URI rejects, ``/`` for bare-host urls.  ``nullif``: parse_url yields
    ``''`` (not NULL) for a bare-host url, and 'https://host' must still
    match ``Disallow: /``."""
    return F.coalesce(
        F.nullif(F.try_parse_url(url, F.lit("PATH")), F.lit("")),
        F.nullif(
            F.regexp_extract(
                url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1
            ),
            F.lit(""),
        ),
        F.lit("/"),
    )


def canonicalize_url(url: Column) -> Column:
    """Canonicalization before hashing (north_rule 'canonicalized-URL hash').

    Deliberately conservative, mirroring the reference's insistence on NOT
    normalizing percent-encoding (Downloader.fs:58-64,77-79): we only trim
    surrounding whitespace, drop a literal fragment, and strip a single
    trailing slash on non-root paths.  All native expressions.
    """
    c = F.trim(url)
    c = F.regexp_replace(c, r"#.*$", "")
    c = F.regexp_replace(c, r"(?<=[^/])/$", "")
    return c


def url_hash(url: Column) -> Column:
    """64-bit key of the canonical URL (north_rule: xxhash64)."""
    return F.xxhash64(canonicalize_url(url))
