"""URL canonicalization & the link-filter column algebra (F1-F5).

All hot-path operators here are pure Column expressions (whole-stage
codegen, pushdown-friendly); the pandas-UDF variants exist only as
byte-exactness oracles for the ``urljoin`` corner cases our property
tests sweep.

Reference semantics reproduced (file:line cites into /root/reference):

* F1 fragment strip:   ``href.split("#")[0]``          crawler.py:201,249
* F2 protocol filter:  drop '' / mailto: / tel:        crawler.py:202-203,250-251
* F3 absolutize:       ``urljoin(scheme://netloc, href)`` — note the base
                       is the page's *origin*, not the full page URL, so
                       relative hrefs resolve against "/"  crawler.py:198,245
* F4 scope predicate:  netloc == domain AND path startswith root_path
                       (root from ``base_exclude or root_url``)
                       crawler.py:137-140,152-154
* F5 exclude patterns: regex blacklist, any-match drops crawler.py:156-166
"""

from __future__ import annotations

from functools import reduce
from urllib.parse import urljoin, urlparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*:"


def strip_fragment(href: Column) -> Column:
    """F1 — everything before the first ``#`` (empty if href starts with #)."""
    return F.when(href.contains("#"), F.substring_index(href, "#", 1)).otherwise(href)


def is_followable(href: Column) -> Column:
    """F2 — non-empty and not mailto:/tel: (post fragment-strip)."""
    return (href != F.lit("")) & ~href.startswith("mailto:") & ~href.startswith("tel:")


def origin_of(url: Column) -> Column:
    """``scheme://netloc`` of a URL (the reference's join base)."""
    return F.concat(
        F.parse_url(url, F.lit("PROTOCOL")), F.lit("://"), F.parse_url(url, F.lit("HOST"))
    )


def absolutize(page_url: Column, href: Column) -> Column:
    """F3 — builtin urljoin against the page origin.

    Covers the href shapes a real page emits (absolute, protocol-relative,
    root-relative, bare-relative); byte-equivalence to
    ``urljoin(origin, href)`` over this grammar is property-tested against
    :func:`absolutize_udf`.
    """
    origin = origin_of(page_url)
    scheme = F.parse_url(page_url, F.lit("PROTOCOL"))
    return (
        F.when(href.rlike(_SCHEME_RE), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(F.concat(origin, F.lit("/"), href))
    )


@pandas_udf(StringType())
def _urljoin_series(origin: pd.Series, href: pd.Series) -> pd.Series:
    return pd.Series(
        [urljoin(o if o else "", h if h else "") for o, h in zip(origin, href)],
        dtype="object",
    )


def absolutize_udf(page_url: Column, href: Column) -> Column:
    """Exact ``urllib.parse.urljoin`` (Arrow-batched) — oracle/fallback."""
    return _urljoin_series(origin_of(page_url), href)


def host_of(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


def path_of(url: Column) -> Column:
    return F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))


def in_scope(url: Column, domain: str, root_path: str, make_root_filter: bool = True) -> Column:
    """F4 — same-host (+ root-path prefix when ``make_root_filter``)."""
    same_host = host_of(url) == F.lit(domain)
    if not make_root_filter:
        return same_host
    return same_host & path_of(url).startswith(root_path)


def scope_root(root_url: str, base_exclude: str | None) -> tuple[str, str]:
    """(domain, root_path) per crawler.py:137-140: root_path gets a
    trailing slash; empty path means '/'. Parsed once, driver-side."""
    start = urlparse(base_exclude or root_url)
    root_path = (start.path.rstrip("/") + "/") if start.path else "/"
    return start.netloc, root_path


def excluded(url: Column, patterns: list[str]) -> Column:
    """F5 — true if ANY blacklist regex finds a match (re.search semantics:
    ``rlike`` is unanchored, same as ``regex.search``)."""
    if not patterns:
        return F.lit(False)
    return reduce(lambda a, b: a | b, (url.rlike(p) for p in patterns))


def catalog_url_filter(url: Column) -> Column:
    """F9 (config_generator.py:36,183-189): keep if any catalog keyword in
    the lowered URL AND '.edu' in it AND 'pdf' not in it."""
    lowered = F.lower(url)
    return (
        lowered.rlike("catalog|bulletin|course|curriculum|description|current")
        & lowered.contains(".edu")
        & ~lowered.contains("pdf")
    )


def section_key(url: Column) -> Column:
    """Stratification key: path minus last segment (crawler.py:77-82)."""
    p = F.regexp_replace(path_of(url), r"/+$", "")
    return F.when(p.contains("/"), F.regexp_replace(p, r"/[^/]*$", "")).otherwise(p)
