"""Pandas oracle for URL canonicalization
(crawlers_spark/functions/urls.py).

``canon_urls_pd`` is the canonical form written with pandas ``.str``
regex operations instead of pyarrow.compute kernels. It shares the
module's percent-escape rewrite (``pct_normalize``), dot-segment
patterns and query-parameter sort; splitting, case folding, ports, dot
resolution and assembly are its own. tests/test_canon_properties.py
checks ``canon_urls`` against it.
"""

from __future__ import annotations

import pandas as pd

from crawlers_spark.functions.urls import _DOT_PASSES, _canon_query, pct_normalize

# scheme / hostport / path / query in one pass; the fragment is the
# unanchored tail
_SPLIT_RE = r"^(?:([A-Za-z][A-Za-z0-9+.-]*)://)?([^/?#]*)([^?#]*)(?:\?([^#]*))?"


def canon_urls_pd(urls: pd.Series) -> pd.Series:
    """``canon_urls`` in pandas ``.str`` operations."""
    s = urls.fillna("").astype(str).str.strip()
    s = pct_normalize(s)

    parts = s.str.extract(_SPLIT_RE)
    scheme = parts[0].str.lower()
    hostport = parts[1]
    path = parts[2]
    query = parts[3]

    host = hostport.str.replace(r":[0-9]+$", "", regex=True).str.lower()
    host = host.str.replace(r"^www\.", "", regex=True).str.rstrip(".")
    port = hostport.str.extract(r":([0-9]+)$", expand=False)
    default_port = pd.Series(
        ((scheme == "http") & (port == "80")) | ((scheme == "https") & (port == "443")),
        index=s.index,
    )
    port_part = port.where(~default_port & port.notna(), None)
    port_sfx = (":" + port_part).fillna("")

    path = path.replace("", "/")
    slashes = path.str.contains("//", regex=False)
    if slashes.any():
        path.loc[slashes] = path.loc[slashes].str.replace(r"//+", "/", regex=True)
    dots = path.str.contains("/.", regex=False)
    if dots.any():
        sub = path.loc[dots]
        for _ in range(16):
            before = sub
            for pat, rep in _DOT_PASSES:
                sub = sub.str.replace(pat, rep, regex=True)
            if before.equals(sub):
                break
        path.loc[dots] = sub
    trail = (path.str.len() > 1) & path.str.endswith("/")
    if trail.any():
        path.loc[trail] = path.loc[trail].str.rstrip("/")
    path = path.mask(path == "", "/")

    q = _canon_query(query)

    out = scheme.fillna("http") + "://" + host + port_sfx + path + q
    return out.where(host.str.len() > 0, s)
