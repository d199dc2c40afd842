"""Property-based tests for URL canonicalization (Hypothesis).

The Arrow kernel must agree with a per-row urllib-based model and with
the pandas oracle (tests/canon_oracle.py) on generated URLs, and must be
idempotent / order-insensitive over batches.
"""

from __future__ import annotations

import pandas as pd
from canon_oracle import canon_urls_pd
from hypothesis import given, settings
from hypothesis import strategies as st
from urllib.parse import urlsplit

from crawlers_spark.functions.urls import canon_urls, url_host

host_label = st.from_regex(r"[a-z]([a-z0-9-]{0,8}[a-z0-9])?", fullmatch=True)
hosts = st.builds(lambda a, b: f"{a}.{b}", host_label, st.sampled_from(["com", "test", "org"]))
path_seg = st.from_regex(r"[A-Za-z0-9._~-]{1,8}", fullmatch=True)
paths = st.lists(path_seg, max_size=4).map(lambda segs: "/" + "/".join(segs))
params = st.lists(
    st.tuples(st.from_regex(r"[a-z]{1,6}", fullmatch=True),
              st.from_regex(r"[A-Za-z0-9]{0,6}", fullmatch=True)),
    max_size=4,
)


def model_canon(url: str) -> str:
    """Per-row reference model with urllib parsing (independent impl)."""
    sp = urlsplit(url)
    scheme = (sp.scheme or "http").lower()
    host = sp.hostname or ""
    host = host[4:] if host.startswith("www.") else host
    host = host.rstrip(".")
    port = f":{sp.port}" if sp.port and not (
        (scheme == "http" and sp.port == 80) or (scheme == "https" and sp.port == 443)
    ) else ""
    path = sp.path or "/"
    # resolve dot segments
    out: list[str] = []
    for seg in path.split("/"):
        if seg == "." or seg == "":
            continue
        if seg == "..":
            if out:
                out.pop()
        else:
            out.append(seg)
    path = "/" + "/".join(out)
    if len(path) > 1 and path.endswith("/"):
        path = path.rstrip("/")
    q = [p for p in sp.query.split("&") if p and not p.startswith("utm_")]
    query = ("?" + "&".join(sorted(q))) if q else ""
    return f"{scheme}://{host}{port}{path}{query}"


@given(
    scheme=st.sampled_from(["http", "HTTP", "https"]),
    www=st.booleans(),
    host=hosts,
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=paths,
    q=params,
    frag=st.sampled_from(["", "#x", "#section-2"]),
)
@settings(max_examples=200, deadline=None)
def test_matches_urllib_model(scheme, www, host, port, path, q, frag):
    query = "&".join(f"{k}={v}" for k, v in q)
    url = f"{scheme}://{'www.' if www else ''}{host}{port}{path}"
    if query:
        url += "?" + query
    url += frag
    got = canon_urls(pd.Series([url]))[0]
    assert got == model_canon(url), url
    assert got == canon_urls_pd(pd.Series([url]))[0], url


def model_pct(url: str) -> str:
    """Independent per-row RFC 3986 §6.2.2 model via re.sub + urllib rules."""
    import re

    unreserved = (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
    )

    def fix(m):
        c = int(m.group(1), 16)
        return chr(c) if chr(c) in unreserved else "%" + m.group(1).upper()

    return re.sub(r"%([0-9A-Fa-f]{2})", fix, url)


pct_codes = st.sampled_from(
    # unreserved (decode), reserved/sub-delims (keep, uppercase), high (keep)
    ["41", "5a", "61", "7A", "30", "2d", "2E", "5f", "7e", "2c", "7c", "24",
     "40", "3b", "c3", "fF"]
)
pct_segs = st.lists(
    st.tuples(pct_codes, st.from_regex(r"[A-Za-z0-9]{0,4}", fullmatch=True)),
    min_size=1, max_size=4,
).map(lambda pairs: "".join(f"%{h}{tail}" for h, tail in pairs))


@given(host=hosts, seg=pct_segs, tail=st.sampled_from(["", "/x", "?a=%41&b=%2c"]))
@settings(max_examples=200, deadline=None)
def test_pct_matches_urllib_model(host, seg, tail):
    url = f"http://{host}/{seg}{tail}"
    got = canon_urls(pd.Series([url]))[0]
    assert got == model_canon(model_pct(url)), url
    assert got == canon_urls_pd(pd.Series([url]))[0], url


# messy spellings the model does not cover: no scheme, empty hosts,
# stray delimiters, whitespace, repeated slashes, dot segments, escapes
url_chars = st.sampled_from(
    list("aZ09.-_~:/?#&=%@+ \t") + ["//", "/./", "/../", "www.", "http://",
                                    "HTTPS://", ":80", ":443", "utm_x=1", "%7e", "%2F"]
)
messy_urls = st.lists(url_chars, max_size=12).map("".join)


@given(st.lists(messy_urls, min_size=1, max_size=8))
@settings(max_examples=300, deadline=None)
def test_arrow_matches_pandas_oracle(urls):
    s = pd.Series(urls, dtype=object)
    assert list(canon_urls(s)) == list(canon_urls_pd(s)), urls


def test_pct_unit_cases():
    cases = {
        "http://a.test/%7Euser": "http://a.test/~user",
        "http://a.test/%41%42c": "http://a.test/ABc",
        "http://a.test/a%2Fb": "http://a.test/a%2Fb",      # reserved kept
        "http://a.test/a%2fb": "http://a.test/a%2Fb",      # hex uppercased
        "http://a.test/100%zz": "http://a.test/100%zz",    # malformed kept
        "http://a.test/x%": "http://a.test/x%",
        "http://a.test/?q=%61%3D1": "http://a.test/?q=a%3D1",
        # leading dot-dot pops to root (RFC 3986 remove_dot_segments);
        # reachable via percent-decoding — Hypothesis-found regression
        "http://a.test/%2E%2E": "http://a.test/",
        "http://a.test/../x": "http://a.test/x",
        "http://a.test/../../x": "http://a.test/x",
        "http://a.test/..": "http://a.test/",
        "http://a.test/..x": "http://a.test/..x",  # not a dot segment
    }
    got = canon_urls(pd.Series(list(cases)))
    assert list(got) == list(cases.values())


@given(st.lists(hosts, min_size=1, max_size=10))
@settings(max_examples=50, deadline=None)
def test_idempotent_and_rowwise(host_list):
    urls = pd.Series([f"http://WWW.{h.upper()}:80/a/../b?utm_source=x&z=1&a=2" for h in host_list])
    once = canon_urls(urls)
    twice = canon_urls(once)
    assert list(once) == list(twice)
    # batch result equals row-at-a-time results (no cross-row effects)
    singles = [canon_urls(pd.Series([u]))[0] for u in urls]
    assert list(once) == singles


def test_non_default_index_preserved_not_aligned():
    """pandas UDF slices and library callers may pass Series with
    filtered/reordered indexes; results must be positional, never
    label-aligned (a reindex silently returns NaN or other rows'
    values)."""
    urls = ["http://A.test/x/../y", "http://B.test:80/p", "http://C.test/?b=2&a=1"]
    want = list(canon_urls(pd.Series(urls)))

    shifted = pd.Series(urls, index=[5, 17, 23])
    got = canon_urls(shifted)
    assert list(got) == want and list(got.index) == [5, 17, 23]
    assert not got.isna().any()

    # overlapping-but-permuted integer index: label alignment would
    # return the WRONG rows' values without any NaN tell
    perm = pd.Series(urls, index=[2, 1, 0])
    assert list(canon_urls(perm)) == want

    assert list(url_host(pd.Series(want, index=[9, 4, 7]))) == [
        "a.test", "b.test", "c.test"
    ]


def test_mixed_type_columns_render_as_strings():
    """Object columns holding non-strings: nulls and NaN canonicalize to
    "", other objects to the canonical form of their ``str`` (bytes
    decoded), in both ``canon_urls`` and ``url_host``."""
    mixed = pd.Series(
        ["HTTP://WWW.Ex.com:80/a/../b?utm_x=1&z=2&a=1#f", None, 42,
         b"http://x.com/", float("nan")],
        dtype=object,
    )
    assert list(canon_urls(mixed)) == [
        "http://ex.com/b?a=1&z=2", "", "http://42/", "http://x.com/", "",
    ]
    assert list(url_host(pd.Series(["http://a.com/x", None, 3]))) == [
        "a.com", "", "3",
    ]
