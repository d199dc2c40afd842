"""Vectorized URL canonicalization + parsing (pyarrow.compute kernels).

Composes the reference's scattered URL scalar ops — component split
(/root/reference/nft/get_opensea_v1.1.py:249-250,
/root/reference/twitter/timer_twitter.py:67-69), quote/unquote
(/root/reference/twitter/get_user_tweets.py:64), string rewrites
(/root/reference/medium/get_medium1.0.py:58) — into one deterministic
canonical form:

  scheme lower | host lower, no leading www., no default port, no
  trailing dot | fragment dropped | utm_* params dropped, remaining query
  params sorted | dot-segments resolved | trailing slash trimmed (non-root)
  | percent-escapes normalized (RFC 3986 §6.2.2.1-2: hex uppercased,
  unreserved characters decoded, reserved left intact)

One implementation, ``canon_arr``: pyarrow.compute kernels (RE2
extract, vectorized case/trim/join over contiguous Arrow buffers). The
mapInArrow/applyInArrow kernels call it on Arrow columns; ``canon_urls``
and ``url_host`` are its pandas-Series entry points. Arrow needs ~5x
less CPU and far less allocator/memory-bandwidth traffic than
object-dtype pandas, which is what lets the kernel keep scaling when all
cores are busy (object strings saturate DRAM bandwidth long before Arrow
buffers do). tests/canon_oracle.py keeps a pandas ``.str``
implementation that tests/test_canon_properties.py checks this one
against.

The only non-columnar steps (query-param sort, percent-escape rewrite)
run on exploded fragment tables via ``sort_values``/``map``/``groupby``
over just the affected row subset — still no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# RFC 3986 unreserved: ALPHA / DIGIT / "-" / "." / "_" / "~" — decoding
# these never introduces a delimiter, so the rewrite is safe on the whole
# URL string before any component split.
_UNRESERVED = (
    set(range(0x41, 0x5B)) | set(range(0x61, 0x7B))
    | set(range(0x30, 0x3A)) | {0x2D, 0x2E, 0x5F, 0x7E}
)
_HEX2CODE = {f"{i:02X}": i for i in range(256)}
_CODE2CHR = {i: chr(i) for i in range(256)}

# exact set of code points Python's str.strip() removes (c.isspace()),
# so the Arrow utf8_trim matches pandas .str.strip() bit for bit
# (Arrow's utf8_trim_whitespace uses Unicode White_Space, which differs
# at \x1c-\x1f)
_PY_WHITESPACE = "".join(chr(c) for c in range(0x3001) if chr(c).isspace())


def pct_normalize(s: pd.Series) -> pd.Series:
    """Normalize %XX escapes: uppercase hex, decode unreserved chars.

    Reference analog: quote/unquote round-trips scattered through fetch
    paths (/root/reference/twitter/get_user_tweets.py:64,
    /root/reference/twitter/timer_twitter.py:42) — without this, ``%7Eu``
    and ``~u`` hash to different url_hash values and duplicate fetches.
    Columnar: split on '%', map the 2-hex prefix of each escape fragment
    through dict lookups, re-join per row.
    """
    has = s.str.contains("%", regex=False)
    if not has.any():
        return s
    frags = s[has].str.split("%").explode()
    first = ~frags.index.duplicated(keep="first")
    hexpart = frags.str[:2].str.upper()
    code = hexpart.map(_HEX2CODE)
    valid = code.notna() & ~first
    unres = valid & code.isin(_UNRESERVED)
    keep = valid & ~unres
    rest = frags.str[2:]
    out = frags.copy()
    bad = ~first & ~valid  # malformed escape: keep the literal '%'
    out[bad] = "%" + frags[bad]
    out[keep] = "%" + hexpart[keep] + rest[keep]
    out[unres] = code[unres].map(_CODE2CHR) + rest[unres]
    joined = out.groupby(level=0).agg("".join)
    s = s.copy()
    s.loc[joined.index] = joined
    return s


# one pass splits scheme / hostport / path / query and drops the fragment
# (the unanchored tail); replaces six full-string regex passes.
# [0-9] (not \d) keeps Python-re and RE2 behavior identical (Python \d
# matches Unicode digits; RE2 \d is ASCII).
_SPLIT_RE_PA = (
    r"^(?:(?P<scheme>[A-Za-z][A-Za-z0-9+.-]*)://)?"
    r"(?P<hostport>[^/?#]*)(?P<path>[^?#]*)(?:\?(?P<query>[^#]*))?"
)
_HOST_RE_PA = r"^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?P<h>[^/:?#]*)"
_DOT_PASSES = (
    (r"/\./", "/"),
    (r"/[^/]+/\.\./", "/"),
    (r"/\.$", "/"),
    (r"/[^/]+/\.\.$", "/"),
    # a leading "/.." has no segment to pop: RFC 3986 remove_dot_segments
    # drops it ("/../a" -> "/a", "/.." -> "/"); reachable through
    # percent-decoding ("%2E%2E" -> "..", found by Hypothesis)
    (r"^/\.\./", "/"),
    (r"^/\.\.$", "/"),
)


def canon_urls(urls: pd.Series) -> pd.Series:
    """Canonicalize a Series of URL strings (see module docstring)."""
    out, _ = canon_arr(_to_arrow(urls), want_host=False)
    # .to_numpy, NOT .to_pandas: Series data with an explicit index
    # label-ALIGNS (reindexing the RangeIndexed result -> NaN/garbage
    # for any caller passing a filtered/reordered Series)
    return pd.Series(
        out.to_numpy(zero_copy_only=False), index=urls.index,
        name=urls.name, dtype=object,
    )


def _ls(x: str) -> "pa.Scalar":
    """large_string scalar (pyarrow kernels reject mixed string widths)."""
    return pa.scalar(x, pa.large_string())


def _scatter(arr: "pa.Array", idxs: np.ndarray, values: np.ndarray) -> "pa.Array":
    """Replace arr[idxs] with values (subset rewrite, object round-trip)."""
    objs = arr.to_numpy(zero_copy_only=False)
    objs[idxs] = values
    return pa.array(objs, type=pa.large_string())


def _to_arrow(urls: pd.Series) -> "pa.Array":
    """large_string Arrow array of a Series (nulls and NaN become nulls).

    A column holding non-string objects (ints, floats, bytes beside
    them) is rendered with pandas ``astype(str)`` first, nulls as "":
    42 -> "42", b"x" -> "x".
    """
    s = urls if urls.dtype == object else urls.astype(object)
    try:
        return pa.array(s.to_numpy(dtype=object, copy=False),
                        type=pa.large_string(), from_pandas=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError):
        s = urls.fillna("").astype(str)
        return pa.array(s.to_numpy(dtype=object, copy=False),
                        type=pa.large_string())


def canon_arr(
    arr: "pa.Array", want_host: bool = True
) -> tuple["pa.Array", "pa.Array | None"]:
    """Arrow-native canonicalization: pa string array in, pa arrays out.

    The applyInArrow/mapInArrow kernels call this directly so URL strings
    never materialize as Python objects; :func:`canon_urls` is the
    pandas-facing entry point to the same kernels.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = pc.cast(pc.fill_null(arr, ""), pa.large_string())
    if not isinstance(arr, pa.Array):  # chunked: normalize
        arr = arr.combine_chunks()
    arr = pc.utf8_trim(arr, _PY_WHITESPACE)

    # percent-escape rewrite on just the rows that contain '%'
    pmask = pc.match_substring(arr, "%")
    if pc.any(pmask).as_py():
        idxs = pc.indices_nonzero(pmask).to_numpy()
        sub = pd.Series(arr.take(pa.array(idxs)).to_pandas())
        arr = _scatter(arr, idxs, pct_normalize(sub).to_numpy(dtype=object))

    ex = pc.extract_regex(arr, _SPLIT_RE_PA)
    scheme = pc.ascii_lower(pc.struct_field(ex, "scheme"))  # matched => ASCII
    hostport = pc.struct_field(ex, "hostport")
    path = pc.struct_field(ex, "path")
    query = pc.struct_field(ex, "query")

    host = pc.utf8_lower(pc.replace_substring_regex(hostport, r":[0-9]+$", ""))
    host = pc.utf8_rtrim(pc.replace_substring_regex(host, r"^www\.", ""), ".")
    pex = pc.extract_regex(hostport, r":(?P<p>[0-9]+)$")
    port = pc.struct_field(pex, "p")  # null when no explicit port
    default_port = pc.or_(
        pc.and_(pc.equal(scheme, _ls("http")), pc.equal(port, _ls("80"))),
        pc.and_(pc.equal(scheme, _ls("https")), pc.equal(port, _ls("443"))),
    )
    keep_port = pc.and_(
        pc.invert(pc.fill_null(default_port, False)), pc.is_valid(port)
    )
    port_sfx = pc.if_else(
        keep_port,
        pc.binary_join_element_wise(_ls(":"), pc.fill_null(port, _ls("")), _ls("")),
        _ls(""),
    )

    path = pc.if_else(pc.equal(path, _ls("")), _ls("/"), path)
    path = pc.replace_substring_regex(path, r"//+", "/")
    # resolve dot segments: bounded regex passes, only on rows with "/."
    dmask = pc.match_substring(path, "/.")
    if pc.any(dmask).as_py():
        idxs = pc.indices_nonzero(dmask).to_numpy()
        sub = path.take(pa.array(idxs))
        for _ in range(16):
            before = sub
            for pat, rep in _DOT_PASSES:
                sub = pc.replace_substring_regex(sub, pat, rep)
            if pc.all(pc.equal(before, sub)).as_py():
                break
        path = _scatter(path, idxs, sub.to_numpy(zero_copy_only=False))
    trail = pc.and_(
        pc.greater(pc.utf8_length(path), 1), pc.ends_with(path, pattern="/")
    )
    path = pc.if_else(trail, pc.utf8_rtrim(path, "/"), path)
    path = pc.if_else(pc.equal(path, _ls("")), _ls("/"), path)

    # query: drop utm_*, sort params — pandas explode/sort on the subset
    qmask = pc.greater(pc.utf8_length(pc.fill_null(query, _ls(""))), 0)
    n = len(arr)
    q_np = np.full(n, "", dtype=object)
    if pc.any(qmask).as_py():
        idxs = pc.indices_nonzero(qmask).to_numpy()
        sub = pd.Series(query.take(pa.array(idxs)).to_pandas())
        q_np[idxs] = _canon_query(sub).to_numpy(dtype=object)
    q = pa.array(q_np, type=pa.large_string())

    out = pc.binary_join_element_wise(
        pc.if_else(pc.equal(scheme, _ls("")), _ls("http"), scheme),
        _ls("://"), host, port_sfx, path, q, _ls(""),
    )
    out = pc.if_else(pc.greater(pc.utf8_length(host), 0), out, arr)
    if not want_host:  # plain canon callers skip a full-column regex pass
        return out, None
    host_out = pc.struct_field(pc.extract_regex(out, _HOST_RE_PA), "h")
    return out, pc.fill_null(host_out, _ls(""))


def _canon_query(query: pd.Series) -> pd.Series:
    has_q = query.notna() & (query.str.len() > 0)
    if not has_q.any():
        return pd.Series("", index=query.index)
    parts = query[has_q].str.split("&").explode()
    parts = parts[(parts.str.len() > 0) & ~parts.str.match(r"^utm_[^=]*(=|$)")]
    parts = parts.sort_values(kind="stable").sort_index(kind="stable")
    joined = parts.groupby(level=0).agg("&".join)
    out = pd.Series("", index=query.index)
    nonempty = joined[joined.str.len() > 0]
    out.loc[nonempty.index] = "?" + nonempty
    return out


def url_host(urls: pd.Series) -> pd.Series:
    """Host component of (already canonical) URLs."""
    arr = pc.fill_null(_to_arrow(urls), "")
    h = pc.struct_field(pc.extract_regex(arr, _HOST_RE_PA), "h")
    return pd.Series(  # .to_numpy, not .to_pandas: see canon_urls
        pc.fill_null(h, "").to_numpy(zero_copy_only=False),
        index=urls.index, dtype=object,
    )
