"""URL parse / normalize / primary-key kernel.

Reimplements the reference's URL handling semantics from public
knowledge of Go's ``net/url`` and purell's safe-normalization flags
(reference behavior: url.go:83-128, golden table url_test.go:17-57):

* ``normalize_url`` = purell ``FlagsSafe|FlagRemoveFragment``
  (lowercase scheme+host, uppercase %XX escapes, decode unnecessary /
  encode necessary escapes, remove default port, drop fragment,
  drop empty query separator) **plus** walker's extras: strip
  ``;sid=...`` path tails for every sid in ``purge_sid_list``
  (case-insensitive, url.go:49-72,112-115) and re-encode the query
  with purged sid params, keys sorted (Go ``url.Values.Encode()``,
  url.go:117-127).
* ``primary_key`` = the links-table 5-tuple
  ``(dom, subdom, path=RequestURI(), proto)`` (url.go:210-228).
* ``resolve`` = RFC 3986 reference resolution (url.go:233-238).

All functions are pure and operate on strings; batch wrappers live in
:mod:`walker_spark.functions.udfs`.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from walker_spark.functions import psl

DEFAULT_PURGE_SIDS = ("jsessionid", "phpsessid", "aspsessionid")

# Epoch == walker's NotYetCrawled sentinel (fetcher.go:26-30).
NOT_YET_CRAWLED = 0  # seconds since epoch


class URLParseError(ValueError):
    pass


# --- Go net/url escaping rules -------------------------------------------
# Path re-encoding keeps alnum, -_.~ and $&+,/:;=@ (Go shouldEscape,
# mode encodePath); query components keep only alnum and -_.~ with
# space encoded as '+' (mode encodeQueryComponent).

_PATH_SAFE = frozenset(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    b"-_.~$&+,/:;=@"
)
_QUERY_SAFE = frozenset(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_.~"
)
_HEX = "0123456789ABCDEF"
_HEXDIG = frozenset("0123456789abcdefABCDEF")


def _escape_bytes(raw: bytes, safe: frozenset, space_plus: bool) -> str:
    out = []
    for b in raw:
        if b in safe:
            out.append(chr(b))
        elif space_plus and b == 0x20:
            out.append("+")
        else:
            out.append("%" + _HEX[b >> 4] + _HEX[b & 15])
    return "".join(out)


def _unescape(s: str, plus_space: bool) -> bytes:
    """Percent-decode to bytes; raises URLParseError on a bad escape
    (Go url.Parse rejects the whole URL on an invalid path escape)."""
    if plus_space:
        s = s.replace("+", " ")
    if "%" not in s:
        return s.encode("utf-8")
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%":
            if i + 2 >= n or s[i + 1] not in _HEXDIG or s[i + 2] not in _HEXDIG:
                raise URLParseError(f"invalid URL escape in {s!r}")
            out.append(int(s[i + 1 : i + 3], 16))
            i += 3
        else:
            out.extend(c.encode("utf-8"))
            i += 1
    return bytes(out)


_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+\-.]*):(.*)$", re.DOTALL)


class ParsedURL:
    """Minimal struct-of-strings URL, modeled after Go url.URL:
    ``path`` is stored decoded; serialization re-escapes it."""

    __slots__ = ("scheme", "host", "path", "query", "fragment", "opaque", "has_authority")

    def __init__(self):
        self.scheme = ""
        self.host = ""
        self.path = ""  # decoded
        self.query = ""  # raw
        self.fragment = ""
        self.opaque = ""
        self.has_authority = False

    # -- serialization (Go url.URL.String) --
    def escaped_path(self) -> str:
        return _escape_bytes(self.path.encode("utf-8", "surrogateescape"), _PATH_SAFE, False)

    def __str__(self) -> str:
        buf = []
        if self.scheme:
            buf.append(self.scheme + ":")
        if self.opaque:
            buf.append(self.opaque)
        else:
            if self.has_authority or self.host:
                buf.append("//" + self.host)
            p = self.escaped_path()
            if p and not p.startswith("/") and self.host:
                buf.append("/")
            buf.append(p)
        if self.query:
            buf.append("?" + self.query)
        if self.fragment:
            buf.append("#" + self.fragment)
        return "".join(buf)

    def request_uri(self) -> str:
        """Path+query as stored in the links-table ``path`` column
        (Go URL.RequestURI, url.go:224)."""
        if self.opaque:
            result = self.opaque
            if not result.startswith("/"):
                result = self.scheme + ":" + result
        else:
            result = self.escaped_path() or "/"
        if self.query:
            result += "?" + self.query
        return result

    def hostname(self) -> str:
        """Host without port."""
        h = self.host
        if h.startswith("["):  # ipv6
            return h.split("]")[0].lstrip("[")
        return h.split(":")[0]


def parse_url(ref: str) -> ParsedURL:
    """Go url.Parse equivalent (errors raise URLParseError).
    Reference: url.go:83-90."""
    u = ParsedURL()
    rest = ref
    # fragment first
    if "#" in rest:
        rest, u.fragment = rest.split("#", 1)
    m = _SCHEME_RE.match(rest)
    if m:
        u.scheme = m.group(1).lower()
        rest = m.group(2)
    if "?" in rest:
        rest, u.query = rest.split("?", 1)
    if rest.startswith("//"):
        u.has_authority = True
        rest = rest[2:]
        slash = len(rest)
        for i, c in enumerate(rest):
            if c == "/":
                slash = i
                break
        authority, rest = rest[:slash], rest[slash:]
        # userinfo is parsed but not retained (walker never uses it
        # for identity — url.go:146-153 note (b))
        if "@" in authority:
            authority = authority.rsplit("@", 1)[1]
        u.host = authority
    elif u.scheme and not rest.startswith("/"):
        # opaque form: scheme:opaque-data
        u.opaque = rest
        return u
    u.path = _unescape(rest, plus_space=False).decode("utf-8", "surrogateescape")
    return u


# --- Go url.Values / query handling ---------------------------------------

def parse_query(raw: str) -> list[tuple[str, str]]:
    """Go url.ParseQuery (2014 vintage): splits on '&' and ';',
    '+' means space, drops pairs with invalid escapes."""
    pairs: list[tuple[str, str]] = []
    for chunk in re.split("[&;]", raw):
        if not chunk:
            continue
        key, eq, val = chunk.partition("=")
        try:
            k = _unescape(key, plus_space=True).decode("utf-8", "surrogateescape")
            v = _unescape(val, plus_space=True).decode("utf-8", "surrogateescape")
        except URLParseError:
            continue
        pairs.append((k, v))
    return pairs


def encode_query(pairs: list[tuple[str, str]]) -> str:
    """Go url.Values.Encode(): keys sorted, values kept in order,
    QueryEscape both."""
    from collections import defaultdict

    byk: dict[str, list[str]] = defaultdict(list)
    for k, v in pairs:
        byk[k].append(v)
    parts = []
    for k in sorted(byk):
        ek = _escape_bytes(k.encode("utf-8", "surrogateescape"), _QUERY_SAFE, True)
        for v in byk[k]:
            parts.append(ek + "=" + _escape_bytes(v.encode("utf-8", "surrogateescape"), _QUERY_SAFE, True))
    return "&".join(parts)


# --- normalization ---------------------------------------------------------

def _sid_strip_regex(purge_sids) -> re.Pattern | None:
    if not purge_sids:
        return None
    alts = "|".join(rf"\;{re.escape(s)}\=.*$" for s in purge_sids)
    return re.compile("(?i)" + alts)


_DEFAULT_SID_RE = _sid_strip_regex(DEFAULT_PURGE_SIDS)


def normalize_parsed(u: ParsedURL, purge_sids=DEFAULT_PURGE_SIDS) -> ParsedURL:
    """In-place normalization; reference semantics url.go:104-128."""
    # purell FlagsSafe --------------------------------------------------
    u.host = u.host.lower()
    if u.host:
        if u.scheme == "http" and u.host.endswith(":80"):
            u.host = u.host[:-3]
        elif u.scheme == "https" and u.host.endswith(":443"):
            u.host = u.host[:-4]
    u.fragment = ""  # FlagRemoveFragment
    # decode-unnecessary/encode-necessary/uppercase escapes all fall out
    # of storing the decoded path and re-escaping on serialization.

    # walker extras -----------------------------------------------------
    sid_re = _DEFAULT_SID_RE if purge_sids is DEFAULT_PURGE_SIDS else _sid_strip_regex(purge_sids)
    if sid_re is not None:
        u.path = sid_re.sub("", u.path)
    if u.query:
        purge = {s.lower() for s in (purge_sids or ())}
        pairs = [(k, v) for (k, v) in parse_query(u.query) if k.lower() not in purge]
        u.query = encode_query(pairs)
    return u


def normalize_url(ref: str, purge_sids=DEFAULT_PURGE_SIDS) -> str | None:
    """parse + normalize + serialize; None when the URL fails to parse
    (reference: ParseAndNormalizeURL, url.go:94-101)."""
    try:
        u = parse_url(ref)
    except URLParseError:
        return None
    return str(normalize_parsed(u, purge_sids))


def resolve(base: str, ref: str) -> str | None:
    """Make ``ref`` absolute against ``base`` (RFC 3986; reference:
    url.go:233-238 via Go ResolveReference)."""
    try:
        return urljoin(base, ref)
    except ValueError:
        return None


# --- links-table primary key ----------------------------------------------

def primary_key(
    normalized: str, purge_sids=DEFAULT_PURGE_SIDS
) -> tuple[str, str, str, str] | None:
    """(dom, subdom, path, proto) for a normalized absolute URL;
    None when the eTLD+1 cannot be derived or parsing fails
    (reference: url.go:210-228)."""
    try:
        u = parse_url(normalized)
    except URLParseError:
        return None
    host = u.hostname()
    dom = psl.tld_plus_one(host)
    if dom is None:
        return None
    sub = psl.subdomain(host)
    if sub is None:
        return None
    return (dom, sub, u.request_uri(), u.scheme)


def url_key(
    ref: str, purge_sids=DEFAULT_PURGE_SIDS
) -> tuple[str, str, str, str, str] | None:
    """(dom, subdom, path, proto, norm_url) for a URL string:
    :func:`normalize_url` then :func:`primary_key`; None when either
    fails. The one key derivation shared by the url-key UDF and the
    parse kernel's outlink keys, so the two paths cannot drift."""
    norm = normalize_url(ref, purge_sids)
    if norm is None:
        return None
    key = primary_key(norm, purge_sids)
    return None if key is None else (*key, norm)


def url_from_key(dom: str, subdom: str, path: str, proto: str) -> str:
    """Rebuild the URL string from its key (reference: CreateURL,
    url.go:29-44)."""
    if subdom and not subdom.endswith("."):
        subdom = subdom + "."
    if path and not path.startswith("/"):
        path = "/" + path
    return f"{proto}://{subdom}{dom}{path}"
