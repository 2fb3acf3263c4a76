"""Pure-Python URL kernel: canonicalize, origin, depth, budget.

Re-implements (from spec, not code) the reference URL semantics:

- fragment always stripped at construction  (atra/src/url/url_with_depth.rs:44-47,113-117)
- clean_url strips query + password         (atra/src/url/cleaner.rs:51-79)
- origin = PSL registrable domain, fallback host, lowercase
                                            (atra/src/url/origin.rs:23-49)
- depth update rules                        (atra/src/url/url_with_depth.rs:69-110)
- budget settings                           (atra/src/config/crawl.rs:366-470)

Everything here is scalar Python: called inside the Arrow-batched
extraction kernel, and on the driver for seed lists
(``CrawlEngine.seed``) — never as a row-at-a-time Spark UDF. The
per-link origin path runs JVM-side (functions/jvm_url.py).
"""

from __future__ import annotations

import re as _re_mod
from dataclasses import dataclass
from urllib.parse import urljoin, urlsplit, urlunsplit

_DEFAULT_PORTS = {"http": 443 - 363, "https": 443, "ftp": 21, "ws": 80, "wss": 443}
_DEFAULT_PORTS["http"] = 80

# --------------------------------------------------------------------------
# Public Suffix List (full snapshot, atra/src/url/origin.rs:23-49 uses
# the psl crate over the same public data). The official
# public_suffix_list.dat (MPL-2.0, publicsuffix.org) is vendored at
# atra_spark/data/; rules are parsed once per process into three sets
# (exact / wildcard parents / exceptions), ICANN + PRIVATE sections
# both included (the psl crate's default list has both — private
# domains like github.io ARE suffixes for origin purposes).
# --------------------------------------------------------------------------
_PSL_RULES: tuple[frozenset, frozenset, frozenset] | None = None
_PSL_MAX_LABELS = 1


def _psl_load() -> tuple[frozenset, frozenset, frozenset]:
    global _PSL_RULES, _PSL_MAX_LABELS
    if _PSL_RULES is not None:
        return _PSL_RULES
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                        "public_suffix_list.dat")
    exact: set[str] = set()
    wildcard_parents: set[str] = set()
    exceptions: set[str] = set()
    max_labels = 1

    def ascii_forms(rule: str):
        yield rule
        if not rule.isascii():
            try:
                yield ".".join(
                    lb.encode("idna").decode("ascii") if not lb.isascii() else lb
                    for lb in rule.split(".")
                )
            except UnicodeError:
                pass

    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            token = line.split()[0].lower()
            if token.startswith("!"):
                for r in ascii_forms(token[1:]):
                    exceptions.add(r)
                    max_labels = max(max_labels, r.count(".") + 1)
            elif token.startswith("*."):
                for r in ascii_forms(token[2:]):
                    wildcard_parents.add(r)
                    max_labels = max(max_labels, r.count(".") + 2)
            else:
                for r in ascii_forms(token):
                    exact.add(r)
                    max_labels = max(max_labels, r.count(".") + 1)
    _PSL_MAX_LABELS = max_labels
    _PSL_RULES = (frozenset(exact), frozenset(wildcard_parents), frozenset(exceptions))
    return _PSL_RULES


def public_suffix(host: str) -> str:
    """Longest matching public suffix of ``host`` per the PSL algorithm
    (exception > wildcard/exact longest match > implicit '*' TLD rule)."""
    exact, wild, exc = _psl_load()
    labels = host.split(".")
    n = len(labels)
    start = max(0, n - _PSL_MAX_LABELS)
    best = 1  # implicit '*' rule: the TLD itself
    for i in range(start, n):
        cand = ".".join(labels[i:])
        if cand in exc:
            return ".".join(labels[i + 1 :])  # exception beats everything
        k = n - i
        if cand in exact and k > best:
            best = k
        if i + 1 < n and ".".join(labels[i + 1 :]) in wild and k > best:
            best = k
    return ".".join(labels[n - best :])


def registrable_domain(host: str) -> str | None:
    """suffix + one label (None when the host IS a public suffix)."""
    ps = public_suffix(host)
    if host == ps:
        return None
    k = ps.count(".") + 2
    return ".".join(host.split(".")[-k:])


# WHATWG percent-encode sets (url::Url parse-time normalization —
# https://url.spec.whatwg.org/#percent-encoded-bytes): the path set is
# C0/DEL/non-ASCII + space " # < > ? ` { }; the query set (special
# schemes) is C0/DEL/non-ASCII + space " # < > '.
_PATH_ENCODE = set(' "<>`{}?#')
_QUERY_ENCODE = set(' "<>#\'')


def _pct_encode(s: str, extra: set[str]) -> str:
    out: list[str] = []
    for ch in s:
        o = ord(ch)
        if o <= 0x1F or o == 0x7F or o > 0x7E or ch in extra:
            out.append("".join(f"%{b:02X}" for b in ch.encode("utf-8")))
        else:
            out.append(ch)
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 — url::Url applies this at PARSE time for every
    URL (urllib only applies it inside urljoin), '..' above the root
    clamps to '/'."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    # preserve a trailing slash implied by a final '.'/'..'
    if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
        out.append("")
    norm = "/".join(out)
    if not norm.startswith("/"):
        norm = "/" + norm.lstrip("/")
    return norm


def _idna_host(host: str) -> str | None:
    """Lowercased ASCII host; non-ASCII labels punycoded like
    url::Url's IDNA to_ascii (Python's idna codec — IDNA2003 — agrees
    on the common cases; documented deviation on UTS46 edge labels)."""
    host = host.lower()
    if host.isascii():
        return host
    try:
        return host.encode("idna").decode("ascii")
    except UnicodeError:
        return None


# Fast path: URLs already in canonical form pass through with zero
# parsing — lowercase scheme/host, no userinfo/port/fragment/%XX, only
# chars outside every WHATWG encode set, no dot segments. The general
# parser below is the specification; the regex admits only inputs the
# spec maps to themselves (equivalence pinned by
# tests/test_urlkit.py::TestFastPathEquivalence). ~29% of extraction
# CPU was canonicalization (profiled); link-dense crawl hrefs are
# overwhelmingly this shape.
_FAST_ABS_RE = _re_mod.compile(
    r"^(https?)://([a-z0-9](?:[a-z0-9.-]*[a-z0-9])?)"
    r"(/[A-Za-z0-9_~!$&'()*+,;=:@/.-]*)?"
    r"(?:\?([A-Za-z0-9_~!$&()*+,;=:@/?.-]*))?$"
)
_FAST_BASE_RE = _re_mod.compile(r"^(https?)://([a-z0-9](?:[a-z0-9.-]*[a-z0-9])?)(?=/|$)")


def _fast_canonical(u: str) -> str | None:
    """The no-op-canonical fast path, or None to take the full parser."""
    m = _FAST_ABS_RE.match(u)
    if m is None or "%" in u:
        return None
    scheme, host, path, query = m.groups()
    if ".." in host:
        return None
    if path is not None and (
        "/./" in path or "/../" in path or path.endswith(("/.", "/.."))
    ):
        return None
    if path is None:
        path = "/"
    return f"{scheme}://{host}{path}" + (f"?{query}" if query else "")


def canonicalize(url: str, base: str | None = None) -> str | None:
    """Canonical absolute URL or None if unparseable/unsupported.

    Rules — the engine-wide spec, matching the Rust ``url`` crate's
    (WHATWG) parse-time normalization that the reference inherits via
    AtraUri (atra/src/url/atra_uri.rs):
      1. resolve relative references against ``base`` (RFC 3986)
      2. strip the fragment ALWAYS
      3. lowercase scheme; lowercase + IDNA-punycode the host
      4. drop default ports (http:80, https:443)
      5. backslashes in the path act as slashes (special schemes)
      6. remove dot segments ('..' above root clamps)
      7. percent-encode the WHATWG path/query encode sets (existing
         %XX triplets are preserved, not double-encoded)
      8. empty path -> "/"
      9. only http/https survive ("data:" handled by callers as Data links)
    """
    if url is None:
        return None
    u = url.strip()
    if not u:
        return None
    try:
        if base:
            if u.startswith("/") and not u.startswith("//"):
                # absolute-path reference on a simple base: splice the
                # authority without a full RFC 3986 merge
                bm = _FAST_BASE_RE.match(base)
                u = f"{bm.group(1)}://{bm.group(2)}{u}" if bm else urljoin(base, u)
            else:
                u = urljoin(base, u)
        fast = _fast_canonical(u)
        if fast is not None:
            return fast
        parts = urlsplit(u)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    raw_host = parts.hostname or ""
    if not raw_host:
        return None
    host = _idna_host(raw_host)
    if not host:
        return None
    userinfo = ""
    if parts.username:
        userinfo = parts.username
        if parts.password:
            userinfo += f":{parts.password}"
        userinfo += "@"
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    netloc = userinfo + netloc
    path = (parts.path or "/").replace("\\", "/")
    path = _remove_dot_segments(path)
    # preserve existing %XX triplets: split on them, encode the rest
    path = _encode_preserving_pct(path, _PATH_ENCODE)
    query = _encode_preserving_pct(parts.query, _QUERY_ENCODE)
    return urlunsplit((scheme, netloc, path, query, ""))


_PCT_RE = None


def _encode_preserving_pct(s: str, extra: set[str]) -> str:
    global _PCT_RE
    if _PCT_RE is None:
        import re

        _PCT_RE = re.compile(r"%[0-9A-Fa-f]{2}")
    out: list[str] = []
    last = 0
    for m in _PCT_RE.finditer(s):
        out.append(_pct_encode(s[last : m.start()], extra))
        out.append(m.group(0))
        last = m.end()
    out.append(_pct_encode(s[last:], extra))
    return "".join(out)


def clean_url(url: str) -> str | None:
    """Canonicalize then strip query and password (cleaner.rs:51-79)."""
    c = canonicalize(url)
    if c is None:
        return None
    parts = urlsplit(c)
    netloc = parts.netloc
    if "@" in netloc:
        userinfo, hostport = netloc.rsplit("@", 1)
        netloc = userinfo.split(":", 1)[0] + "@" + hostport
    return urlunsplit((parts.scheme, netloc, parts.path or "/", "", ""))


def host_of(url: str) -> str | None:
    """Lowercased hostname of a canonical URL (no PSL collapse)."""
    try:
        h = urlsplit(url).hostname
    except ValueError:
        return None
    return h.lower() if h else None


def origin(url: str) -> str | None:
    """Politeness key: PSL registrable domain, fallback full host,
    lowercase. Mirrors atra/src/url/origin.rs:23-49 (psl crate ->
    registrable domain; IPs and public-suffix-only hosts pass through).
    """
    h = host_of(url)
    if not h:
        return None
    if h.replace(".", "").isdigit() or ":" in h:  # IPv4 / IPv6
        return h
    return registrable_domain(h) or h


def surt_key(url: str) -> str | None:
    """Sort-friendly URI Reordering Transform key — the CDX lookup key
    used by Common-Crawl-style archive indexes over the WARC store the
    reference rotates (atra/src/stores/warc.rs:119-140). Documented
    rule subset (the IA default canonicalizer's core, applied
    identically by the JVM twin ``functions.jvm_url.surt_col`` and the
    DuckDB oracle):

    1. drop scheme, userinfo, and fragment; lowercase everything;
    2. strip ONE leading ``www`` / ``www<digits>`` host label;
    3. reverse the remaining host labels, join with ``,``;
    4. keep a non-default port (not 80/443) as ``:port`` before ``)``;
    5. path verbatim (``/`` if empty); query params split on ``&``,
       empties dropped, sorted bytewise, rejoined with ``&``.

    ``com,example)/p/1?a=1&b=2`` for ``https://www.Example.com/p/1?b=2&a=1``.
    """
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    host = (parts.hostname or "").lower()
    if not host:
        return None
    host = _re_mod.sub(r"^www\d*\.", "", host)
    rev = ",".join(reversed(host.split(".")))
    try:
        port = parts.port
    except ValueError:
        port = None
    portpart = f":{port}" if port not in (None, 80, 443) else ""
    path = (parts.path or "/").lower()
    params = sorted(p for p in parts.query.lower().split("&") if p)
    q = "?" + "&".join(params) if params else ""
    return f"{rev}{portpart}){path}{q}"


@dataclass(frozen=True)
class Depth:
    """Depth triple (atra/src/url/depth.rs:27-34)."""

    depth_on_website: int = 0
    distance_to_seed: int = 0
    total_distance_to_seed: int = 0

    def merge_to_lowest(self, other: "Depth") -> "Depth":
        """Per-component min (depth.rs:59-65)."""
        return Depth(
            min(self.depth_on_website, other.depth_on_website),
            min(self.distance_to_seed, other.distance_to_seed),
            min(self.total_distance_to_seed, other.total_distance_to_seed),
        )


def advance_depth(parent: Depth, same_host: bool) -> Depth:
    """Depth update on link expansion (url_with_depth.rs:69-110).

    same host  -> depth_on_website+1, distance_to_seed unchanged
    host change-> depth_on_website=0, distance_to_seed+1
    always     -> total_distance_to_seed+1
    """
    if same_host:
        return Depth(
            parent.depth_on_website + 1,
            parent.distance_to_seed,
            parent.total_distance_to_seed + 1,
        )
    return Depth(0, parent.distance_to_seed + 1, parent.total_distance_to_seed + 1)


# --------------------------------------------------------------------------
# Budgets (config/crawl.rs:366-405 enum; is_in_budget :445-470).
# A depth_on_website / total_distance bound of 0 means "unlimited" in
# the reference, but the Normal arm's distance_to_seed is ALWAYS
# enforced (`url_depth.distance_to_seed.le(depth_distance)`,
# config/crawl.rs:455-462) — 0 means "seed distance only", not
# unlimited. Callers wanting unbounded seed distance pass a large
# bound (UNBOUNDED_DISTANCE).
# --------------------------------------------------------------------------
UNBOUNDED_DISTANCE = 1 << 30

@dataclass(frozen=True)
class Budget:
    kind: str  # seed_only | normal | absolute | single_page
    depth_on_website: int = 0
    distance_to_seed: int = 0
    total_distance: int = 0

    def is_in_budget(self, d: Depth) -> bool:
        if self.kind == "single_page":
            # reference: url.depth.is_zero() — all three components
            return (
                d.depth_on_website == 0
                and d.distance_to_seed == 0
                and d.total_distance_to_seed == 0
            )
        if self.kind == "absolute":
            return self.total_distance == 0 or d.total_distance_to_seed < self.total_distance
        on_site_ok = self.depth_on_website == 0 or d.depth_on_website < self.depth_on_website
        if self.kind == "seed_only":
            return d.distance_to_seed == 0 and on_site_ok
        if self.kind == "normal":
            return on_site_ok and d.distance_to_seed <= self.distance_to_seed
        raise ValueError(f"unknown budget kind {self.kind!r}")


SEED_ONLY = "seed_only"
NORMAL = "normal"
ABSOLUTE = "absolute"
SINGLE_PAGE = "single_page"
