"""Deterministic URL canonicalization for the crawl frontier.

The reference keys its URL-seen set on raw ``resource.location``
strings (``/root/reference/mhtml_scripts/merge.py:30-44``). At 10^10
URLs we canonicalize first so that trivially-equivalent URLs share one
seen-set slot. Rules (documented, deterministic, order-independent):

1. ASCII whitespace stripped from both ends
2. URL must be ``[scheme:]//netloc[path][?query][#fragment]`` with a
   valid RFC 3986 scheme (or none — scheme-relative ``//h/p`` is kept)
3. scheme and host lowercased; userinfo dropped; non-ASCII or empty
   host → not canonicalizable (real hostnames are punycode ASCII)
4. port must be decimal digits ≤ 65535 (else → None, never a raised
   error: one malformed crawled link must not kill a Spark task,
   SURVEY.md §2.8); default ports stripped (``:80`` http, ``:443``
   https); leading zeros dropped
5. fragment removed
6. query split on ``&`` (empty chunks dropped), each chunk rendered
   ``key=value`` (a bare ``key`` becomes ``key=``), pairs stably
   sorted by key (duplicate keys keep their relative order); empty
   result drops the ``?``. Percent-escapes and ``+`` are preserved
   verbatim — no decode/re-encode round-trip, so the canonical form
   never re-writes bytes it did not need to touch.
7. path ``.``/``..`` segments resolved (``..`` at the root is
   dropped); empty path → ``/``

The scheduler runs this module inside Arrow batches
(``schedule.with_url_canon`` — ``pandas.Series.map`` per batch).
The host rules are also expressed as a pure Catalyst chain
(``frontier/spark/urlcanon.host_expr``, for the robots prune);
tests/test_urlcanon.py checks both Spark paths against this module.
"""

from __future__ import annotations

import re

# Shared with frontier/spark/urlcanon.py — the SAME pattern compiles
# under both Python `re` and Java `java.util.regex` with identical
# semantics (only basic char classes; [\s\S] instead of DOTALL).
URL_REGEX = (r"^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?//"
             r"([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#[\s\S]*)?$")

_URL_RE = re.compile(URL_REGEX)
_PORT_RE = re.compile(r"^[0-9]+$")
_ASCII_WS = " \t\r\n\x0b\x0c"

_DEFAULT_PORTS = {"http": 80, "https": 443}


def canonicalize(url: str | None) -> str | None:
    if url is None:
        return None
    u = url.strip(_ASCII_WS)
    if not u:
        return None
    m = _URL_RE.match(u)
    if m is None:
        return None
    scheme = (m.group(1) or "").lower()
    netloc, path = m.group(2), m.group(3)
    query = m.group(4) or ""

    host, port_s = _split_hostport(netloc)
    if not host or not host.isascii():
        return None
    host = host.lower()
    port: int | None = None
    if port_s:
        if not _PORT_RE.match(port_s):
            return None
        port = int(port_s)
        if port > 65535:
            return None

    hostfmt = f"[{host}]" if ":" in host else host
    netloc_out = hostfmt
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc_out = f"{hostfmt}:{port}"

    out = f"//{netloc_out}{_normalize_path(path)}"
    if scheme:
        out = scheme + ":" + out
    q = _normalize_query(query)
    if q:
        out += "?" + q
    return out


def _split_hostport(netloc: str) -> tuple[str, str]:
    """(host, port-string) from a netloc. Userinfo (before the last
    ``@``) is dropped; ``[bracketed]`` IPv6 hosts keep ``:`` inside the
    brackets; otherwise the port is everything after the first ``:``."""
    hostinfo = netloc.rpartition("@")[2]
    if hostinfo.startswith("["):
        host, _, after = hostinfo[1:].partition("]")
        return host, after.partition(":")[2]
    host, _, port_s = hostinfo.partition(":")
    return host, port_s


def _normalize_path(path: str) -> str:
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1]:
                out.pop()
            continue
        out.append(seg)
    norm = "/".join(out)
    if not norm.startswith("/"):
        norm = "/" + norm
    return norm


def _normalize_query(query: str) -> str:
    pairs: list[tuple[str, int, str]] = []
    for i, chunk in enumerate(query.split("&")):
        if not chunk:
            continue
        k, _, v = chunk.partition("=")
        pairs.append((k, i, f"{k}={v}"))
    pairs.sort(key=lambda t: (t[0], t[1]))
    return "&".join(p[2] for p in pairs)


def host_of(url: str | None) -> str | None:
    """Lowercased hostname, or None — the politeness partition key."""
    if not url:
        return None
    m = _URL_RE.match(url.strip(_ASCII_WS))
    if m is None:
        return None
    host, _ = _split_hostport(m.group(2))
    if not host or not host.isascii():
        return None
    return host.lower()
