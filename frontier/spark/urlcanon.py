"""JVM-side URL host extraction — a pure Catalyst expression chain.

:func:`host_expr` derives the lowercased host of a raw URL with
built-in string functions, so the robots prune can compute its host
set inside whole-stage codegen without a Python pass. It follows the
host rules of frontier/kernel/urlnorm.py (``host_of``);
tests/test_urlcanon.py checks it against the kernel on an
adversarial and a generated URL corpus. URL canonicalization itself
runs the kernel in an Arrow-batched pandas UDF
(``schedule.with_url_canon``).

Why the chain is exact:

* the validity regex is the SAME pattern string as the kernel's
  (urlnorm.URL_REGEX) — it uses only constructs with identical
  semantics in Python ``re`` and ``java.util.regex``; it runs once
  per row, for validity only;
* components come from plain substring arithmetic, which is exact
  BECAUSE the row matched: the regex grammar
  ``[scheme:]//netloc[path][?query][#frag]`` puts the first ``#`` at
  the fragment, the first ``?`` before it at the query, and the
  netloc/path split at the first ``/`` after ``//`` — so
  ``substring_index``/``substring`` reproduce the capture groups;
* ``btrim`` strips the kernel's ASCII whitespace set;
* ``length == octet_length`` is the host ASCII gate (UTF-8 encodes
  exactly the code points < 128 in one byte), and ``lower()`` agrees
  with Python's because the host is ASCII.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from frontier.kernel.urlnorm import URL_REGEX

# ASCII whitespace set — identical to kernel _ASCII_WS
_TRIM = " \t\r\n\x0b\f"


def _netloc(u: Column) -> Column:
    """netloc of a whitespace-trimmed URL.

    Valid ONLY for rows where ``u`` matches URL_REGEX (callers mask
    invalid rows); on such rows these substring operations reproduce
    the regex capture group exactly (see module docstring).
    """
    maxlen = F.lit(2147483647)
    uf = F.substring_index(u, "#", 1)          # strip fragment
    upq = F.substring_index(uf, "?", 1)        # before query
    no_scheme = upq.startswith("//")
    scheme = F.lower(F.substring_index(upq, ":", 1))
    rest = F.when(no_scheme, F.substring(upq, 3, maxlen)) \
        .otherwise(F.substring(upq, F.length(scheme) + 4, maxlen))
    return F.substring_index(rest, "/", 1)


def _host(netloc: Column) -> Column:
    """raw host — kernel _split_hostport. Userinfo (before the LAST
    ``@``) dropped; a bracketed IPv6 host is the text inside the
    brackets (rare → regex only on that branch); else the host is
    everything before the first ``:``."""
    hostinfo = F.when(netloc.contains("@"),
                      F.element_at(F.split(netloc, "@", -1), -1)) \
        .otherwise(netloc)
    return F.when(
        hostinfo.startswith("["),
        F.regexp_extract(hostinfo, r"^\[([^\]]*)", 1),
    ).otherwise(F.substring_index(hostinfo, ":", 1))


def _is_ascii(s: Column) -> Column:
    # UTF-8 uses one byte exactly for code points < 128, so
    # char-length == byte-length ⟺ str.isascii()
    return F.length(s) == F.octet_length(s)


def host_expr(url: Column, validate: bool = True) -> Column:
    """Column of lowercased hosts (kernel host_of), NULL where absent.

    ``validate=False`` skips the URL_REGEX match and the
    non-empty/ASCII host gates — the remaining substring chain is the
    IDENTICAL extraction path, so for every URL that canonicalizes
    the result is unchanged; URLs that would NOT canonicalize yield
    junk hosts instead of NULL. That is exactly what robots-prune
    host derivation wants (a SUPERSET is safe and the skipped
    ``rlike`` is ~40% of the cost per scan — measured 0.85→0.53 s
    over 500k urls), and nothing else should use it.
    """
    u = F.btrim(url, F.lit(_TRIM))
    host_raw = _host(_netloc(u))
    if not validate:
        return F.lower(host_raw)
    matched = u.rlike(URL_REGEX)
    valid = (F.coalesce(matched, F.lit(False))
             & (host_raw != "") & _is_ascii(host_raw))
    return F.when(valid, F.lower(host_raw))
