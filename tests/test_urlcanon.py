"""URL canonicalization through the real operator == Python kernel.

``schedule.with_url_canon`` (the Arrow-batched kernel UDF) and
``urlcanon.host_expr`` (the Catalyst host chain the robots prune uses)
are driven over the SAME adversarial + hypothesis-generated URL
corpus and must agree exactly with frontier/kernel/urlnorm.py
(including on which URLs are un-canonicalizable).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from frontier.kernel import urlnorm

ADVERSARIAL = [
    None, "", "   ", "not a url", "http://",
    "http:///path", "http://@/p", "http://:80/p",
    "HTTP://ExAmple.COM:80/A", "https://example.com:443/",
    "https://example.com:8443/x", "http://h.co/p?b=2&a=1#frag",
    "http://h.co/p?b=2&a=1&b=1", "http://h.co/p?", "http://h.co",
    "http://h.co/a/./b/../c", "http://host:notaport/",
    "http://h:99999/", "http://h:-1/x", "http://h:0080/x",
    "http://h:65535/x", "http://h:65536/x", "http://h:123456789012/x",
    "http://h:0000000080/x", "http://h:0000000000000/x",
    "http://h:00000099999/x", "http://h:0/x",
    "//scheme.less/p", "ftp://h:21/f", "http://user:pass@h/p",
    "http://user@h:81/p", "http://a@b@h/p", "http://[::1]/p",
    "http://[::1]:8080/p", "http://[::1]:80/p", "HTTPS://[2001:DB8::1]/",
    "http://[::1", "http://[]:80/", "http://h/p#f?q=1",
    "http://h/p?#f", "http://h/p?a", "http://h/p?a&",
    "http://h/p?&&a=1", "http://h/p?=v", "http://h/p?a==b",
    "http://h/p?a=b=c", "http://h/p?A=1&a=2", "http://h/p?a+b=c%20d",
    "http://h/p?x=%2F&x=2", "http://h/..", "http://h/../..",
    "http://h/a/../../b", "http://h//a//b/./", "http://h/a/b/..",
    "http://h/a/b/../", "  http://h/p  ", "\thttp://h/p\n",
    "http://h/p q", "http://h/p\nq", "1http://h/", "ht~tp://h/",
    "a:b://h/", "http://h:/p", "http://hö.st/p", "http://H\u00d6.st/p",
    "http://h/\u00fcber?sch\u00f6n=ja&a=1", "mailto:x@y.z",
    "http://h/p?b=\u00e9&a=1", "http://h/%2e%2e/p",
    "scheme+x-y.z://H/p", "http://h.:80/", "http://h/?",
    "http://h?a=1", "http://h#f", "//h", "http://h/p?z&y&x",
    "http://h/p?k=&k&k=v",
]

_part = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ09._~%+!$&'()*,;=:@[]/?#-\\ \t\u00e9\u4e16")),
    max_size=8)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(
        ["http", "https", "HTTP", "ftp", "", "1bad", "a+b-c.d"]))
    host = draw(st.sampled_from(
        ["h", "Ex.Ample.com", "h\u00f6st", "[::1]", "[::1", "", "a@b",
         "user:pw@Host.co"]))
    port = draw(st.sampled_from(
        ["", ":80", ":443", ":8080", ":0080", ":99999", ":x", ":",
         ":12345678901234567890", ":0000000080", ":0000000000000"]))
    path = draw(st.lists(_part, max_size=4).map(
        lambda segs: "".join("/" + s for s in segs)))
    query = draw(st.one_of(st.just(""),
                           st.just("?"),
                           _part.map(lambda q: "?" + q)))
    frag = draw(st.sampled_from(["", "#f", "#?x"]))
    sep = draw(st.sampled_from(["://", ":/", "//", ":", ""]))
    pad = draw(st.sampled_from(["", " ", "\n"]))
    body = (scheme + sep if scheme else sep.lstrip(":"))
    return pad + body + host + port + path + query + frag + pad


def _run_spark(spark, batch):
    from frontier.spark import schedule, urlcanon
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(batch)], "i int, url string")
    rows = (schedule.with_url_canon(df)
            .withColumn("h", urlcanon.host_expr(F.col("url")))
            .select("i", "url_canon", "h")
            .collect())
    by_i = {r["i"]: (r["url_canon"], r["h"]) for r in rows}
    return [by_i[i] for i in range(len(batch))]


def test_adversarial_corpus_matches_kernel(spark):
    got = _run_spark(spark, ADVERSARIAL)
    for url, (canon, host) in zip(ADVERSARIAL, got):
        assert canon == urlnorm.canonicalize(url), repr(url)
        assert host == urlnorm.host_of(url), repr(url)


def test_hypothesis_urls_match_kernel(spark):
    # collect one corpus via hypothesis, run ONE spark job over it —
    # per-example spark jobs would be minutes, not seconds
    corpus = []

    @settings(max_examples=400, deadline=None)
    @given(urls())
    def _collect(u):
        corpus.append(u)

    _collect()
    got = _run_spark(spark, corpus)
    for url, (canon, host) in zip(corpus, got):
        assert canon == urlnorm.canonicalize(url), repr(url)
        assert host == urlnorm.host_of(url), repr(url)


def test_idempotent_through_operator(spark):
    once = [urlnorm.canonicalize(u) for u in ADVERSARIAL]
    once = [c for c in once if c is not None]
    got = _run_spark(spark, once)
    for c, (canon, _) in zip(once, got):
        assert canon == c


def test_host_expr_covers_staged_gate_keys(spark):
    """Prune-safety: the robots prune may derive its host set from
    the RAW url via host_expr instead of the staged canon column
    (apply_robots prune_hosts=...). That is sound iff every gate key
    the staged frontier can produce — with_host(canon).host — is
    either host_expr(url) itself, or a value no real robots key ever
    takes: '' / NULL (canon failed or scheme-relative; joins no
    hostname) or a '['-prefixed bracketed-IPv6 artifact (robots
    relations are keyed on host_of output, which strips brackets).
    Checked over the adversarial corpus through the REAL operators."""
    from pyspark.sql import functions as F

    from frontier.spark import schedule, urlcanon

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(ADVERSARIAL)], "i long, url string")
    staged = schedule.with_host(
        schedule.with_url_canon(df)
        .where(F.col("url_canon").isNotNull()))
    rows = (staged
            .withColumn("cheap", urlcanon.host_expr(F.col("url")))
            .withColumn("fast", urlcanon.host_expr(F.col("url"),
                                                   validate=False))
            .select("url", "host", "cheap", "fast").collect())
    assert rows, "adversarial corpus produced no canonicalizable URLs"
    covered = 0
    for r in rows:
        if r.host in ("", None) or r.host.startswith("["):
            continue
        assert r.host == r.cheap, (r.url, r.host, r.cheap)
        # the validation-free variant (the robots-prune default) must
        # agree wherever the validated one produced the gate key
        assert r.host == r.fast, (r.url, r.host, r.fast)
        covered += 1
    assert covered > 10  # the property must actually bite
