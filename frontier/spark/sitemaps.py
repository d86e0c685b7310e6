"""Sitemap ingestion — robots ``Sitemap:`` records → sitemaps.org
documents → frontier offers.

The third seed source of a production frontier (next to operator
seed lists and link discovery): hosts advertise sitemaps in
robots.txt; each sitemap is either a ``<urlset>`` of URLs with
freshness priors (lastmod / changefreq / priority) or a
``<sitemapindex>`` of child sitemaps. The flow on Spark:

1. :func:`sitemap_urls_from_robots` — explode the ``Sitemap:``
   records out of already-fetched robots.txt bytes (the same relation
   :func:`frontier.spark.schedule.robots_from_text` consumes);
2. fetch those documents (the crawl loop's fetch join — network is
   never done inside an operator);
3. :func:`sitemap_entries` — explode fetched sitemap bytes into one
   row per URL (or per child sitemap; feeding children back through
   step 2 is the caller's per-round loop, exactly like link
   discovery — never an in-kernel recursive walk);
4. :func:`sitemap_offers` — turn URL rows into frontier offers
   (FRONTIER_COLS shape) ready to union with seeds/discoveries.

``lastmod`` becomes the offer's ``warc_ts`` and ``changefreq``
(:func:`changefreq_interval_sec`) is the prior that seeds
:func:`frontier.spark.schedule.recrawl_schedule` intervals before any
fetch history exists.

Everything is Arrow-batched kernel work (frontier/kernel/sitemap.py)
— per-document parsing with no shuffle; the only exchange is the
offer dedup, a uniform-key groupBy identical to link-discovery's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import session

ENTRY_DDL = ("sitemap_url string, kind string, loc string, "
             "lastmod_us bigint, changefreq string, priority double, "
             "is_child boolean")

_CKPT_LIVE: list = []  # java RDD handles (session.checkpoint)


def release_checkpoints() -> None:
    """Free the lazily-localCheckpointed blocks accumulated by
    :func:`discover_offers`. Call AFTER the returned offers have been
    fully consumed (e.g. after the crawl's seed-time gate committed):
    the checkpoints truncate lineage, so an unconsumed result cannot
    recompute once the blocks are gone (same contract as
    eventops.release_checkpoints, r4 ADVICE)."""
    session.release(_CKPT_LIVE)


def _ckpt(df: DataFrame) -> DataFrame:
    return session.checkpoint(df, _CKPT_LIVE)


def discover_offers(fetched_robots: DataFrame, sitemap_docs: DataFrame,
                    max_depth: int = 3,
                    host_col: str = "host",
                    text_col: str = "robots_txt",
                    url_col: str = "url",
                    body_col: str = "body") -> DataFrame:
    """The full sitemap seed source: robots bytes → ``Sitemap:``
    records → fetch → parse → (follow index children up to
    ``max_depth`` fetch rounds) → frontier offers (FRONTIER_COLS).

    ``sitemap_docs`` is the (url, body) fetch relation — on a real
    cluster the HTTP fetcher's output for the requested locs, in the
    sandbox :func:`frontier.synth.sitemap_docs_df`. Advertised locs
    with no document simply miss the inner join (dead Sitemap records
    are everyday crawled-web reality). The children loop is a bounded
    driver-side BFS exactly like the crawl loop itself — per level ONE
    fetch join + narrow parse; each level's entries are lazily
    localCheckpointed (plan barrier + reuse across the non-child
    slice, the child frontier, and the final offers), released by
    :func:`release_checkpoints` once the caller has consumed the
    offers. Already-fetched locs are anti-joined out so a sitemap
    cycle (index A → index B → index A) terminates."""
    sm = sitemap_urls_from_robots(fetched_robots, host_col, text_col) \
        .select(F.col("sitemap_url").alias(url_col)).distinct()
    pending = _ckpt(sm)
    fetched = pending
    parts = []
    for depth in range(max_depth):
        docs = sitemap_docs.select(url_col, body_col) \
            .join(pending, url_col)  # the "fetch" stage
        entries = _ckpt(sitemap_entries(docs, url_col, body_col))
        parts.append(entries.where(~F.col("is_child")))
        if depth == max_depth - 1:
            break
        pending = _ckpt(entries.where(F.col("is_child"))
                        .select(F.col("loc").alias(url_col)).distinct()
                        .join(fetched, url_col, "left_anti"))
        if pending.isEmpty():
            break
        fetched = _ckpt(fetched.unionByName(pending))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return sitemap_offers(out)


def sitemap_urls_from_robots(fetched_robots: DataFrame,
                             host_col: str = "host",
                             text_col: str = "robots_txt") -> DataFrame:
    """(host, robots_txt bytes) → (host, sitemap_url), one row per
    ``Sitemap:`` record (group-independent, deduplicated per host —
    kernel robots.sitemap_urls)."""
    import pyarrow as pa

    from frontier.kernel import robots as krobots

    def kernel(batches):
        for batch in batches:
            hosts = batch.column(host_col).to_pylist()
            texts = batch.column(text_col).to_pylist()
            out_h, out_u = [], []
            for host, text in zip(hosts, texts):
                try:
                    urls = krobots.sitemap_urls(text or b"")
                except Exception:
                    urls = []
                out_h.extend([host] * len(urls))
                out_u.extend(urls)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_h, pa.string()),
                 pa.array(out_u, pa.string())],
                ["host", "sitemap_url"])

    return fetched_robots.select(host_col, text_col) \
        .mapInArrow(kernel, "host string, sitemap_url string")


def sitemap_entries(docs: DataFrame, url_col: str = "url",
                    body_col: str = "body") -> DataFrame:
    """(url, body bytes) of fetched sitemap documents → one row per
    extracted URL or child sitemap (ENTRY_DDL). ``is_child`` rows are
    child sitemap locs from a ``<sitemapindex>`` (feed them back
    through the fetch loop); the rest carry the urlset/plain priors.
    Malformed bytes degrade to zero rows, never a task failure."""
    import pyarrow as pa

    from frontier.kernel import sitemap as ksitemap

    def kernel(batches):
        for batch in batches:
            urls = batch.column(url_col).to_pylist()
            bodies = batch.column(body_col).to_pylist()
            su, kind, loc, lm, cf, pr, child = \
                [], [], [], [], [], [], []
            for u, body in zip(urls, bodies):
                try:
                    parsed = ksitemap.parse_sitemap(body or b"")
                except Exception:
                    continue
                for c in parsed["children"]:
                    su.append(u); kind.append(parsed["kind"])
                    loc.append(c); lm.append(None); cf.append(None)
                    pr.append(None); child.append(True)
                for entry_loc, lastmod, freq, prio in parsed["entries"]:
                    su.append(u); kind.append(parsed["kind"])
                    loc.append(entry_loc); lm.append(lastmod)
                    cf.append(freq); pr.append(prio)
                    child.append(False)
            yield pa.RecordBatch.from_arrays(
                [pa.array(su, pa.string()), pa.array(kind, pa.string()),
                 pa.array(loc, pa.string()), pa.array(lm, pa.int64()),
                 pa.array(cf, pa.string()), pa.array(pr, pa.float64()),
                 pa.array(child, pa.bool_())],
                ["sitemap_url", "kind", "loc", "lastmod_us",
                 "changefreq", "priority", "is_child"])

    return docs.select(url_col, body_col).mapInArrow(kernel, ENTRY_DDL)


def sitemap_offers(entries: DataFrame) -> DataFrame:
    """Non-child sitemap entries → frontier offers
    (url_canon, priority, warc_ts) — the FRONTIER_COLS shape crawl
    unions with seeds and link discoveries.

    The sitemaps.org ``priority`` hint (0.0–1.0, higher = more
    important, default 0.5) maps onto the frontier's integer
    priority (lower = scheduled first, seeds are 0, discovery depth
    adds 1/hop): ``round((1 − priority) · 10)`` → 0..10, default 5 —
    a full-priority sitemap URL competes with seeds, an explicit
    0.0 ranks below ten discovery hops. ``lastmod`` becomes
    ``warc_ts`` (0 when absent — matching seed rows, which carry
    epoch 0). Duplicate locs keep the min (priority, warc_ts) struct,
    the same first-wins dedup as link discovery — one uniform-key
    exchange."""
    from frontier.spark import schedule

    canon = schedule.with_url_canon(
        entries.where(~F.col("is_child")), "loc") \
        .where(F.col("url_canon").isNotNull())
    prio = F.round((1.0 - F.coalesce(F.col("priority"), F.lit(0.5)))
                   * 10).cast("int")
    ts = F.timestamp_micros(F.coalesce(F.col("lastmod_us"), F.lit(0)))
    return (canon
            .select("url_canon", prio.alias("priority"),
                    ts.alias("warc_ts"))
            .groupBy("url_canon")
            .agg(F.min(F.struct("priority", "warc_ts")).alias("_o"))
            .select("url_canon", "_o.priority", "_o.warc_ts"))


def changefreq_interval_sec(col=None,
                            min_interval_sec: int = 86_400,
                            max_interval_sec: int = 2_592_000):
    """``changefreq`` → a revisit-interval prior in seconds, clamped
    into :func:`frontier.spark.schedule.recrawl_schedule`'s
    [min, max] band so a host's self-reported cadence seeds the
    schedule before any fetch history exists (after two fetches the
    measured change rate takes over). NULL/unknown → max (unknown
    pages are recrawled lazily)."""
    if col is None:
        col = F.col("changefreq")
    raw = (F.when(col == "always", F.lit(3_600))
           .when(col == "hourly", F.lit(3_600))
           .when(col == "daily", F.lit(86_400))
           .when(col == "weekly", F.lit(604_800))
           .when(col == "monthly", F.lit(2_592_000))
           .when(col == "yearly", F.lit(31_536_000))
           .when(col == "never", F.lit(31_536_000))
           .otherwise(F.lit(max_interval_sec)))
    return F.greatest(F.least(raw, F.lit(max_interval_sec)),
                      F.lit(min_interval_sec)).cast("bigint")
