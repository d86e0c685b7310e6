"""Politeness scheduler: per-host priority queue + robots gating.

Frontier rows carry ``(url, url_canon, host, priority, warc_ts)``.
Semantics (north_star): deterministic fetch order per host by
``(priority, warc_ts, url_canon)``; at most ``budget`` URLs per host
per round; hosts spread across partitions by ``host_bucket`` with an
explicit salt so one hot host cannot pin a whole executor.

Skew design (SURVEY.md §4.3): the Zipf host distribution means a naive
``Window.partitionBy(host)`` puts the hottest host's millions of rows
in ONE task. Budget cutting is a per-host top-k, so we do it in two
phases — a salted partial top-k then a final top-k — bounding every
window partition to ``num_salts × budget`` rows regardless of skew.
AQE skew-join handles the shuffle side; the salt handles the window
side, which AQE cannot split.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from frontier.kernel import urlnorm

DEFAULT_HOST_BUCKETS = 256
DEFAULT_SALTS = 16

ORDER_COLS = ("priority", "warc_ts", "url_canon")  # deterministic tie-break


_canon_udf_cache = None


def _canon_udf():
    # created lazily: pandas_udf needs an active SparkSession for DDL
    # parsing, which doesn't exist at import time
    global _canon_udf_cache
    if _canon_udf_cache is None:
        @pandas_udf("string")
        def canon(urls: pd.Series) -> pd.Series:
            return urls.map(urlnorm.canonicalize)
        _canon_udf_cache = canon
    return _canon_udf_cache


def with_url_canon(df: DataFrame, url_col: str = "url") -> DataFrame:
    """``df`` + ``url_canon``: the kernel's ``urlnorm.canonicalize``
    in an Arrow-batched pandas UDF (NULL where not canonicalizable).

    The plans stay compile-free, and under a ``local[N]`` master the
    Python workers run as extra processes outside the N-thread
    budget."""
    return df.withColumn("url_canon", _canon_udf()(F.col(url_col)))


def with_valid_url_canon(df: DataFrame, url_col: str = "url") -> DataFrame:
    """:func:`with_url_canon` without the rows whose URL does not
    canonicalize, with the UDF evaluated once per row.

    The NULL rows drop out through an explode of a 0-or-1-element
    array, not a ``Filter``: Catalyst pushes a filter on the UDF's
    output below the projection that computes it, which plans the UDF
    twice over the same rows ("Accelerating Python UDFs in Vectorized
    Query Execution", CIDR 2022, counts each crossing as cost)."""
    keep = [c for c in df.columns if c != "url_canon"]
    return with_url_canon(df, url_col).select(
        *keep,
        F.explode(F.array_compact(F.array("url_canon"))).alias("url_canon"))


def canon_host(canon_col: str = "url_canon"):
    """Column: the host of a CANONICAL URL (lowercase scheme, no
    userinfo), "" where absent. Raw URLs take urlcanon.host_expr."""
    return F.regexp_extract(F.col(canon_col),
                            r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)


def with_host(df: DataFrame, canon_col: str = "url_canon",
              num_buckets: int = DEFAULT_HOST_BUCKETS,
              num_salts: int = DEFAULT_SALTS) -> DataFrame:
    """host, host_bucket, salt — pure Spark SQL on the canonical URL."""
    return (df
            .withColumn("host", canon_host(canon_col))
            .withColumn("host_bucket",
                        F.pmod(F.xxhash64("host"),
                               F.lit(num_buckets)).cast("int"))
            .withColumn("salt",
                        F.pmod(F.xxhash64(F.col(canon_col)),
                               F.lit(num_salts)).cast("int")))


def politeness_cut(frontier: DataFrame, budget_per_host: int,
                   num_salts: int = DEFAULT_SALTS,
                   delay_col: str | None = None,
                   window_ms: int | None = None) -> DataFrame:
    """Keep the top ``budget_per_host`` URLs per host by
    ``(priority, warc_ts, url_canon)`` — two-phase, skew-safe.

    Phase 1 cuts within (host, salt): every partition ≤ budget rows
    per salt. Phase 2 cuts within host over ≤ salts×budget survivors.
    Results are identical to a single-phase window (top-k is
    decomposable) but the max window partition is bounded.

    ``delay_col``/``window_ms``: honor per-host robots crawl-delay —
    a host with Crawl-delay d ms can serve at most window_ms/d
    fetches per round, so its effective budget is
    ``least(budget, greatest(1, window_ms div d))`` (hosts with no or
    zero delay keep the full budget). Pure column arithmetic; the
    two-phase decomposition is unchanged because the per-host budget
    is constant within each host.
    """
    order = [F.col(c).asc() for c in ORDER_COLS]
    budget = F.lit(budget_per_host)
    if delay_col is not None and window_ms is not None:
        d = F.col(delay_col)
        capped = F.greatest(
            F.lit(1),
            (F.lit(int(window_ms)) / F.greatest(d, F.lit(1)))
            .cast("long"))
        budget = F.when(d > 0, F.least(budget.cast("long"), capped)) \
            .otherwise(budget)
    w1 = Window.partitionBy("host", "salt").orderBy(*order)
    w2 = Window.partitionBy("host").orderBy(*order)
    return (frontier
            .withColumn("_rn1", F.row_number().over(w1))
            .where(F.col("_rn1") <= budget)
            .drop("_rn1")
            .withColumn("rank_in_host", F.row_number().over(w2))
            .where(F.col("rank_in_host") <= budget))


def fetch_order(frontier: DataFrame,
                num_partitions: int | None = None) -> DataFrame:
    """Final fetch layout: salted repartition on (host_bucket, salt),
    sorted within partitions by host then the deterministic order
    cols — the DataFrame form of salted
    repartitionAndSortWithinPartitions (north_star)."""
    parts = [F.col("host_bucket"), F.col("salt")]
    out = frontier.repartition(num_partitions, *parts) if num_partitions \
        else frontier.repartition(*parts)
    return out.sortWithinPartitions("host", *ORDER_COLS)


# ---------------------------------------------------------------------------
# robots gating
# ---------------------------------------------------------------------------

RULES_DDL = "array<struct<pat:string,re:string,spec:int,allow:boolean>>"
ROBOTS_DDL = f"host string, rules {RULES_DDL}, crawl_delay_ms int"


def rules_relation(spark, host_rules: list) -> DataFrame:
    """[(host, [(pattern, allow)], delay_ms)] → the gate relation —
    compiles each rule via the kernel so hand-built rules and
    :func:`robots_from_text` output are byte-identical."""
    from frontier.kernel import robots as krobots

    rows = [(host,
             [(p, krobots.compile_pattern(p), len(p), a)
              for p, a in rules],
             delay_ms)
            for host, rules, delay_ms in host_rules]
    return spark.createDataFrame(rows, ROBOTS_DDL)


def robots_from_text(fetched_robots: DataFrame, agent: str = "frontier",
                     host_col: str = "host",
                     text_col: str = "robots_txt") -> DataFrame:
    """(host, robots_txt bytes) → the gate relation
    (host, rules array<struct>, crawl_delay_ms) consumed by
    :func:`apply_robots` — i.e. the parse step between fetching
    /robots.txt and broadcasting the gate. Arrow-batched kernel
    (frontier/kernel/robots.py, RFC 9309 incl. Allow + wildcards);
    each rule ships pre-compiled (pattern, regex, specificity, allow)
    so the gate itself is pure JVM. Malformed or undecodable robots
    bytes degrade to allow-all, never a task failure (§2.8)."""
    import pyarrow as pa

    from frontier.kernel import robots as krobots

    rule_type = pa.struct([("pat", pa.string()), ("re", pa.string()),
                           ("spec", pa.int32()), ("allow", pa.bool_())])
    schema = pa.schema([
        ("host", pa.string()),
        ("rules", pa.list_(rule_type)),
        ("crawl_delay_ms", pa.int32()),
    ])

    def kernel(batches):
        for batch in batches:
            hosts = batch.column(host_col).to_pylist()
            texts = batch.column(text_col).to_pylist()
            out_h, out_r, out_ms = [], [], []
            for host, text in zip(hosts, texts):
                try:
                    rules, delay = krobots.rules_for_agent(
                        text or b"", agent)
                    compiled = [
                        {"pat": p, "re": krobots.compile_pattern(p),
                         "spec": len(p), "allow": a}
                        for p, a in rules]
                except Exception:
                    compiled, delay = [], 0  # junk robots: allow-all
                out_h.append(host)
                out_r.append(compiled)
                out_ms.append(delay)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_h, pa.string()),
                 pa.array(out_r, pa.list_(rule_type)),
                 pa.array(out_ms, pa.int32())], schema=schema)

    return fetched_robots.select(host_col, text_col) \
        .mapInArrow(kernel, ROBOTS_DDL)


def robots_allowed_expr(path, rules):
    """RFC 9309 §2.2.2 precedence as ONE JVM expression (no Python):
    among matching rules, the longest pattern decides; exact tie →
    Allow; no matching rule (or no rules row) → allowed.

    ``array_max`` over ``struct(spec, allow)`` is exactly
    longest-match-wins with Allow tie-break (struct comparison is
    lexicographic by field; true > false). Pattern regexes were
    compiled once at parse time (kernel.compile_pattern) — portable
    between java.util.regex here and Python re in the simulator.

    Hot-path note: ``rlike`` with a COLUMN pattern recompiles the
    regex per (row, rule). A rule without ``*`` and without a
    trailing ``$`` compiles to ``^<literal>`` — i.e. plain prefix
    match — so the overwhelmingly-common literal rule matches via
    ``startswith`` on the raw pattern and only genuine wildcard
    rules pay the regex.
    """
    def _match(r):
        pat = r.getField("pat")
        literal = (~pat.contains("*")) & (~pat.endswith("$"))
        return F.when(literal, path.startswith(pat)) \
            .otherwise(F.rlike(path, r.getField("re")))

    matched = F.filter(rules, _match)
    best = F.array_max(F.transform(
        matched,
        lambda r: F.struct(r.getField("spec").alias("spec"),
                           r.getField("allow").alias("allow"))))
    return (F.when(rules.isNull(), F.lit(True))
            .when(F.size(matched) == 0, F.lit(True))
            .otherwise(best.getField("allow")))


def apply_robots(frontier: DataFrame, robots: DataFrame,
                 prune: bool = True,
                 prune_hosts: DataFrame | None = None) -> DataFrame:
    """Gate the frontier on per-host robots rules.

    ``robots(host, rules array<struct>, crawl_delay_ms)`` is one row
    per host *ever seen* — at crawl scale (10⁷-10⁸ hosts, each with a
    rule array) that relation is GBs and must never be broadcast
    whole. The gated side, by contrast, is a single round's fresh
    offers (entry-gating), so its DISTINCT host set is bounded by
    hosts-per-round. ``prune=True`` (default) therefore broadcasts
    the batch's host set into a semi-join that cuts robots down to
    exactly the hosts this batch touches, and only THAT bounded
    relation is broadcast into the gate join. Both broadcasts are
    O(hosts-per-round); the full robots table is only ever scanned,
    never shuffled or broadcast.

    By default the frontier subtree is read twice under pruning
    (host-distinct + gate join) — callers on an expensive discovery
    chain must either materialize it first (crawl.py checkpoints the
    staged offers: the gate there feeds two writes anyway) or pass
    ``prune_hosts``: any one-column ``host`` relation whose host set
    CONTAINS the frontier's. The cheap source is
    ``urlcanon.host_expr`` over the RAW url column — host extraction
    needs none of the path/query canonicalization, so the prune
    branch becomes a codegen-only scan of the input's url column and
    the expensive canon chain stays single-read with no barrier
    (schedule() and bench.py do this). Supersets are safe: an extra
    host only keeps an extra robots row; a robots row whose host is
    absent from the batch never matches the left join anyway.

    The allow predicate itself (:func:`robots_allowed_expr`) is
    evaluated entirely JVM-side against the URL path.
    """
    if prune:
        hosts = (prune_hosts if prune_hosts is not None
                 else frontier).select("host").distinct()
        robots = robots.join(F.broadcast(hosts), "host", "left_semi")
    gated = (frontier
             .join(F.broadcast(robots), "host", "left")
             .withColumn("path",
                         # path PLUS query (RFC 9309 §2.2.2 — rules
                         # like /*?* must see the querystring); canon
                         # URLs carry no fragment, scheme may be
                         # absent (scheme-relative //h/p is canonical)
                         F.coalesce(
                             F.nullif(
                                 F.regexp_extract(
                                     "url_canon",
                                     r"^(?:[a-z][a-z0-9+.-]*:)?//[^/?#]*([^#]*)",
                                     1),
                                 F.lit("")),
                             F.lit("/")))
             .withColumn(
                 "robots_allowed",
                 robots_allowed_expr(F.col("path"), F.col("rules"))))
    return (gated
            .withColumn("crawl_delay_ms",
                        F.coalesce(F.col("crawl_delay_ms"), F.lit(0)))
            .drop("path"))


def schedule(frontier: DataFrame, robots: DataFrame | None,
             budget_per_host: int,
             num_partitions: int | None = None) -> DataFrame:
    """Full scheduling pipeline: canon → host → robots → budget → order.

    Input needs (url, priority, warc_ts); output adds url_canon, host,
    host_bucket, salt, robots_allowed, rank_in_host — fetch-ordered.
    """
    if "url_canon" in frontier.columns:
        staged = frontier.where(F.col("url_canon").isNotNull())
    else:
        staged = with_valid_url_canon(frontier)
    if "host" not in staged.columns:
        staged = with_host(staged)
    if robots is not None:
        # the robots prune's host set comes from the RAW url column
        # (codegen-only host_expr ⊇ the canon hosts), so the canon
        # chain in `staged` is read exactly once — no barrier needed
        hosts = None
        if "url" in frontier.columns:
            from frontier.spark import urlcanon
            hosts = frontier.select(
                urlcanon.host_expr(F.col("url"), validate=False)
                .alias("host"))
        staged = apply_robots(staged, robots, prune_hosts=hosts) \
            .where(F.col("robots_allowed"))
    cut = politeness_cut(staged, budget_per_host)
    return fetch_order(cut, num_partitions)


def recrawl_schedule(history: DataFrame, now_us: int,
                     min_interval_sec: int = 86_400,
                     max_interval_sec: int = 2_592_000,
                     priors: DataFrame | None = None) -> DataFrame:
    """Freshness-driven revisit scheduling (Cho & Garcia-Molina,
    "Effective Page Refresh Policies for Web Crawlers", TODS 2003 —
    the policy Nutch's AdaptiveFetchSchedule implements): estimate
    each URL's change rate from its fetch history and place the next
    fetch between a min and a max revisit interval — pages that
    changed on every revisit recrawl at ``min_interval_sec``, pages
    that never changed decay to ``max_interval_sec``. The reference
    has no crawl loop at all; this is mandate depth on the
    north-rule scheduler (SURVEY §2.7 scheduling).

    ``history``: one row per past fetch —
    (url_canon, fetch_ts timestamp, content_sha). Returns one row
    per url: n_fetches, n_versions (distinct content hashes),
    last_fetch_us, change_rate = (n_versions−1)/max(n_fetches−1, 1),
    interval_sec = max − round((max−min)·change_rate),
    next_fetch_us = last_fetch_us + interval_sec·10⁶, and
    due = next_fetch_us ≤ now_us.

    ``priors``: optional (url_canon, interval_prior_sec) relation —
    the host's self-reported cadence
    (sitemaps.changefreq_interval_sec over sitemap entries). A URL
    with fewer than TWO fetches has a zero-information change-rate
    estimate (rate 0 → max interval); for those rows the prior
    (clamped into [min, max]) replaces the estimate, and from the
    second fetch on the measured rate takes over — Nutch's
    AdaptiveFetchSchedule initial-interval seeding. One extra
    uniform-key equi-join on url_canon, nothing else changes.

    Integer epoch-micros and an integer interval keep the relation
    exact across engines (no timestamp-format hashing hazards; the
    only float is the change rate itself). Plan shape at 10^10
    history rows: ONE aggregation on the uniform url key with
    map-side partial aggregation — no window, no join (one bounded
    equi-join when ``priors`` is given); slim (url, ts_us, sha)
    tuples are all that shuffles.
    """
    g = (history.groupBy("url_canon")
         .agg(F.count("*").alias("n_fetches"),
              F.countDistinct("content_sha").alias("n_versions"),
              # cast: accepts TIMESTAMP_NTZ parquet columns too; the
              # session TZ is pinned UTC (session.py), so the NTZ
              # instant matches DuckDB's epoch_us of the same column
              F.max(F.unix_micros(F.col("fetch_ts").cast("timestamp")))
              .alias("last_fetch_us")))
    change = ((F.col("n_versions") - 1).cast("double")
              / F.greatest(F.col("n_fetches") - 1, F.lit(1)))
    span = max_interval_sec - min_interval_sec
    measured = (F.lit(max_interval_sec).cast("bigint")
                - F.round(F.lit(span) * F.col("change_rate"), 0)
                .cast("bigint"))
    interval = measured
    if priors is not None:
        g = g.join(priors.select(
            "url_canon",
            F.greatest(F.least(F.col("interval_prior_sec"),
                               F.lit(max_interval_sec)),
                       F.lit(min_interval_sec)).cast("bigint")
            .alias("_prior_sec")), "url_canon", "left")
        interval = F.when(F.col("n_fetches") < 2,
                          F.coalesce(F.col("_prior_sec"), measured)) \
            .otherwise(measured)
    return (g.withColumn("change_rate", change)
            .withColumn("interval_sec", interval)
            .drop("_prior_sec")
            .withColumn("next_fetch_us",
                        F.col("last_fetch_us")
                        + F.col("interval_sec") * F.lit(1_000_000))
            .withColumn("due", F.col("next_fetch_us") <= F.lit(now_us)))
