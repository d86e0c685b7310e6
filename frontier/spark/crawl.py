"""The crawl loop: schedule → fetch → parse → discover → update state.

Batch-iterative BFS with per-round Iceberg-style snapshot commits
(SURVEY.md §7.4). Each round:

1. robots gate AT FRONTIER ENTRY — seeds and fresh discoveries are
   gated once, when offered; blocked URLs never enter the frontier.
   (Round-2 shape re-gated the ENTIRE frontier every round — at
   10^10 frontier rows that is O(frontier) regex/prefix work per
   round for URLs whose verdict cannot change. Entry-gating is
   O(new offers) and produces identical scheduled sets because the
   robots relation is fixed for the session; the simulator mirrors
   the same rule.)
2. politeness budget — skew-safe per-host top-k (schedule.py)
3. "fetch" — in the sandbox a join against the synthetic ``pages``
   table on ``url_canon`` (on a real cluster this stage is the HTTP
   fetcher); parse + main-text extraction is the fused Arrow kernel
   (parse.page_index_arrow — ONE pass per page)
4. discovery — outbound links, canonicalized, priority = parent+1,
   merged min-(priority, warc_ts) per new URL (deterministic at any
   parallelism; mirrored by frontier.kernel.simulator)
5. seen-set update — partitioned Bloom ∪ batch in ONE grouped pass
   (seen.update), checkpointed once and read by both the unseen probe
   and the commit; discoveries are probed once and confirmed by one
   conditional anti-join (seen.filter_unseen); exact table appended.
   Bloom saturation is tracked per round and the filter is REBUILT
   from the exact relation (at doubled width) when the estimated FPP
   exceeds ``target_fpp`` — without this, fixed-width merges degrade
   silently as keys accumulate
6. snapshot commit — frontier / seen / bloom / results + metrics;
   ``resume=True`` restarts from the latest manifest and produces
   identical final state

Driver-side serial work is deliberately minimal (the N→4N scaling
obstacle found in round 1): exactly ONE pre-commit Spark action per
round (materializing the persisted scheduled batch, which doubles as
the empty-check and the ``scheduled`` metric). Every other metric
comes from parquet footers of the committed tables (driver-side
pyarrow metadata, zero jobs) or ``df.observe`` riding the commit
writes. Round-1 shape — 2× isEmpty + 4 eager counts + per-table
read-back counts, each recomputing the politeness window chain —
cost ~6 recomputations of the round lineage per round.

Scale notes: every per-round shuffle keys on url_canon or host; the
budget-bounded batch is broadcast onto the page index so page bytes
never shuffle (batches past ``broadcast_fetch_max`` rows take the
co-partitioned join instead — see fetch_pages). Results append,
never rewrite; seen_exact and blocked are APPEND tables (round 4 —
only the round's delta is written, the one shape a 10^10-URL seen
set admits). The frontier
stays a whole-rewrite table ON PURPOSE: the politeness cut must read
and re-rank the FULL frontier every round regardless (global top-k
per host), so the O(frontier) scan is inherent to scheduling; a
merge-on-read base+delta frontier would only move that same cost
into every read plus an anti-join chain that needs periodic
compaction, while the write is already a straight columnar dump of
state the next round must re-sort anyway. Append pays off exactly
where reads are membership probes (seen) or anti-joins (blocked),
not full-relation sorts.
Plan-lineage truncation comes free from the per-round parquet
checkpoint — without it the iterative plan would grow unboundedly.

Round-4 plan-compile discipline (the loop's width-flat driver tax,
r3 VERDICT item 3 — measured ~15-25 s/round of pure Catalyst work):

* round state materializes via LAZY ``localCheckpoint`` (:func:`_ckpt`)
  so every downstream plan is a shallow LogicalRDD — ``persist()``
  kept full logical lineage and every consumer re-analyzed it;
* ``spark.sql.constraintPropagation.enabled=false`` (session.py) —
  flat on crawl, and curate's set-up and cold pass run 3-12 % slower
  with it on (interleaved perfbench runs, 4 cores);
* snapshot table writes run CONCURRENTLY (snapshots.commit) so one
  write's plan compile overlaps another's execution;
* cached blocks are freed per round by draining the crawl-private
  list of checkpointed RDD handles (_CKPT_LIVE; localCheckpoint
  blocks otherwise free only on driver GC — and a registry-wide
  diff would drop concurrent jobs' caches, r4 ADVICE).
"""

from __future__ import annotations

import math
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import schedule as sched
from . import seen as seenmod
from . import session
from .parse import page_index_arrow
from .snapshots import SnapshotStore

FRONTIER_COLS = ["url_canon", "priority", "warc_ts"]

DEFAULT_TARGET_FPP = 0.02


def prepare_page_index(pages: DataFrame) -> DataFrame:
    """pages → fetch-lookup index: url_canon, warc_ts, text, links,
    parse_error — ONE fused kernel pass (parse + main-text decode +
    link collection + canonicalization per page, no groupBy shuffle).
    Cached by the caller."""
    return (page_index_arrow(pages)
            .dropDuplicates(["url_canon"]))


# Measured (BENCH/scaling_crawl_raw.md, 2M pages, 1M-row batch): the
# co-partitioned fetch beats broadcast end-to-end at 1M rows already
# (41 s vs 57 s for a 2-round crawl) — driver hash-relation build +
# per-task rebuild dwarf the slim-batch shuffle well before the
# classic "fits in memory" limit. Broadcast only genuinely small
# batches.
DEFAULT_BROADCAST_FETCH_MAX = 250_000


def fetch_pages(page_index: DataFrame, batch: DataFrame,
                mode: str = "broadcast") -> DataFrame:
    """Join the scheduled batch onto the page index.

    * ``broadcast`` — the budget-bounded batch rides to every
      executor; page text/links never shuffle. Right whenever the
      batch fits the driver/executor broadcast budget.
    * ``copartition`` — equi-join on url_canon with a SHUFFLE_HASH
      hint on the slim side: the batch shuffles and builds per-
      partition hash maps; the page side just streams (hash join
      needs no sort). When ``page_index`` is a bucketed table
      (sources.write_bucketed_page_index) the big side's exchange is
      elided too — page text/links NEVER move, same as broadcast.
      This is the 10^8+-row batch path where broadcast is impossible;
      shuffle_hash beats shuffle_merge here because merge would sort
      the wide page rows per bucket.

    Both produce identical rows (test_crawl proves it) — the choice
    is purely physical; the crawl round makes it from the batch size
    (``crawl(broadcast_fetch_max=)``).
    """
    idx = page_index.select("url_canon",
                            F.col("warc_ts").alias("page_ts"),
                            "text", "links")
    slim = batch.select("url_canon", "priority")
    if mode == "broadcast":
        return idx.join(F.broadcast(slim), "url_canon")
    if mode == "copartition":
        return idx.join(slim.hint("shuffle_hash"), "url_canon")
    raise ValueError(f"unknown fetch mode: {mode!r}")


def _estimate_fpp(n_keys: int, m_bits: int,
                  k: int = seenmod.DEFAULT_K) -> float:
    """Classic Bloom FPP estimate (1 - e^{-kn/m})^k for the fullest
    bucket — the bound that matters, since one saturated bucket
    poisons its share of the keyspace."""
    if not m_bits:
        return 1.0
    return (1.0 - math.exp(-k * n_keys / m_bits)) ** k


def crawl(spark: SparkSession, page_index: DataFrame, seeds: DataFrame,
          robots: DataFrame | None, store: SnapshotStore,
          budget_per_host: int = 10, max_rounds: int = 5,
          num_buckets: int = seenmod.DEFAULT_NUM_BUCKETS,
          resume: bool = False,
          bloom_bits_per_bucket: int | None = None,
          target_fpp: float = DEFAULT_TARGET_FPP,
          broadcast_fetch_max: int = DEFAULT_BROADCAST_FETCH_MAX,
          sitemap_offers: DataFrame | None = None,
          window_ms: int | None = None,
          robots_docs: DataFrame | None = None) -> dict:
    """Run (or resume) a crawl; returns the final manifest dict.

    seeds: (url, priority, source_rank) — source_rank breaks dup-seed
    ties first-wins, mirroring merge.py:30-44.

    sitemap_offers: optional FRONTIER_COLS relation (already
    canonicalized and internally deduplicated —
    sitemaps.discover_offers output) unioned into the initial
    frontier; on overlap the SEED row wins (anti-join) — the engine's
    "an already-queued URL is never re-added" rule, identical to the
    simulator offering seeds before sitemap rows. Robots-gated at
    entry like any offer. Ignored on resume (the committed state
    already absorbed them).

    window_ms: honor robots Crawl-delay in the politeness cut — a
    host with delay d ms serves at most max(1, window_ms // d)
    fetches per round (politeness_cut's delay rule). The delay
    column joins onto the slim staged frontier on the SAME host key
    the politeness window partitions by — a uniform-key equi-join,
    never a broadcast of the unbounded robots relation (the r4 scale
    rule). The simulator mirrors the rule (robots_delay/window_ms).

    robots_docs: (host, robots_txt bytes) — switch to INCREMENTAL
    robots acquisition, how a real frontier works: instead of a
    pre-known gate relation (``robots``, ignored in this mode), each
    round fetches + parses robots.txt for exactly the hosts its
    fresh offers touch (anti-join against the hosts already known),
    and the growing ``robots_rules`` relation is crawl STATE —
    committed as an append table (only the round's delta is
    written), resume-safe like seen/blocked. Hosts with no robots
    document become null-rule rows (RFC 9309 §2.3.1: unavailable =
    allow-all) so they are never re-fetched. Because robots(host) is
    the same function whether acquired lazily or known upfront, the
    final crawl state is IDENTICAL to the static gate — pinned by
    tests/test_crawl.py::test_incremental_robots_equals_static.
    Scale shape: the new-host set is bounded by hosts-per-round,
    the fetch join keys on host, and the known relation is only
    ever scanned (the gate prunes it to the round's hosts before
    broadcasting).

    broadcast_fetch_max: the fetch join broadcasts the scheduled batch
    while it is ≤ this many rows and takes the co-partitioned join
    beyond (0 always co-partitions). The batch row count is already
    on the driver, so the choice costs nothing.
    """
    if bloom_bits_per_bucket is None:
        bloom_bits_per_bucket = (seenmod.DEFAULT_BITS_PER_KEY
                                 * 200_000)
    bloom_bits = int(bloom_bits_per_bucket)
    rebuild_bloom = False

    incremental = robots_docs is not None
    robots_pending = spark.createDataFrame([], sched.ROBOTS_DDL)
    latest = store.manifest() if resume else None
    if latest is not None:
        frontier = store.read(spark, "frontier")
        seen_exact = store.read(spark, "seen_exact")
        seen_bloom = store.read(spark, "seen_bloom")
        blocked = store.read(spark, "blocked")
        if incremental:
            robots = store.read(spark, "robots_rules")
        start_round = latest["metrics"]["round"] + 1
        # recover saturation state from the manifest (resume contract)
        bloom_bits = int(latest["metrics"].get("bloom_m_bits",
                                               bloom_bits))
        rebuild_bloom = bool(latest["metrics"].get("bloom_rebuild_next",
                                                   False))
    else:
        frontier = _seed_frontier(seeds)
        if sitemap_offers is not None:
            frontier = frontier.unionByName(
                sitemap_offers.select(*FRONTIER_COLS)
                .join(frontier.select("url_canon"),
                      "url_canon", "left_anti"))
        blocked = spark.createDataFrame([], "url_canon string")
        if incremental:
            # acquire robots for the seed/sitemap hosts before the
            # entry gate; the delta rides round 0's append commit
            robots = spark.createDataFrame([], sched.ROBOTS_DDL)
            robots_pending = _ckpt(_acquire_robots(
                robots, sched.with_host(frontier), robots_docs))
            robots = robots.unionByName(robots_pending)
        if robots is not None:
            frontier, blocked = _gate_frontier(frontier, robots)
        seen_exact = spark.createDataFrame([], "url_canon string")
        seen_bloom = spark.createDataFrame([], seenmod.BLOOM_DDL)
        start_round = 0
    # blocked rows not yet in any snapshot (seed-time gating on a
    # fresh start) — they ride the next round's append delta
    blocked_pending = blocked if latest is None \
        else spark.createDataFrame([], "url_canon string")

    for round_no in range(start_round, max_rounds):
        # Round state is materialized via LAZY localCheckpoint (see
        # _ckpt): every block _ckpt cached — including seed-time gate
        # state consumed by round 0 — is released in the finally below
        # by draining the crawl-private _CKPT_LIVE list. An exception
        # mid-round (fetch failure, commit error) must not leak cached
        # partitions into the next round / the rest of the session
        # (round-2 ADVICE; localCheckpoint blocks otherwise free only
        # on driver GC, the measured 83→162 s in-session
        # degradation). Tracking our own checkpoints — rather than
        # diffing the session-global persistent-RDD registry — leaves
        # caches built by concurrent jobs in the same SparkSession
        # untouched (r4 ADVICE).
        try:
            stop = _crawl_round(
                spark, round_no, frontier, robots, page_index, store,
                budget_per_host, num_buckets, bloom_bits, rebuild_bloom,
                seen_exact, seen_bloom, blocked,
                blocked_pending, broadcast_fetch_max, target_fpp,
                window_ms, robots_docs, robots_pending)
        finally:
            _release_ckpts()
        if stop:
            break

        # refresh saturation state from the committed manifest — the
        # SAME source a resumed crawl reads, so in-session and resumed
        # rounds see identical (bloom_bits, rebuild) state
        rebuild_bloom = bool(
            store.manifest()["metrics"].get("bloom_rebuild_next", False))
        bloom_bits = int(store.manifest()["metrics"].get(
            "bloom_m_bits", bloom_bits)) or bloom_bits

        frontier = store.read(spark, "frontier")
        seen_exact = store.read(spark, "seen_exact")
        seen_bloom = store.read(spark, "seen_bloom")
        blocked = store.read(spark, "blocked")
        blocked_pending = spark.createDataFrame([], "url_canon string")
        if incremental:
            robots = store.read(spark, "robots_rules")
            robots_pending = spark.createDataFrame([], sched.ROBOTS_DDL)

    _release_ckpts()  # zero-round call: free the seed-gate checkpoint
    return store.manifest() or {}


def _ckpt(df: DataFrame) -> DataFrame:
    """LAZY localCheckpoint — the round's materialization primitive
    (round-4, r3 VERDICT item 3). ``persist()`` caches blocks but
    keeps the full LOGICAL lineage, so every downstream Dataset the
    round constructs re-analyzes the whole tree — measured ~15 s of
    pure width-flat driver-side plan construction per round (21.6 s
    for the seen/bloom/gate section alone at sf0.001, NO action
    running). A lazily-checkpointed Dataset's plan is a shallow
    LogicalRDD immediately, so every downstream construction is
    O(shallow); blocks cache identically on first action (concurrent
    first actions dedup via BlockManager get-or-compute).

    Every checkpointed Dataset is recorded in the crawl-private
    ``_CKPT_LIVE`` list; :func:`_release_ckpts` frees exactly those
    blocks (r4 ADVICE: a registry-wide diff would also drop caches a
    CONCURRENT job built in the same SparkSession, and it missed the
    seed-time gate checkpoint created before the round's diff
    baseline).

    Blocks are non-replicated MEMORY_AND_DISK by default — on one JVM
    (this sandbox) loss means driver death anyway. On a cluster,
    executor loss mid-round would fail the commit instead of
    recomputing (truncated lineage), so FRONTIER_CKPT_REPLICATED=1
    switches to MEMORY_AND_DISK_2: every block lives on two
    executors and a single loss no longer kills the round (see the
    commit-site note in snapshots.py)."""
    level = (StorageLevel.MEMORY_AND_DISK_2
             if os.environ.get("FRONTIER_CKPT_REPLICATED") else None)
    return session.checkpoint(df, _CKPT_LIVE, level)


_CKPT_LIVE: list = []  # java RDD handles (session.checkpoint)


def _release_ckpts() -> None:
    """Unpersist every RDD ``_ckpt`` persisted since the last
    release. Called once per crawl round (and at crawl exit): by then
    the round's state lives in the committed snapshot, so no live
    plan references the truncated-lineage blocks any more."""
    session.release(_CKPT_LIVE)


def _acquire_robots(known: DataFrame, offers_with_host: DataFrame,
                    robots_docs: DataFrame) -> DataFrame:
    """Fetch + parse robots.txt for the offer hosts not yet in
    ``known`` → the round's DELTA of the gate relation
    (ROBOTS_DDL). The "fetch" is a join against the (host,
    robots_txt) relation — on a real cluster the HTTP fetcher, here
    synth.robots_txt_df. Hosts with no robots document become
    null-rule rows (RFC 9309 §2.3.1: unavailable robots.txt =
    allow-all) so they are KNOWN and never re-fetched. Bounded: the
    anti-join's left side is the round's distinct offer hosts."""
    new_hosts = (offers_with_host.select("host")
                 .where(F.col("host").isNotNull() & (F.col("host") != ""))
                 .distinct()
                 .join(known.select("host"), "host", "left_anti"))
    fetched = robots_docs.join(new_hosts, "host")  # the fetch stage
    parsed = sched.robots_from_text(fetched)
    missing = (new_hosts
               .join(robots_docs.select("host").distinct(),
                     "host", "left_anti")
               .select("host",
                       F.lit(None).cast(sched.RULES_DDL).alias("rules"),
                       F.lit(0).alias("crawl_delay_ms")))
    return parsed.unionByName(missing)


def _crawl_round(spark, round_no, frontier, robots, page_index, store,
                 budget_per_host, num_buckets, bloom_bits, rebuild_bloom,
                 seen_exact, seen_bloom, blocked,
                 blocked_pending, broadcast_fetch_max, target_fpp,
                 window_ms=None, robots_docs=None,
                 robots_pending=None) -> bool:
    """One crawl round; returns True when the frontier is exhausted.
    Every intermediate the round materializes goes through
    :func:`_ckpt`; the caller frees the blocks in a finally (round-2
    ADVICE: an exception between checkpoint and commit must not leak
    cached partitions)."""
    # 1. (robots already enforced at frontier entry — every frontier
    # row is allowed by invariant; see _gate_frontier below.)
    # slim (no page bytes) and consumed twice — the politeness cut
    # AND the leftover anti-join inside the frontier write; without
    # the checkpoint the host chain recomputes at commit time
    staged = _ckpt(sched.with_host(frontier))

    # 2. politeness budget (skew-safe two-phase top-k). Checkpointed:
    # the batch feeds the fetch join, the leftover anti-join, the
    # seen append AND the bloom update — without it each consumer
    # recomputes the window chain. Its count is the ONE pre-commit
    # action per round (empty-check + metric in one).
    # window_ms: the robots Crawl-delay caps each host's budget at
    # max(1, window_ms // delay). The delay column equi-joins onto
    # the SLIM staged frontier on host — the politeness window's own
    # key, so the join and the window share one exchange; the robots
    # relation is never broadcast (unbounded at 10^8 hosts, r4 rule).
    to_cut, delay_col = staged, None
    if window_ms is not None and robots is not None:
        to_cut = staged.join(
            robots.select("host",
                          F.coalesce(F.col("crawl_delay_ms"), F.lit(0))
                          .alias("_delay_ms")),
            "host", "left") \
            .withColumn("_delay_ms",
                        F.coalesce(F.col("_delay_ms"), F.lit(0)))
        delay_col = "_delay_ms"
    batch = _ckpt(sched.politeness_cut(to_cut, budget_per_host,
                                       delay_col=delay_col,
                                       window_ms=window_ms)
                  .select(*FRONTIER_COLS, "host", "rank_in_host"))
    n_scheduled = batch.count()
    if n_scheduled == 0:
        return True
    leftover = staged.select(*FRONTIER_COLS) \
        .join(batch.select("url_canon"), "url_canon", "left_anti")

    # 3. fetch + parse (page_index lookup). URLs with no page
    # simply don't match (inner join), and seen-marking uses
    # `batch` directly so nothing is lost. Persisted: feeds both
    # the results write and link discovery.
    mode = "broadcast" if n_scheduled <= broadcast_fetch_max \
        else "copartition"
    fetched = _ckpt(fetch_pages(page_index, batch, mode))
    results = fetched.where(F.col("text").isNotNull()) \
        .select("url_canon", "text",
                F.lit(round_no).alias("round"))

    # 4. discovery: explode links, canon, min-merge per new url.
    raw_links = (fetched
                 .where(F.col("links").isNotNull())
                 .select(F.col("priority"), F.col("page_ts"),
                         F.explode("links").alias("link")))
    canon_links = (sched.with_url_canon(raw_links, "link")
                   .where(F.col("url_canon").isNotNull())
                   .select("url_canon", "priority", "page_ts"))
    candidates = (canon_links
                  .groupBy("url_canon")
                  .agg(F.min(F.struct(
                      (F.col("priority") + 1).alias("priority"),
                      F.col("page_ts").alias("warc_ts"))).alias("o"))
                  .select("url_canon", "o.priority", "o.warc_ts"))

    # 5. seen update + unseen filter. ONE grouped pass writes the
    # round's filter (seen.update: the batch's keys cogroup with the
    # old filter rows on bucket) and it is checkpointed, so the probe
    # and the seen_bloom commit write read the same blocks instead of
    # each re-running the update. When the previous round estimated
    # the Bloom past target_fpp, the filter is REBUILT from the exact
    # relation at doubled width instead (merging different widths is
    # meaningless — positions use different moduli).
    #
    # Disjointness invariant (round-4, enables the append-only seen
    # table): every frontier row is unseen by construction
    # (discoveries pass filter_unseen before entering; leftovers were
    # never scheduled), so the scheduled batch can NEVER intersect
    # seen_exact and the cumulative relation is a plain union — no
    # dedup shuffle (the old dropDuplicates re-shuffled the ENTIRE
    # seen set every round: O(total) work at 10^10 URLs), and the
    # snapshot commits only the batch DELTA (Iceberg append).
    new_seen = seen_exact.unionByName(batch.select("url_canon"))
    if rebuild_bloom:
        new_bloom = _ckpt(seenmod.build(new_seen, num_buckets=num_buckets,
                                        bits_per_bucket=bloom_bits * 2))
    else:
        new_bloom = _ckpt(seenmod.update(
            seen_bloom, batch.select("url_canon"),
            num_buckets=num_buckets, bits_per_bucket=bloom_bits))

    fresh = seenmod.filter_unseen(candidates, new_bloom, new_seen,
                                  num_buckets=num_buckets)
    fresh = fresh.join(blocked, "url_canon", "left_anti") \
        .join(leftover.select("url_canon"), "url_canon", "left_anti")

    # robots gate at frontier entry: only NEW offers are matched
    # (O(discoveries), not O(frontier)). newly_blocked is disjoint
    # from `blocked` by construction (fresh was just anti-joined
    # against it) and internally distinct (fresh is grouped by
    # url_canon), so the union needs no dedup shuffle.
    #
    # The checkpoint sits ABOVE the gate (round-4): the discovery
    # chain (explode → canon → bloom probe → anti-joins → robots
    # match) feeds BOTH the frontier write (allowed side) and the
    # blocked write (denied side) — materializing below the gate made
    # the blocked write re-run the robots regex match over every
    # fresh offer (measured ~5 s/round at 2M pages; the pre-r3
    # unmaterialized shape recomputed the whole chain, 19 s + 13 s
    # at sf0.001).
    robots_delta = robots_pending if robots_pending is not None \
        else spark.createDataFrame([], sched.ROBOTS_DDL)
    if robots is not None:
        # staged offers checkpoint FIRST: the pruned robots gate
        # (round-5) reads the frontier subtree twice — once for the
        # batch's distinct hosts that prune the robots relation, once
        # for the gate join — and without this barrier both reads
        # would recompute the whole discovery chain above.
        staged = _ckpt(sched.with_host(fresh))
        if robots_docs is not None:
            # incremental acquisition: fetch+parse robots.txt for the
            # hosts this round's offers touch that aren't known yet;
            # the delta joins the gate NOW (offers need their hosts'
            # verdicts this round) and rides this round's append
            # commit. Checkpointed: read by the gate (via the union)
            # AND by the commit write.
            new_rules = _ckpt(_acquire_robots(robots, staged,
                                              robots_docs))
            robots = robots.unionByName(new_rules)
            robots_delta = robots_delta.unionByName(new_rules)
        gated = _ckpt(sched.apply_robots(staged, robots))
        fresh = gated.where(F.col("robots_allowed")) \
            .select(*FRONTIER_COLS)
        newly_blocked = gated.where(~F.col("robots_allowed")) \
            .select("url_canon")
    else:
        fresh = _ckpt(fresh)
        newly_blocked = spark.createDataFrame([], "url_canon string")
    # append DELTA for the blocked table: any still-uncommitted
    # seed-time blocks plus this round's newly gated-out offers —
    # disjoint from the committed blocked set by construction (fresh
    # was anti-joined against it above), so no dedup needed
    blocked_delta = blocked_pending.unionByName(newly_blocked)

    # 6. snapshot commit (also truncates plan lineage). Metrics
    # ride the commit: discovered_new via df.observe on the
    # frontier write, bloom saturation via observe on the bloom
    # write, row counts from the committed parquet footers —
    # ZERO additional Spark jobs.
    fresh_obs = Observation(f"fresh-r{round_no}")
    flagged = (leftover.withColumn("_fresh", F.lit(False))
               .unionByName(fresh.select(*FRONTIER_COLS)
                            .withColumn("_fresh", F.lit(True))))
    new_frontier = flagged.observe(
        fresh_obs,
        F.sum(F.col("_fresh").cast("long")).alias("n_fresh")
    ).drop("_fresh")

    bloom_obs = Observation(f"bloom-r{round_no}")
    new_bloom = new_bloom.observe(
        bloom_obs,
        F.max("n_keys").alias("max_keys"),
        F.max(F.length("bloom")).alias("m_bytes"))

    def bloom_metrics(_lineage, _obs=bloom_obs):
        got = _obs.get
        n = int(got["max_keys"] or 0)
        m_bits = int(got["m_bytes"] or 0) * 8
        fpp = _estimate_fpp(n, m_bits)
        return {"bloom_max_keys_per_bucket": n,
                "bloom_m_bits": m_bits,
                "bloom_est_fpp": round(fpp, 6),
                "bloom_rebuild_next": fpp > target_fpp}

    metrics = {
        "round": round_no,
        "scheduled": n_scheduled,
        "extracted_texts": lambda L: L["results"]["n_rows"],
        "discovered_new":
            lambda L, _o=fresh_obs: int(_o.get["n_fresh"] or 0),
        "frontier_size": lambda L: L["frontier"]["n_rows"],
        "budget_per_host": budget_per_host,
        "_bloom": bloom_metrics,
    }
    tables = {
        "frontier": new_frontier,
        # append tables: only the round's DELTA is written; the
        # manifest chains parent file lists (snapshots.commit)
        "seen_exact": batch.select("url_canon"),
        "seen_bloom": new_bloom,
        "blocked": blocked_delta,
        "batch": batch,
        "results": results,
    }
    append = {"seen_exact", "blocked"}
    if robots_docs is not None:
        # robots knowledge is crawl state: append the round's newly
        # acquired rules (incl. any seed-time pending delta)
        tables["robots_rules"] = robots_delta
        append.add("robots_rules")
        metrics["robots_new_hosts"] = \
            lambda L: L["robots_rules"]["n_rows"]
    store.commit(tables, metrics, append=append)
    return False


def _gate_frontier(offers: DataFrame,
                   robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split offered frontier rows (FRONTIER_COLS) into
    (allowed, blocked url_canon) under the broadcast robots gate.
    Applied once per URL — at seed time and at discovery time — so
    frontier rows carry the invariant "robots-allowed"."""
    # barrier before the pruned gate (see _crawl_round): the gate
    # reads its input twice (host-distinct prune + join)
    gated = sched.apply_robots(_ckpt(sched.with_host(offers)), robots)
    allowed = gated.where(F.col("robots_allowed")) \
        .select(*FRONTIER_COLS)
    newly_blocked = gated.where(~F.col("robots_allowed")) \
        .select("url_canon")
    return allowed, newly_blocked


def _seed_frontier(seeds: DataFrame) -> DataFrame:
    """Seed list → initial frontier. Dup URLs resolve first-wins by
    source_rank (the reference's known_urls insertion semantics,
    merge.py:30-44), then min-(priority, warc_ts) like any offer."""
    canon = sched.with_url_canon(seeds) \
        .where(F.col("url_canon").isNotNull())
    from pyspark.sql import Window
    w = Window.partitionBy("url_canon").orderBy("source_rank")
    return (canon
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("url_canon", "priority",
                    F.timestamp_micros(F.lit(0)).alias("warc_ts")))


def commit_parse_errors(store: SnapshotStore,
                        page_index: DataFrame) -> int:
    """§2.8 error contract: persist the malformed-page relation
    (url, parse_error), one row per malformed page — the count rides
    the manifest lineage (parquet footers), and the per-file
    ``file_rows`` map IS the per-partition error counter.

    Written to a SIDECAR store under ``<root>/parse_errors`` so crawl
    snapshot ids stay 1:1 with rounds (resume + time-travel reads are
    keyed on that). Returns the malformed-page count."""
    sidecar = SnapshotStore(os.path.join(store.root, "parse_errors"))
    errors = page_index.where(F.col("parse_error").isNotNull()) \
        .select("url", "parse_error")
    snap_id = sidecar.commit(
        {"parse_errors": errors},
        {"parse_errors": lambda L: L["parse_errors"]["n_rows"]})
    return sidecar.manifest(snap_id)["metrics"]["parse_errors"]


def collect_results(spark: SparkSession, store: SnapshotStore) -> DataFrame:
    """Union of per-round results tables across all snapshots."""
    ids = store.snapshot_ids()
    out = None
    for sid in ids:
        df = store.read(spark, "results", sid)
        if df is None:
            continue
        out = df if out is None else out.unionByName(df)
    return out
