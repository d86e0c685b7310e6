"""Frontier crawl loop: Spark vs pure-Python simulator parity,
snapshot resume, determinism."""

import pyspark.sql.functions as F
import pytest

from frontier import synth
from frontier.kernel import simulator, urlnorm
from frontier.spark import crawl
from frontier.spark.snapshots import SnapshotStore

BUDGET = 3
ROUNDS = 4


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    pages = synth.pages_from_documents(spark, sf_dir).cache()
    page_index = crawl.prepare_page_index(pages).cache()
    seeds = synth.seeds_from_documents(spark, sf_dir).cache()
    robots = synth.robots_df(spark).cache()
    page_index.count(), seeds.count(), robots.count()
    return pages, page_index, seeds, robots


@pytest.fixture(scope="module")
def sim_inputs(corpus):
    pages, page_index, seeds, robots = corpus
    pages_map = {}
    for row in page_index.collect():
        ts = int(row.warc_ts.timestamp() * 1_000_000)
        pages_map[row.url_canon] = (ts, row.text, list(row.links))
    seed_list = [(r.url, r.priority, 0) for r in
                 seeds.orderBy("source_rank").collect()]
    robots_map = {r.host: [(ru.pat, ru.allow) for ru in r.rules]
                  for r in robots.collect() if r.rules}
    return pages_map, seed_list, robots_map


@pytest.fixture(scope="module")
def spark_run(spark, corpus, tmp_path_factory):
    _, page_index, seeds, robots = corpus
    store = SnapshotStore(str(tmp_path_factory.mktemp("crawl")))
    manifest = crawl.crawl(spark, page_index, seeds, robots, store,
                           budget_per_host=BUDGET, max_rounds=ROUNDS,
                           num_buckets=8)
    return store, manifest


@pytest.fixture(scope="module")
def sim_run(sim_inputs):
    pages_map, seed_list, robots_map = sim_inputs
    return simulator.simulate(pages_map, seed_list, robots_map,
                              budget_per_host=BUDGET, max_rounds=ROUNDS)


def test_scheduled_sets_match_per_round(spark, spark_run, sim_run):
    store, _ = spark_run
    for sid in store.snapshot_ids():
        batch = store.read(spark, "batch", sid)
        got = sorted(r.url_canon for r in batch.collect())
        assert got == sim_run.rounds[sid]["scheduled"], f"round {sid}"


def test_per_host_visit_order_matches(spark, spark_run, sim_run):
    store, _ = spark_run
    for sid in store.snapshot_ids():
        batch = store.read(spark, "batch", sid)
        rows = batch.orderBy("host", "rank_in_host").collect()
        got = {}
        for r in rows:
            got.setdefault(r.host, []).append(r.url_canon)
        want = {h: q for h, q in
                sim_run.rounds[sid]["per_host_order"].items() if q}
        assert got == want, f"round {sid}"


def test_seen_set_membership_matches(spark, spark_run, sim_run):
    store, _ = spark_run
    seen = {r.url_canon for r in
            store.read(spark, "seen_exact").collect()}
    assert seen == sim_run.seen


def test_extracted_texts_match(spark, spark_run, sim_run):
    store, _ = spark_run
    results = crawl.collect_results(spark, store)
    got = {r.url_canon: r.text for r in results.collect()}
    assert got == sim_run.fetched_texts


def test_resume_reproduces_state(spark, corpus, spark_run,
                                 tmp_path_factory):
    _, page_index, seeds, robots = corpus
    store_full, _ = spark_run
    store2 = SnapshotStore(str(tmp_path_factory.mktemp("crawl_resume")))
    crawl.crawl(spark, page_index, seeds, robots, store2,
                budget_per_host=BUDGET, max_rounds=2, num_buckets=8)
    assert store2.latest_id() == 1
    crawl.crawl(spark, page_index, seeds, robots, store2,
                budget_per_host=BUDGET, max_rounds=ROUNDS,
                num_buckets=8, resume=True)
    a = {r.url_canon for r in store_full.read(spark, "seen_exact").collect()}
    b = {r.url_canon for r in store2.read(spark, "seen_exact").collect()}
    assert a == b
    fa = {(r.url_canon, r.priority) for r in
          store_full.read(spark, "frontier").collect()}
    fb = {(r.url_canon, r.priority) for r in
          store2.read(spark, "frontier").collect()}
    assert fa == fb


def test_dry_frontier_stops_early(spark, corpus, sim_inputs,
                                  tmp_path_factory):
    """With a budget no host reaches, the synthetic graph runs dry
    before ``max_rounds``: the round that schedules nothing ends the
    crawl without a commit, and every committed round matches the
    simulator's."""
    _, page_index, seeds, _ = corpus
    pages_map, seed_list, _ = sim_inputs
    budget, horizon = 10_000, 8
    sim = simulator.simulate(pages_map, seed_list, {},
                             budget_per_host=budget, max_rounds=horizon)
    assert 0 < len(sim.rounds) < horizon
    store = SnapshotStore(str(tmp_path_factory.mktemp("crawl_dry")))
    crawl.crawl(spark, page_index, seeds, None, store,
                budget_per_host=budget, max_rounds=horizon, num_buckets=8)
    assert store.snapshot_ids() == list(range(len(sim.rounds)))
    for sid in store.snapshot_ids():
        got = sorted(r.url_canon for r in
                     store.read(spark, "batch", sid).collect())
        assert got == sim.rounds[sid]["scheduled"], f"round {sid}"
    results = crawl.collect_results(spark, store)
    assert {r.url_canon: r.text for r in results.collect()} \
        == sim.fetched_texts


def test_lineage_and_metrics_recorded(spark_run):
    store, manifest = spark_run
    assert manifest["metrics"]["scheduled"] > 0
    assert "frontier" in manifest["lineage"]
    assert manifest["lineage"]["seen_exact"]["n_rows"] > 0
    assert manifest["parent_id"] == manifest["snapshot_id"] - 1


def test_committed_bloom_equals_build_of_seen(spark, spark_run):
    """Without a rebuild, the per-round filter updates commit exactly
    the filter one build over the whole seen set writes at the same
    width: byte for byte, n_keys included."""
    from frontier.spark import seen as seenmod

    store, manifest = spark_run
    mans = [store.manifest(sid) for sid in store.snapshot_ids()]
    assert len(mans) >= 3
    assert not any(m["metrics"]["bloom_rebuild_next"] for m in mans[:-1])

    def blooms(df):
        return {r.bucket: (bytes(r.bloom), r.n_keys) for r in df.collect()}

    want = seenmod.build(store.read(spark, "seen_exact"), num_buckets=8,
                         bits_per_bucket=manifest["metrics"]["bloom_m_bits"])
    assert blooms(store.read(spark, "seen_bloom")) == blooms(want)


def test_robots_blocked_never_fetched(spark, spark_run, corpus):
    store, _ = spark_run
    _, _, _, robots = corpus
    blocked = store.read(spark, "blocked")
    seen = store.read(spark, "seen_exact")
    assert blocked.join(seen, "url_canon", "left_semi").count() == 0


def test_copartition_fetch_identical_state(spark, corpus, sim_run,
                                           tmp_path_factory):
    """broadcast_fetch_max=0 forces the co-partitioned fetch (the
    10^8+-batch path: plain equi-join, no broadcast); it must produce
    byte-identical crawl state to the broadcast fetch — the choice is
    purely physical."""
    _, page_index, seeds, robots = corpus
    store = SnapshotStore(str(tmp_path_factory.mktemp("crawl_copart")))
    crawl.crawl(spark, page_index, seeds, robots, store,
                budget_per_host=BUDGET, max_rounds=ROUNDS, num_buckets=8,
                broadcast_fetch_max=0)
    seen = {r.url_canon for r in store.read(spark, "seen_exact").collect()}
    assert seen == sim_run.seen
    results = crawl.collect_results(spark, store)
    got = {r.url_canon: r.text for r in results.collect()}
    assert got == sim_run.fetched_texts


def test_bucketed_index_elides_big_side_exchange(spark, corpus):
    """The bucketed page-index table joins without shuffling the big
    side: plan shows Bucketed:true scan and no Exchange above it."""
    import pyspark.sql.functions as F2

    from frontier.spark import sources
    _, page_index, _, _ = corpus
    sources.write_bucketed_page_index(
        page_index, "page_index_buckets_test",
        "/tmp/frontier_test_bucketed_index", n_buckets=8)
    bidx = sources.read_bucketed_page_index(
        spark, "page_index_buckets_test")
    batch = bidx.select("url_canon").limit(50) \
        .withColumn("priority", F2.lit(0))
    joined = crawl.fetch_pages(bidx, batch, "copartition")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines()
                  if "FileScan" in ln and "page_index_buckets_test" in ln
                  and "links" in ln]  # the wide (big-side) scan
    assert scan_lines and "Bucketed: true" in scan_lines[0]
    # and the rows match the broadcast path exactly
    a = sorted(r.url_canon for r in
               crawl.fetch_pages(bidx, batch, "broadcast").collect())
    b = sorted(r.url_canon for r in joined.collect())
    assert a == b


def test_bloom_saturation_guard_in_crawl(spark, corpus, sim_run,
                                         tmp_path_factory):
    """A deliberately tiny Bloom (64 bits/bucket) saturates in round
    0; the guard must flag it, rebuild wider next round, and NEVER
    affect correctness (the exact confirm guarantees that)."""
    _, page_index, seeds, robots = corpus
    store = SnapshotStore(str(tmp_path_factory.mktemp("crawl_tiny")))
    crawl.crawl(spark, page_index, seeds, robots, store,
                budget_per_host=BUDGET, max_rounds=ROUNDS, num_buckets=8,
                bloom_bits_per_bucket=64, target_fpp=0.02)
    seen = {r.url_canon for r in store.read(spark, "seen_exact").collect()}
    assert seen == sim_run.seen  # byte-identical membership, tiny bloom
    mans = [store.manifest(sid) for sid in store.snapshot_ids()]
    assert any(m["metrics"]["bloom_rebuild_next"] for m in mans[:-1])
    for prev, nxt in zip(mans, mans[1:]):
        if prev["metrics"]["bloom_rebuild_next"]:
            assert (nxt["metrics"]["bloom_m_bits"]
                    > prev["metrics"]["bloom_m_bits"])
    assert mans[-1]["metrics"]["bloom_est_fpp"] \
        < mans[0]["metrics"]["bloom_est_fpp"]


def test_bloom_fpp_bounded_over_rounds(spark):
    """VERDICT r1 #8: fixed-width merges degrade FPP silently. With
    the estimate + rebuild protocol the per-round FPP stays under
    target across 12 accumulation rounds, and the filter keeps its
    no-false-negative contract after every rebuild."""
    from frontier.spark import seen as seenmod
    from frontier.spark.crawl import _estimate_fpp

    target, bits, n_buckets = 0.05, 256, 4
    all_urls, bloom = None, None

    def stats(b):
        row = b.agg(F.max("n_keys").alias("n"),
                    F.max(F.length("bloom")).alias("by")).first()
        return int(row.n), int(row.by) * 8

    for rnd in range(12):
        urls = spark.range(rnd * 300, (rnd + 1) * 300).select(
            F.concat(F.lit("https://h.example/"),
                     F.col("id").cast("string")).alias("url_canon"))
        all_urls = urls if all_urls is None \
            else all_urls.unionByName(urls)
        inc = seenmod.build(urls, num_buckets=n_buckets,
                            bits_per_bucket=bits)
        bloom = inc if bloom is None else seenmod.merge_blooms(bloom, inc)
        n, m = stats(bloom)
        while _estimate_fpp(n, m) > target:  # guard: rebuild wider
            bits *= 2
            bloom = seenmod.build(all_urls, num_buckets=n_buckets,
                                  bits_per_bucket=bits)
            n, m = stats(bloom)
        assert _estimate_fpp(n, m) <= target, f"round {rnd}"
    assert bits > 256  # saturation actually forced rebuilds
    tagged = seenmod.probe(all_urls, bloom, num_buckets=n_buckets)
    assert tagged.where(~F.col("maybe_seen")).count() == 0  # no FNs


def test_politeness_crawl_delay_budget(spark):
    """Robots Crawl-delay caps the per-host budget: a host with
    delay=500ms in a 2s window serves at most 4, others the full
    budget; order within host is unchanged."""
    from frontier.spark import schedule
    rows = [(f"https://h{h}.example/p{i}", h % 2 * 500, i)
            for h in range(4) for i in range(10)]
    df = spark.createDataFrame(
        rows, "url string, crawl_delay_ms int, i int")
    staged = schedule.with_host(schedule.with_url_canon(df)) \
        .withColumn("priority", F.lit(0)) \
        .withColumn("warc_ts", F.timestamp_micros(F.col("i")))
    cut = schedule.politeness_cut(staged, budget_per_host=8,
                                  delay_col="crawl_delay_ms",
                                  window_ms=2000)
    per_host = {r.host: r.n for r in
                cut.groupBy("host").agg(F.count("*").alias("n")).collect()}
    for host, n in per_host.items():
        if host in ("h1.example", "h3.example"):  # delay 500 → cap 4
            assert n == 4, (host, n)
        else:
            assert n == 8, (host, n)
    # within-host order is still rank by (priority, warc_ts, url)
    first = cut.where(F.col("rank_in_host") == 1) \
        .select("host", "url_canon").collect()
    assert all(r.url_canon.endswith("/p0") for r in first)


def test_crawl_releases_cached_blocks(spark, corpus, tmp_path):
    """Round-4 regression: every lazy-localCheckpoint the loop makes
    (INCLUDING the seed-time robots-gate checkpoint created before
    round 0) must be freed by crawl exit — lingering blocks degrade
    long sessions 2× (ContextCleaner frees them only on driver GC).
    And the release must be scoped to crawl's OWN checkpoints: a
    cache built by a concurrent job in the same SparkSession must
    survive (r4 ADVICE — the registry-wide diff dropped it)."""
    _, page_index, seeds, robots = corpus
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    # a "concurrent job's" cache, alive across the crawl
    bystander = spark.range(100).persist()
    bystander.count()
    store = SnapshotStore(str(tmp_path / "leak_check"))
    crawl.crawl(spark, page_index, seeds, robots, store,
                budget_per_host=BUDGET, max_rounds=2, num_buckets=8)
    assert bystander.storageLevel.useMemory, \
        "crawl cleanup dropped a concurrent job's cache"
    assert bystander.count() == 100
    bystander.unpersist(True)
    after = set(jsc.getPersistentRDDs().keySet())
    leaked = after - before
    assert not leaked, f"crawl leaked cached RDDs: {leaked}"


def test_ckpt_replicated_storage_level(spark, monkeypatch):
    """FRONTIER_CKPT_REPLICATED=1 must store round state at
    MEMORY_AND_DISK_2 so a cluster commit survives one executor loss
    (single-node runs keep the cheaper non-replicated default)."""
    import os

    monkeypatch.setenv("FRONTIER_CKPT_REPLICATED", "1")
    ck = crawl._ckpt(spark.range(10))
    assert ck.count() == 10
    lvl = crawl._CKPT_LIVE[-1].getStorageLevel()
    assert lvl.replication() == 2 and lvl.useDisk()
    crawl._release_ckpts()

    monkeypatch.delenv("FRONTIER_CKPT_REPLICATED")
    ck = crawl._ckpt(spark.range(10))
    ck.count()
    assert crawl._CKPT_LIVE[-1].getStorageLevel().replication() == 1
    crawl._release_ckpts()

def test_recrawl_schedule_intervals_and_due(spark):
    """Freshness scheduling (Cho & Garcia-Molina): a page whose hash
    moved on every revisit recrawls at the min interval and is due;
    a never-changed page decays to the max interval; a single-fetch
    page has change_rate 0 (no division blowup); a half-changing
    page lands linearly between. Integer-µs arithmetic is exact, and
    the plan is ONE aggregation — no join, no window."""
    from frontier.spark import schedule
    us = 1_000_000_000_000
    rows = []
    rows += [("https://a.example/", us - i * 10, f"sha{i}")
             for i in range(5)]              # hot: 5 fetches, 5 shas
    rows += [("https://b.example/", us - i * 10, "same")
             for i in range(4)]              # static: 4 fetches, 1 sha
    rows += [("https://c.example/", us, "once")]   # single fetch
    rows += [("https://d.example/", us - i * 10, f"s{i // 2}")
             for i in range(3)]              # 3 fetches, 2 shas → 0.5
    hist = spark.createDataFrame(
        rows, "url_canon string, us long, content_sha string") \
        .select("url_canon", F.timestamp_micros("us").alias("fetch_ts"),
                "content_sha")
    out = schedule.recrawl_schedule(hist, now_us=1_100_000_000_000)
    got = {r.url_canon.split("//")[1][0]: r for r in out.collect()}
    a, b, c, d = got["a"], got["b"], got["c"], got["d"]
    assert (a.n_fetches, a.n_versions, a.change_rate) == (5, 5, 1.0)
    assert a.interval_sec == 86_400 and a.due
    assert a.next_fetch_us == us + 86_400 * 1_000_000
    assert (b.n_fetches, b.n_versions, b.change_rate) == (4, 1, 0.0)
    assert b.interval_sec == 2_592_000 and not b.due
    assert (c.n_fetches, c.change_rate) == (1, 0.0)
    assert c.interval_sec == 2_592_000
    assert d.change_rate == 0.5
    assert d.interval_sec == 2_592_000 - round(2_505_600 * 0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan, plan


def test_recrawl_schedule_changefreq_priors(spark):
    """Sitemap changefreq priors seed the revisit interval exactly
    until the measured change rate exists: a single-fetch URL takes
    its (clamped) prior, a single-fetch URL without a prior keeps the
    max-interval default, and a ≥2-fetch URL IGNORES its prior in
    favor of the measurement. End-to-end through
    sitemaps.changefreq_interval_sec so the sitemap → recrawl story
    is the tested path, not just the docstring."""
    from frontier.spark import schedule, sitemaps
    us = 1_000_000_000_000
    rows = [("https://p.example/", us, "once"),      # prior: daily
            ("https://q.example/", us, "once")]      # no prior row
    rows += [("https://r.example/", us - i * 10, f"sha{i}")
             for i in range(3)]  # hot, has prior — measurement wins
    hist = spark.createDataFrame(
        rows, "url_canon string, us long, content_sha string") \
        .select("url_canon", F.timestamp_micros("us").alias("fetch_ts"),
                "content_sha")
    entries = spark.createDataFrame(
        [("https://p.example/", "daily"),
         ("https://r.example/", "yearly"),
         ("https://z.example/", "hourly")],  # never fetched: ignored
        "url_canon string, changefreq string")
    priors = entries.select(
        "url_canon",
        sitemaps.changefreq_interval_sec()
        .alias("interval_prior_sec"))
    out = schedule.recrawl_schedule(hist, now_us=us + 1,
                                    priors=priors)
    got = {r.url_canon.split("//")[1][0]: r for r in out.collect()}
    assert got["p"].interval_sec == 86_400           # daily prior
    assert got["q"].interval_sec == 2_592_000        # default max
    assert got["r"].change_rate == 1.0
    assert got["r"].interval_sec == 86_400           # measured, not
    assert "z" not in got                            # yearly prior
    # hourly clamps UP to the min bound; yearly clamps DOWN to max
    clamped = {r.url_canon: r.interval_prior_sec
               for r in priors.collect()}
    assert clamped["https://z.example/"] == 86_400
    assert clamped["https://r.example/"] == 2_592_000


def test_crawl_delay_capped_budgets_match_simulator(
        spark, corpus, sim_inputs, tmp_path):
    """Crawl-delay-aware politeness inside the LOOP: crawl(window_ms=
    500) caps each host's per-round budget at max(1, 500 // delay_ms)
    — synth delays span 0..400 ms so the cap binds at 2 (200 ms) and
    1 (300/400 ms) while 0/100 ms hosts keep the full budget. Per-
    round scheduled sets and the final seen set match the simulator
    running the same rule, and the cap provably bites (some host
    schedules fewer URLs than an uncapped run)."""
    _, page_index, seeds, robots = corpus
    pages_map, seed_list, robots_map = sim_inputs
    window_ms = 500

    store = SnapshotStore(str(tmp_path / "delaycrawl"))
    crawl.crawl(spark, page_index, seeds, robots, store,
                budget_per_host=BUDGET, max_rounds=ROUNDS,
                num_buckets=8, window_ms=window_ms)
    delay_map = {r.host: r.crawl_delay_ms for r in robots.collect()}
    sim = simulator.simulate(pages_map, seed_list, robots_map,
                             budget_per_host=BUDGET, max_rounds=ROUNDS,
                             robots_delay=delay_map,
                             window_ms=window_ms)

    spark_sched = []
    for sid in store.snapshot_ids():
        batch = store.read(spark, "batch", sid)
        spark_sched.append({r.url_canon for r in
                            batch.select("url_canon").collect()})
    sim_sched = [set(rd["scheduled"]) for rd in sim.rounds]
    assert spark_sched == sim_sched[:len(spark_sched)]
    seen_rows = store.read(spark, "seen_exact").collect()
    assert {r.url_canon for r in seen_rows} == sim.seen

    # the cap bites: an uncapped simulator run schedules MORE in
    # some round (delay>=200 hosts exist with >cap queued URLs)
    sim_uncapped = simulator.simulate(
        pages_map, seed_list, robots_map,
        budget_per_host=BUDGET, max_rounds=ROUNDS)
    assert any(len(rd["scheduled"]) > len(rc["scheduled"])
               for rd, rc in zip(sim_uncapped.rounds, sim.rounds))


def test_incremental_robots_equals_static(spark, corpus, tmp_path):
    """Incremental robots acquisition (robots_docs=...) — fetch+parse
    per newly-touched host inside the loop — produces IDENTICAL crawl
    state to the static pre-known gate: per-round scheduled sets,
    seen, blocked, and final frontier all match, because robots(host)
    is the same function however it is acquired. The robots_rules
    append table must contain exactly the touched hosts (a strict
    subset of the synthetic web's 1000) and grow monotonically;
    resume must continue from it."""
    from frontier import synth
    from frontier.spark import schedule

    _, page_index, seeds, _ = corpus
    robots_txt = synth.robots_txt_df(spark)
    static_rel = schedule.robots_from_text(robots_txt).cache()

    store_s = SnapshotStore(str(tmp_path / "static"))
    crawl.crawl(spark, page_index, seeds, static_rel, store_s,
                budget_per_host=BUDGET, max_rounds=ROUNDS,
                num_buckets=8)
    store_i = SnapshotStore(str(tmp_path / "incr"))
    # rounds split 2 + resume 2: the robots_rules state table must
    # carry the acquired knowledge across the restart
    crawl.crawl(spark, page_index, seeds, None, store_i,
                budget_per_host=BUDGET, max_rounds=2,
                num_buckets=8, robots_docs=robots_txt)
    crawl.crawl(spark, page_index, seeds, None, store_i,
                budget_per_host=BUDGET, max_rounds=ROUNDS,
                num_buckets=8, robots_docs=robots_txt, resume=True)

    def sched_sets(store):
        out = []
        for sid in store.snapshot_ids():
            batch = store.read(spark, "batch", sid)
            out.append({r.url_canon for r in
                        batch.select("url_canon").collect()})
        return out

    assert sched_sets(store_i) == sched_sets(store_s)
    for table in ("seen_exact", "blocked"):
        got = {r.url_canon for r in store_i.read(spark, table).collect()}
        want = {r.url_canon
                for r in store_s.read(spark, table).collect()}
        assert got == want, table
    fi = {(r.url_canon, r.priority) for r in
          store_i.read(spark, "frontier").collect()}
    fs = {(r.url_canon, r.priority) for r in
          store_s.read(spark, "frontier").collect()}
    assert fi == fs

    rules = store_i.read(spark, "robots_rules").collect()
    hosts = [r.host for r in rules]
    assert len(hosts) == len(set(hosts)), "host re-acquired"
    assert 0 < len(hosts) < 1000, "must be only the touched hosts"
    # every host the crawl touched is known; unknown-host seeds got
    # allow-all null-rule rows
    touched = set()
    for s in sched_sets(store_i):
        touched |= {u.split("//")[1].split("/")[0] for u in s}
    assert touched <= set(hosts)
    by_host = {r.host: r for r in rules}
    assert any(h.startswith("unknown") and by_host[h].rules is None
               for h in hosts)
    # parsed rows carry the SAME rules as the static relation
    static_by_host = {r.host: [(ru.pat, ru.allow) for ru in r.rules]
                      for r in static_rel.collect()}
    for r in rules:
        if r.rules is not None:
            assert [(ru.pat, ru.allow) for ru in r.rules] \
                == static_by_host[r.host], r.host
