"""spark-submit entry point: run (or resume) a crawl over synthetic
Common-Crawl-style pages.

    spark-submit --py-files frontier.zip jobs/crawl.py \
        --sf-dir /root/testdata/sf0.01 --rounds 4 --budget 5 \
        --out /tmp/crawl_state [--resume]

Prints one JSON metrics line per completed crawl.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--budget", type=int, default=5)
    ap.add_argument("--out", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--target-fpp", type=float, default=0.02,
                    help="bloom saturation guard threshold")
    ap.add_argument("--acquire-robots", action="store_true",
                    help="incremental robots acquisition: fetch+parse "
                         "robots.txt per newly-touched host inside the "
                         "loop (the robots_rules append table becomes "
                         "crawl state) instead of a pre-known gate "
                         "relation; final state proven identical")
    ap.add_argument("--wet-out", default=None, metavar="DIR",
                    help="after the crawl, export every extracted "
                         "text as Common-Crawl-style WET files "
                         "(member-gzip WARC conversion records)")
    ap.add_argument("--window-ms", type=int, default=None,
                    help="honor robots Crawl-delay in the politeness "
                         "cut: a host with delay d ms serves at most "
                         "max(1, window_ms // d) fetches per round")
    ap.add_argument("--sitemaps", action="store_true",
                    help="ingest sitemaps as a third seed source: the "
                         "robots gate is parsed from RAW robots.txt "
                         "bytes (schedule.robots_from_text), their "
                         "Sitemap: records are fetched+parsed "
                         "(index children followed) and the resulting "
                         "offers union into the initial frontier with "
                         "lastmod/priority priors "
                         "(sitemaps.discover_offers)")
    ap.add_argument("--compact-expire", type=int, default=0, metavar="K",
                    help="after the crawl: compact results and expire "
                         "all but the newest K snapshots")
    args = ap.parse_args()

    from frontier import synth
    from frontier.spark import crawl
    from frontier.spark.session import get_spark
    from frontier.spark.snapshots import SnapshotStore

    spark = get_spark(app="frontier-crawl", cores=args.cpus)
    t0 = time.perf_counter()

    pages = synth.pages_from_documents(spark, args.sf_dir)
    seeds = synth.seeds_from_documents(spark, args.sf_dir)
    offers = None
    robots_docs = synth.robots_txt_df(spark) if args.acquire_robots \
        else None
    if args.sitemaps:
        from frontier.spark import schedule, sitemaps

        # the gate relation from RAW robots bytes (byte-parity with
        # synth.robots_df — tests/test_sitemap.py), plus the Sitemap:
        # records those same bytes advertise
        robots_txt = synth.robots_txt_df(spark)
        robots = schedule.robots_from_text(robots_txt)
        offers = sitemaps.discover_offers(
            robots_txt, synth.sitemap_docs_df(spark, args.sf_dir))
    else:
        robots = synth.robots_df(spark)

    page_index = crawl.prepare_page_index(pages).cache()
    store = SnapshotStore(args.out)

    n_parse_errors = crawl.commit_parse_errors(store, page_index)
    manifest = crawl.crawl(spark, page_index, seeds, robots, store,
                           budget_per_host=args.budget,
                           max_rounds=args.rounds,
                           num_buckets=args.num_buckets,
                           resume=args.resume,
                           target_fpp=args.target_fpp,
                           sitemap_offers=offers,
                           window_ms=args.window_ms,
                           robots_docs=robots_docs)
    if offers is not None:
        from frontier.spark import sitemaps
        sitemaps.release_checkpoints()  # seed-time gate committed
    if args.wet_out:
        from frontier.spark import sources
        results = crawl.collect_results(spark, store)
        if results is not None:
            sources.write_wet_files(results, args.wet_out,
                                    compress=True)
    elapsed = time.perf_counter() - t0
    if args.compact_expire > 0:
        compacted = store.compact_results(spark)
        # collapse the append-table delta chains so expire can
        # reclaim their per-round directories (Iceberg
        # rewrite_data_files + expire_snapshots maintenance pair)
        store.rewrite_append_table(spark, "seen_exact")
        store.rewrite_append_table(spark, "blocked")
        store.expire(keep_last=args.compact_expire)
        n_texts = spark.read.parquet(compacted).count() \
            if compacted else 0
    else:
        results = crawl.collect_results(spark, store)
        n_texts = results.count() if results is not None else 0
    print(json.dumps({
        "rounds_done": manifest.get("metrics", {}).get("round", -1) + 1,
        "snapshot_id": manifest.get("snapshot_id"),
        "seen": manifest.get("lineage", {}).get("seen_exact", {})
        .get("n_rows"),
        "frontier": manifest.get("lineage", {}).get("frontier", {})
        .get("n_rows"),
        "extracted_texts": n_texts,
        "parse_errors": n_parse_errors,
        "bloom_est_fpp": manifest.get("metrics", {}).get("bloom_est_fpp"),
        "wall_sec": round(elapsed, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
