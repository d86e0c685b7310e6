"""Partitioned Bloom seen-set: no false negatives, bounded FPP,
merge correctness, exact-confirm anti-join semantics."""

import pyspark.sql.functions as F
import pytest

from frontier.spark import seen

BUCKETS = 8


@pytest.fixture(scope="module")
def urls(spark):
    return spark.range(0, 2000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 50),
                 F.lit(".example/p"), F.col("id")).alias("url_canon"))


@pytest.fixture(scope="module")
def other_urls(spark):
    return spark.range(5000, 15000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 50),
                 F.lit(".example/p"), F.col("id")).alias("url_canon"))


def test_no_false_negatives(spark, urls):
    bloom = seen.build(urls, num_buckets=BUCKETS,
                       expected_keys_per_bucket=1000)
    tagged = seen.probe(urls, bloom, num_buckets=BUCKETS)
    assert tagged.where(~F.col("maybe_seen")).count() == 0


def test_fpp_bounded(spark, urls, other_urls):
    bloom = seen.build(urls, num_buckets=BUCKETS,
                       expected_keys_per_bucket=1000)
    tagged = seen.probe(other_urls, bloom, num_buckets=BUCKETS)
    fpp = tagged.where(F.col("maybe_seen")).count() / other_urls.count()
    assert fpp < 0.05  # 10 bits/key k=7 → ~0.8% expected


def test_filter_unseen_exact_confirm(spark, urls, other_urls):
    bloom = seen.build(urls, num_buckets=BUCKETS,
                       expected_keys_per_bucket=1000)
    mixed = urls.unionByName(other_urls)
    out = seen.filter_unseen(mixed, bloom, seen_exact=urls,
                             num_buckets=BUCKETS)
    # exactly the unseen survive: false positives rescued by the
    # exact anti-join, seen urls all dropped
    assert out.count() == other_urls.count()
    assert out.join(urls, "url_canon", "left_semi").count() == 0


def test_merge_blooms_is_union(spark, urls, other_urls):
    b1 = seen.build(urls, num_buckets=BUCKETS,
                    expected_keys_per_bucket=1000)
    b2 = seen.build(other_urls, num_buckets=BUCKETS,
                    expected_keys_per_bucket=1000)
    merged = seen.merge_blooms(b1, b2)
    both = urls.unionByName(other_urls)
    tagged = seen.probe(both, merged, num_buckets=BUCKETS)
    assert tagged.where(~F.col("maybe_seen")).count() == 0
    assert merged.count() <= BUCKETS


def test_bloom_deterministic_across_parallelism(spark, urls):
    b1 = seen.build(urls.repartition(1), num_buckets=BUCKETS,
                    expected_keys_per_bucket=1000)
    b8 = seen.build(urls.repartition(8), num_buckets=BUCKETS,
                    expected_keys_per_bucket=1000)
    joined = b1.alias("a").join(b8.alias("b"), "bucket") \
        .where(F.col("a.bloom") != F.col("b.bloom"))
    assert joined.count() == 0


def test_no_false_negatives_non_power_of_two_filter(spark):
    """A tiny NON-power-of-two filter (10,000 bits: m does not divide
    2^64, so the uint64 position wrap matters) that also forces false
    positives must still read maybe_seen for every inserted url."""
    inserted = spark.createDataFrame(
        [(f"https://h{i % 17}.example/p{i}",) for i in range(500)],
        "url_canon string")
    bloom = seen.build(inserted, num_buckets=BUCKETS,
                       bits_per_bucket=10000)
    cands = spark.createDataFrame(
        [(f"https://h{i % 17}.example/p{i}",) for i in range(0, 1500)],
        "url_canon string")
    maybe = {r.url_canon for r in
             seen.probe(cands, bloom, num_buckets=BUCKETS)
             .where(F.col("maybe_seen")).collect()}
    assert {r.url_canon for r in inserted.collect()} <= maybe


def test_probe_empty_bloom(spark):
    bloom = spark.createDataFrame([], seen.BLOOM_DDL)
    cands = spark.createDataFrame([("https://x/1",)],
                                  "url_canon string")
    rows = seen.probe(cands, bloom, num_buckets=BUCKETS).collect()
    assert rows[0].maybe_seen is False


def test_filter_unseen_exact_confirm_rescues_false_positives(spark):
    inserted = spark.createDataFrame(
        [(f"https://h{i % 5}.example/s{i}",) for i in range(200)],
        "url_canon string")
    # 64 bits per bucket for ~25 keys: most unseen urls read maybe_seen
    bloom = seen.build(inserted, num_buckets=BUCKETS, bits_per_bucket=64)
    cands = spark.createDataFrame(
        [(f"https://h{i % 5}.example/s{i}",) for i in range(0, 600)],
        "url_canon string")
    unseen = {f"https://h{i % 5}.example/s{i}" for i in range(200, 600)}
    maybe = {r.url_canon for r in
             seen.probe(cands, bloom, num_buckets=BUCKETS)
             .where(F.col("maybe_seen")).collect()}
    assert maybe & unseen, "filter too sparse to produce false positives"
    out = [r.url_canon for r in seen.filter_unseen(
        cands, bloom, inserted, num_buckets=BUCKETS).collect()]
    # exact confirm rescues every false positive: unseen = 200..599
    assert sorted(out) == sorted(unseen)
