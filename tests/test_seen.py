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


def _blooms(df):
    return {r.bucket: (bytes(r.bloom), r.n_keys) for r in df.collect()}


def test_update_equals_merge_of_build(spark, urls, other_urls):
    """One update pass == merge_blooms(old, build(batch)), byte for
    byte with the same n_keys: buckets only on the old side pass
    through, buckets only on the new side start from zeros, shared
    buckets OR; an empty old relation gives build(batch)."""
    kw = dict(num_buckets=BUCKETS, bits_per_bucket=4096)
    hashed = seen.with_hash_cols(urls.unionByName(other_urls),
                                 num_buckets=BUCKETS)
    old_urls = hashed.where(F.col("bucket") < 4).select("url_canon")
    new_urls = hashed.where(F.col("bucket") >= 2).select("url_canon")
    old = seen.build(old_urls, **kw)
    want = _blooms(seen.merge_blooms(old, seen.build(new_urls, **kw)))
    got = _blooms(seen.update(old, new_urls, **kw))
    assert got == want
    old_side = set(_blooms(old))
    new_side = set(_blooms(seen.build(new_urls, **kw)))
    assert old_side - new_side and new_side - old_side \
        and old_side & new_side
    empty = spark.createDataFrame([], seen.BLOOM_DDL)
    assert _blooms(seen.update(empty, new_urls, **kw)) \
        == _blooms(seen.build(new_urls, **kw))


def test_update_rejects_width_mismatch(spark, urls):
    old = seen.build(urls, num_buckets=BUCKETS, bits_per_bucket=4096)
    with pytest.raises(Exception, match="bloom width 4096 bits"):
        seen.update(old, urls, num_buckets=BUCKETS,
                    bits_per_bucket=8192).collect()


def test_filter_unseen_probes_once(spark, urls, other_urls):
    """The Bloom probe runs once per call: one conditional anti-join
    instead of a union of a fresh branch and a suspects branch, each
    re-running the probe cogroup."""
    # a materialized filter, so the only cogroup left is the probe
    bloom = seen.build(urls, num_buckets=BUCKETS,
                       expected_keys_per_bucket=1000).localCheckpoint()
    out = seen.filter_unseen(urls.unionByName(other_urls), bloom,
                             seen_exact=urls, num_buckets=BUCKETS)
    assert len(out.collect()) == other_urls.count()
    # the adaptive plan's final physical plan, after execution
    plan = out._jdf.queryExecution().executedPlan() \
        .executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
