"""Snapshot store maintenance: compaction + expiration + time travel."""

import os

import pytest

from frontier.spark.snapshots import SnapshotStore


@pytest.fixture()
def store(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "snaps"))
    for rnd in range(4):
        results = spark.createDataFrame(
            [(f"u{rnd}-{i}", rnd) for i in range(5)],
            "url_canon string, round int")
        frontier = spark.createDataFrame(
            [(f"f{rnd}",)], "url_canon string")
        st.commit({"results": results, "frontier": frontier},
                  {"round": rnd})
    return st


def test_time_travel_and_lineage(spark, store):
    assert store.snapshot_ids() == [0, 1, 2, 3]
    old = store.read(spark, "results", snapshot_id=1)
    assert {r.round for r in old.collect()} == {1}
    man = store.manifest(2)
    assert man["lineage"]["results"]["n_rows"] == 5
    assert sum(man["lineage"]["results"]["file_rows"].values()) == 5


def test_compact_then_expire(spark, store):
    path = store.compact_results(spark)
    compacted = spark.read.parquet(path)
    assert compacted.count() == 20  # 4 rounds x 5 rows
    assert {r.round for r in compacted.collect()} == {0, 1, 2, 3}

    dropped = store.expire(keep_last=1)
    assert dropped == [0, 1, 2]
    assert store.snapshot_ids() == [3]
    # expired data dirs are gone; retained snapshot + compaction live
    root = store.root
    assert not os.path.exists(os.path.join(root, "data", "snap-0"))
    assert store.read(spark, "frontier").collect()[0].url_canon == "f3"
    assert spark.read.parquet(path).count() == 20
    # resume-style read still works off the latest manifest
    assert store.manifest()["metrics"]["round"] == 3


def test_expire_keeps_all_when_keep_exceeds(store):
    assert store.expire(keep_last=10) == []
    assert store.snapshot_ids() == [0, 1, 2, 3]


def test_compact_folds_in_prior_compaction(spark, store):
    """Compact → expire → more rounds → compact again: the new
    ``results-upto-N`` must contain ALL rounds, including those whose
    snapshots were expired (their rows survive only in the prior
    compacted file)."""
    first = store.compact_results(spark)
    store.expire(keep_last=1)  # rounds 0-2 survive only in `first`
    for rnd in (4, 5):
        results = spark.createDataFrame(
            [(f"u{rnd}-{i}", rnd) for i in range(5)],
            "url_canon string, round int")
        store.commit({"results": results}, {"round": rnd})

    path = store.compact_results(spark)
    compacted = spark.read.parquet(path)
    assert {r.round for r in compacted.collect()} == {0, 1, 2, 3, 4, 5}
    assert compacted.count() == 30  # overlap (round 3) deduped
    # superseded compacted dir cleaned up
    assert not os.path.exists(first)
    # idempotent: compacting again folds its own output, no dup rows
    again = store.compact_results(spark)
    assert spark.read.parquet(again).count() == 30


def test_append_table_semantics(spark, tmp_path):
    """Iceberg append (round-4): only deltas are written, the
    manifest chains parent file lists, reads union them, and lineage
    n_rows is cumulative (delta_rows per commit)."""
    store = SnapshotStore(str(tmp_path / "append_store"))
    for rnd in range(3):
        delta = spark.createDataFrame(
            [(f"u{rnd}-{i}",) for i in range(4)], "url_canon string")
        store.commit({"seen": delta}, {"round": rnd}, append={"seen"})

    man = store.manifest()
    assert isinstance(man["tables"]["seen"], list)
    assert len(man["tables"]["seen"]) == 3
    assert man["lineage"]["seen"]["n_rows"] == 12  # cumulative
    assert man["lineage"]["seen"]["delta_rows"] == 4
    got = {r.url_canon for r in store.read(spark, "seen").collect()}
    assert got == {f"u{r}-{i}" for r in range(3) for i in range(4)}
    # time travel sees the prefix
    mid = {r.url_canon for r in store.read(spark, "seen", 1).collect()}
    assert mid == {f"u{r}-{i}" for r in range(2) for i in range(4)}


def test_expire_keeps_referenced_append_deltas(spark, tmp_path):
    """expire() must NOT delete append deltas an alive manifest still
    references (Iceberg reachability), while whole-rewrite tables of
    expired snapshots are removed."""
    store = SnapshotStore(str(tmp_path / "exp_store"))
    for rnd in range(3):
        delta = spark.createDataFrame(
            [(f"u{rnd}",)], "url_canon string")
        state = spark.createDataFrame(
            [(rnd,)], "v int")
        store.commit({"seen": delta, "state": state}, {"round": rnd},
                     append={"seen"})
    dropped = store.expire(keep_last=1)
    assert dropped == [0, 1]
    # full seen set still readable through the latest manifest
    got = {r.url_canon for r in store.read(spark, "seen").collect()}
    assert got == {"u0", "u1", "u2"}
    # expired snapshots' whole-rewrite state dirs are gone
    import os as _os
    assert not _os.path.exists(
        _os.path.join(store.root, "data", "snap-0", "state"))
    assert not _os.path.exists(
        _os.path.join(store.root, "data", "snap-1", "state"))
    # but their referenced seen deltas survive
    assert _os.path.exists(
        _os.path.join(store.root, "data", "snap-0", "seen"))


def test_rewrite_append_table(spark, tmp_path):
    """rewrite_data_files analog: the delta chain collapses to one
    directory in a NEW snapshot; rows and cumulative counts are
    unchanged; expire can then reclaim the old deltas; subsequent
    appends chain from the rewritten base."""
    store = SnapshotStore(str(tmp_path / "rw_store"))
    for rnd in range(3):
        delta = spark.createDataFrame(
            [(f"u{rnd}-{i}",) for i in range(4)], "url_canon string")
        store.commit({"seen": delta}, {"round": rnd}, append={"seen"})

    sid = store.rewrite_append_table(spark, "seen")
    assert sid == 3
    man = store.manifest()
    assert len(man["tables"]["seen"]) == 1
    assert man["lineage"]["seen"]["n_rows"] == 12
    got = {r.url_canon for r in store.read(spark, "seen").collect()}
    assert got == {f"u{r}-{i}" for r in range(3) for i in range(4)}
    # idempotent no-op on a single-directory table
    assert store.rewrite_append_table(spark, "seen") is None

    # appends continue from the rewritten base
    store.commit({"seen": spark.createDataFrame(
        [("u-new",)], "url_canon string")}, {"round": 3},
        append={"seen"})
    man2 = store.manifest()
    assert len(man2["tables"]["seen"]) == 2
    assert man2["lineage"]["seen"]["n_rows"] == 13

    # expire drops the pre-rewrite deltas (no live manifest refs them)
    import os as _os
    store.expire(keep_last=2)
    assert not _os.path.exists(
        _os.path.join(store.root, "data", "snap-0", "seen"))
    got2 = {r.url_canon for r in store.read(spark, "seen").collect()}
    assert got2 == got | {"u-new"}


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs fn launched on this thread)."""
    sc = spark.sparkContext
    group = f"jobs-during-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_launches_no_job(spark, store):
    """A snapshot read takes its schema from the manifest: no parquet
    schema-inference job runs (inference ran one per read)."""
    df, jobs = _jobs_during(
        spark, lambda: store.read(spark, "results", snapshot_id=2))
    assert jobs == []
    assert df.count() == 5


def test_read_returns_committed_schema(spark, tmp_path):
    """``read`` applies the schema the manifest recorded at commit,
    and returns what parquet inference finds in the files: for a
    plain table with nested and non-nullable columns, an append
    chain, an empty table and a rewritten append table."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    store = SnapshotStore(str(tmp_path / "schemas"))
    plain = spark.range(3).select(
        F.col("id"), F.lit(7).alias("round"),
        F.array(F.struct(F.lit("a").alias("pat"),
                         F.lit(True).alias("allow"))).alias("rules"),
        F.timestamp_micros(F.lit(0)).alias("warc_ts"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"))
    for rnd in range(3):
        store.commit({
            "plain": plain,
            "seen": spark.createDataFrame([(f"u{rnd}",)],
                                          "url_canon string"),
            "empty": spark.createDataFrame([], "url_canon string, n int"),
        }, {"round": rnd}, append={"seen"})
    store.rewrite_append_table(spark, "seen")
    store.commit({"seen": spark.createDataFrame(
        [("u3",)], "url_canon string")}, {"round": 3}, append={"seen"})

    cases = [(2, "plain"), (2, "seen"), (2, "empty"), (3, "seen"),
             (4, "seen")]
    for sid, table in cases:
        man = store.manifest(sid)
        recorded = StructType.fromJson(man["lineage"][table]["schema"])
        entry = man["tables"][table]
        paths = entry if isinstance(entry, list) else [entry]
        inferred = spark.read.parquet(*paths).schema
        got = store.read(spark, table, sid)
        assert got.schema == inferred, (sid, table)
        # the recorded schema up to nullability, which parquet drops
        assert recorded.simpleString() == inferred.simpleString()
        assert sorted(got.collect()) \
            == sorted(spark.read.parquet(*paths).collect()), (sid, table)
    assert store.manifest(3)["lineage"]["seen"]["rewritten_from"] == 3
    assert store.read(spark, "empty", 2).count() == 0


def test_read_manifest_without_schema(spark, store):
    """A manifest written before schemas were recorded still reads,
    by inference, with the same schema and rows."""
    import json

    want = store.read(spark, "results", 1)
    path = store._manifest_path(1)
    with open(path) as handle:
        man = json.load(handle)
    for line in man["lineage"].values():
        del line["schema"]
    with open(path, "w") as handle:
        json.dump(man, handle)
    got = store.read(spark, "results", 1)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
