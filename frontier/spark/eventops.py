"""Event-log operators: sessionization over the ``events`` table.

The crawl analog: fetch-event streams per host/user get segmented
into sessions for politeness accounting and abuse detection. The
operator shape (lag + conditional cumsum inside one window pair) is
the standard gap-based sessionization — one shuffle on the entity
key, everything else codegen'd window functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import session

_CKPT_LIVE: list = []  # java RDD handles (session.checkpoint)


def release_checkpoints() -> None:
    """Free the lazily-localCheckpointed blocks accumulated by
    :func:`range_join_count`. Call AFTER every returned DataFrame has
    been fully consumed (collected/written): the checkpoints truncate
    lineage, so an unconsumed result cannot recompute its input once
    the blocks are gone. Long sessions that call range_join_count
    repeatedly must release between calls or the cached left
    relations accumulate until driver GC (measured ~2× in-session
    degradation — r4 ADVICE)."""
    session.release(_CKPT_LIVE)


def sessionize(events: DataFrame, gap_seconds: int = 60,
               key_col: str = "user_id", ts_col: str = "ts",
               order_tiebreak: str = "event_id") -> DataFrame:
    """Assign gap-based session ids per entity.

    A new session starts when the time since the previous event of
    the same key exceeds ``gap_seconds``. ``session_seq`` is a dense
    per-key session counter (1-based); deterministic via the
    (ts, tiebreak) ordering. Single window partition per key — at
    skewed keys, pre-split by day/bucket upstream (same discipline as
    the politeness two-phase cut).
    """
    # exact integer microsecond arithmetic — no float-boundary risk
    # at the gap comparison, and TIMESTAMP_NTZ-safe
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    prev_us = F.lag(us).over(w)
    new_session = (prev_us.isNull() |
                   (us - prev_us > gap_seconds * 1_000_000)).cast("int")
    return (events
            .withColumn("_ts_us", us)
            .withColumn("_new", new_session)
            .withColumn("session_seq",
                        F.sum("_new").over(
                            w.rowsBetween(Window.unboundedPreceding, 0)))
            .drop("_new"))


def session_stats(events: DataFrame, gap_seconds: int = 60,
                  key_col: str = "user_id", ts_col: str = "ts"
                  ) -> DataFrame:
    """Per-session aggregates: event count, span seconds, value sum —
    what a politeness/abuse monitor consumes."""
    s = sessionize(events, gap_seconds, key_col, ts_col)
    return (s.groupBy(key_col, "session_seq")
            .agg(F.count("*").alias("n_events"),
                 (F.max("_ts_us") - F.min("_ts_us"))
                 .alias("span_us"),
                 F.min("event_id").alias("first_event_id")))


def asof_join(left: DataFrame, right: DataFrame,
              keys: list[str], ts_col: str = "ts") -> DataFrame:
    """AS-OF join: for every left row, attach the LATEST right row
    with ``right.ts <= left.ts`` within the same ``keys`` — the
    point-in-time lookup relational engines ship natively (DuckDB
    ``ASOF JOIN``, the oracle for this operator) and Spark lacks.

    Expressed as a composition Catalyst can execute at scale: tag
    both sides, union, ONE shuffle on ``keys``, and a running
    ``last(right_payload, ignorenulls)`` window — O(n log n) per key
    group, never the naive range-join O(n_left × n_right) expansion.
    Left rows with no prior right row keep NULL payload columns
    (ASOF LEFT JOIN semantics).

    Determinism: right rows sharing (keys, ts) resolve to the
    maximum payload struct (documented tie-break; sides at equal ts
    order right-before-left so "<=" is inclusive).
    """
    keyset = set(keys) | {ts_col}
    lcols = [c for c in left.columns if c not in keyset]
    rcols = [c for c in right.columns if c not in keyset]
    overlap = set(lcols) & set(rcols)
    if overlap:
        raise ValueError(
            f"asof_join: payload columns {sorted(overlap)} exist on "
            "both sides — rename one side first (output would be "
            "ambiguous)")
    reserved = {"_r", "_side", "_asof"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"asof_join: column names {sorted(clash)} collide with "
            "internal tags — rename them first")
    r_tagged = right.select(
        *keys, ts_col, F.struct(*rcols).alias("_r"),
        F.lit(0).alias("_side"))
    r_type = r_tagged.schema["_r"].dataType.simpleString()
    l_tagged = left.select(
        *keys, ts_col, *lcols).withColumn(
        "_r", F.expr(f"CAST(NULL AS {r_type})")) \
        .withColumn("_side", F.lit(1))
    for c in lcols:
        dt = left.schema[c].dataType.simpleString()
        r_tagged = r_tagged.withColumn(c, F.expr(f"CAST(NULL AS {dt})"))
    unioned = l_tagged.unionByName(r_tagged)

    w = Window.partitionBy(*keys) \
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc(),
                 F.col("_r").asc_nulls_first()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carried = F.last("_r", ignorenulls=True).over(w)
    out = (unioned.withColumn("_asof", carried)
           .where(F.col("_side") == 1)
           .select(*keys, ts_col, *lcols,
                   *[F.col(f"_asof.{c}").alias(c) for c in rcols]))
    return out


def range_join_count(left: DataFrame, right: DataFrame,
                     keys: list[str], ts_col: str = "ts",
                     lower_s: int = -30, upper_s: int = 30,
                     bucket_s: int = 60) -> DataFrame:
    """Range join, aggregated: for every left row, count right rows
    of the same ``keys`` whose timestamp falls in
    ``[left.ts + lower_s, left.ts + upper_s]`` (inclusive).

    Spark has no native interval join; the naive non-equi join plans
    as a nested-loop expansion. This uses the standard
    interval-BUCKETING decomposition instead: each left row explodes
    to the fixed-width time buckets its window intersects
    (≤ ``(upper-lower)/bucket + 2``), right rows map to exactly ONE
    bucket, and the join is a plain equi-join on (keys, bucket)
    followed by the exact BETWEEN filter — so the plan is a hash
    join at any scale and right rows are never duplicated into more
    than one candidate pair per left row. All timestamp arithmetic
    in integer microseconds (exact, engine-portable). Left rows with
    an empty window keep count 0 (left-join semantics).
    """
    lower_us, upper_us = lower_s * 1_000_000, upper_s * 1_000_000
    bucket_us = bucket_s * 1_000_000
    lus = F.unix_micros(F.col(ts_col).cast("timestamp"))
    rus = F.unix_micros(F.col(ts_col).cast("timestamp"))

    if "_lid" in left.columns:
        raise ValueError("range_join_count: left must not already "
                         "have a _lid column")
    # Row identity via monotonically_increasing_id, NOT the full left
    # column set: duplicate left rows each keep their own exact count
    # (a full-column groupBy multiplied counts by the duplicate
    # factor) and NULL-bearing rows still join back. Also slimmer at
    # scale — only (keys, _lid, _lus) ride the explode+shuffle, never
    # the left payload.
    #
    # The LAZY localCheckpoint is load-bearing, not an optimization:
    # `lid` feeds BOTH join branches, and Spark computes each branch
    # independently (no cross-branch subplan reuse) — if `left` sits
    # on a shuffle, row order within a shuffle-read partition is not
    # deterministic, so two independent mono-id computations could
    # tag the SAME row with DIFFERENT ids and silently corrupt the
    # join-back. The checkpoint materializes the id assignment once;
    # both branches read the same stored rows.
    #
    # Tracked for release_checkpoints(): the RESULT's lineage is
    # truncated at this checkpoint, so the blocks cannot be freed
    # here — they accumulate over a long session (measured ~2×
    # degradation) unless the caller frees them once the result is
    # consumed (r4 ADVICE).
    lid = session.checkpoint(
        left.withColumn("_lid", F.monotonically_increasing_id()),
        _CKPT_LIVE)
    lb = (lid
          .select(*keys, "_lid", lus.alias("_lus"))
          .withColumn("_b", F.explode(F.sequence(
              F.floor((F.col("_lus") + lower_us) / bucket_us),
              F.floor((F.col("_lus") + upper_us) / bucket_us)))))
    rb = (right
          .select(*keys, rus.alias("_rus"))
          .withColumn("_b", F.floor(F.col("_rus") / bucket_us)))
    j = (lb.join(rb, [*keys, "_b"])
         .where(F.col("_rus").between(F.col("_lus") + lower_us,
                                      F.col("_lus") + upper_us)))
    counts = j.groupBy("_lid").agg(F.count("*").alias("n_in_range"))
    return (lid.join(counts, "_lid", "left")
            .withColumn("n_in_range",
                        F.coalesce(F.col("n_in_range"), F.lit(0)))
            .drop("_lid"))
