"""Partitioned Bloom-filter URL-seen set.

The reference's seen set is a Python ``set`` of resource locations
(merge.py:30-44). At 10^10 URLs that is ~1 TB of strings — so the
scaled design is a *partitioned* Bloom filter relation::

    seen_bloom(bucket int, bloom binary)

* ``bucket = pmod(xxhash64(url_canon), num_buckets)`` — computed
  JVM-side (whole-stage codegen), so Python never hashes strings.
* per-bucket bit arrays are numpy ``uint8`` vectors written by ONE
  grouped pass (:func:`update`: the batch's keys cogroup with the old
  filter rows on ``bucket``; :func:`build` is ``update`` of an empty
  relation) and probed by one cogroup (:func:`probe`) — pure
  vectorized bit math.
* k hash positions come from double hashing (Kirsch-Mitzenmacher):
  ``pos_i = (h1 + i*h2) mod m`` with ``h1 = xxhash64(url)``,
  ``h2 = xxhash64(url, salt)`` — both JVM-side columns.

Sizing: at 10 bits/key and k=7 the FPP is ~0.8%. 10^10 keys → 12.5 GB
of filter across ``num_buckets`` rows; with 4096 buckets each blob is
~3 MB — comfortably broadcastable per-bucket and unionable via
``np.bitwise_or``. Locally we default to 64 buckets.

Correctness contract: the Bloom is a PRE-filter. "definitely new" URLs
never match the exact check; "maybe seen" URLs are confirmed by the
same single ``left_anti`` join against the seen-urls relation (its
condition carries ``maybe_seen``), so a false positive can never drop
a URL (SURVEY.md §7.2).

Spark's own ``bloom_filter_agg`` / ``might_contain`` are not SQL
registered in PySpark 4.1.2 (verified in-sandbox) and the north_rule
mandates from-scratch anyway.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

DEFAULT_NUM_BUCKETS = 64
DEFAULT_BITS_PER_KEY = 10
DEFAULT_K = 7
_SALT = "frontier-bloom-h2"

BLOOM_DDL = "bucket int, bloom binary, n_keys bigint"


def with_hash_cols(df: DataFrame, url_col: str = "url_canon",
                   num_buckets: int = DEFAULT_NUM_BUCKETS) -> DataFrame:
    """Attach (bucket, h1, h2) — all JVM-side, codegen'd."""
    return (df
            .withColumn("h1", F.xxhash64(F.col(url_col)))
            .withColumn("h2", F.xxhash64(F.col(url_col), F.lit(_SALT)))
            .withColumn("bucket",
                        F.pmod(F.col("h1"), F.lit(num_buckets))
                        .cast("int")))


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m_bits: int):
    """(n, k) matrix of bit positions via double hashing, uint64 math."""
    h1u = h1.astype(np.uint64)
    h2u = h2.astype(np.uint64) | np.uint64(1)  # force odd → full cycle
    i = np.arange(k, dtype=np.uint64)
    return (h1u[:, None] + i[None, :] * h2u[:, None]) % np.uint64(m_bits)


def build(urls: DataFrame, url_col: str = "url_canon",
          num_buckets: int = DEFAULT_NUM_BUCKETS,
          bits_per_bucket: int | None = None,
          expected_keys_per_bucket: int = 200_000,
          k: int = DEFAULT_K) -> DataFrame:
    """URLs → seen_bloom(bucket, bloom, n_keys), one row per bucket:
    :func:`update` of an empty relation, so one kernel writes every
    filter."""
    if bits_per_bucket is None:
        bits_per_bucket = expected_keys_per_bucket * DEFAULT_BITS_PER_KEY
    empty = urls.sparkSession.createDataFrame([], BLOOM_DDL)
    return update(empty, urls, url_col, num_buckets, bits_per_bucket, k)


def update(seen_bloom: DataFrame, urls: DataFrame,
           url_col: str = "url_canon",
           num_buckets: int = DEFAULT_NUM_BUCKETS,
           bits_per_bucket: int = DEFAULT_BITS_PER_KEY * 200_000,
           k: int = DEFAULT_K) -> DataFrame:
    """``seen_bloom`` ∪ ``urls`` in ONE grouped pass: the hashed new
    keys cogroup with the old filter rows on ``bucket``; each group
    ORs its new positions into a copy of the old bits (zeros for a
    bucket with no old row) and counts ``n_keys = old + new``. Equal,
    byte for byte, to ``merge_blooms(seen_bloom, build(urls))``
    without materializing the batch filter in between.

    Old blobs must be ``bits_per_bucket`` wide (rounded up to whole
    bytes): positions taken modulo another width are meaningless, so
    a mismatch raises ``ValueError`` instead of silently corrupting
    the filter."""
    # probe() recovers m_bits as len(blob)*8, so the update must take
    # positions modulo a multiple of 8 — otherwise the two moduli
    # disagree and the filter gains FALSE NEGATIVES (seen URLs
    # re-entering the frontier), breaking the pre-filter contract.
    m_bytes = (int(bits_per_bucket) + 7) // 8
    m_bits = m_bytes * 8

    hashed = with_hash_cols(urls.select(url_col).dropDuplicates([url_col]),
                            url_col, num_buckets)

    def make_filter(new_pdf: pd.DataFrame, old_pdf: pd.DataFrame
                    ) -> pd.DataFrame:
        bits = np.zeros(m_bytes, dtype=np.uint8)
        n_keys = len(new_pdf)
        for blob, n in zip(old_pdf["bloom"], old_pdf["n_keys"]):
            if len(blob) != m_bytes:
                raise ValueError(
                    f"bloom width {len(blob) * 8} bits != "
                    f"bits_per_bucket {m_bits}")
            np.bitwise_or(bits, np.frombuffer(blob, dtype=np.uint8),
                          out=bits)
            n_keys += int(n)
        pos = _positions(new_pdf["h1"].to_numpy(),
                         new_pdf["h2"].to_numpy(), k, m_bits).ravel()
        np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                         (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)))
        side = new_pdf if len(new_pdf) else old_pdf
        return pd.DataFrame({
            "bucket": [int(side["bucket"].iloc[0])],
            "bloom": [bits.tobytes()],
            "n_keys": [n_keys],
        })

    return (hashed.groupBy("bucket")
            .cogroup(seen_bloom.groupBy("bucket"))
            .applyInPandas(make_filter, BLOOM_DDL))


def merge_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two bloom relations bucket-wise (bitwise OR). Adding a
    batch of URLs to a filter is :func:`update`, one pass with the
    same result as ``merge_blooms(old, build(batch))``."""
    both = a.unionByName(b)

    def orr(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        total = 0
        for blob, n in zip(pdf["bloom"], pdf["n_keys"]):
            arr = np.frombuffer(blob, dtype=np.uint8)
            acc = arr.copy() if acc is None else np.bitwise_or(acc, arr)
            total += int(n)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                             "bloom": [acc.tobytes()],
                             "n_keys": [total]})

    return both.groupBy("bucket").applyInPandas(orr, BLOOM_DDL)


def probe(candidates: DataFrame, seen_bloom: DataFrame,
          url_col: str = "url_canon",
          num_buckets: int = DEFAULT_NUM_BUCKETS,
          k: int = DEFAULT_K) -> DataFrame:
    """Tag candidates with ``maybe_seen``.

    Shuffles both sides on ``bucket`` (co-partitioned join), then a
    vectorized membership test per bucket group. Output keeps all
    candidate columns + ``maybe_seen boolean``.
    """
    cand = with_hash_cols(candidates, url_col, num_buckets)
    out_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in cand.schema.fields) + ", maybe_seen boolean"
    cols = list(cand.columns)

    # cogroup keeps the bloom blob ONE row per bucket instead of
    # replicating ~KB-MB of filter bytes onto every candidate row
    def check(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame
              ) -> pd.DataFrame:
        if cand_pdf.empty:
            out = cand_pdf[cols].copy()
            out["maybe_seen"] = pd.Series([], dtype=bool)
            return out
        out = cand_pdf[cols].copy()
        if bloom_pdf.empty or bloom_pdf["bloom"].iloc[0] is None:
            out["maybe_seen"] = False
            return out
        bits = np.frombuffer(bloom_pdf["bloom"].iloc[0], dtype=np.uint8)
        m_bits = bits.shape[0] * 8
        pos = _positions(cand_pdf["h1"].to_numpy(),
                         cand_pdf["h2"].to_numpy(), k, m_bits)
        byte_idx = (pos >> np.uint64(3)).astype(np.int64)
        bit_mask = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        hit = (bits[byte_idx] & bit_mask) != 0
        out["maybe_seen"] = hit.all(axis=1)
        return out

    return (cand.groupBy("bucket")
            .cogroup(seen_bloom.groupBy("bucket"))
            .applyInPandas(check, out_ddl))


# ---------------------------------------------------------------------------
# cuckoo variant — supports deletion (recrawl / retraction paths)
# ---------------------------------------------------------------------------

CUCKOO_DDL = "bucket int, table binary, n_keys bigint"


def build_cuckoo(urls: DataFrame, url_col: str = "url_canon",
                 num_buckets: int = DEFAULT_NUM_BUCKETS) -> DataFrame:
    """URLs → seen_cuckoo(bucket, table, n_keys): a deletable seen-set.

    Same partitioned shape as the Bloom relation; per-bucket tables
    built deterministically (sorted insert) so snapshot bytes are
    stable at any parallelism.
    """
    from frontier.kernel import cuckoo as ck

    hashed = with_hash_cols(urls.select(url_col).dropDuplicates([url_col]),
                            url_col, num_buckets)

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        h1 = pdf["h1"].to_numpy().astype(np.uint64)
        h2 = pdf["h2"].to_numpy().astype(np.uint64)
        filt = ck.build_sorted(h1, h2, capacity=2 * len(pdf))
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                             "table": [filt.to_bytes()],
                             "n_keys": [len(pdf)]})

    return hashed.groupBy("bucket").applyInPandas(make, CUCKOO_DDL)


def probe_cuckoo(candidates: DataFrame, seen_cuckoo: DataFrame,
                 url_col: str = "url_canon",
                 num_buckets: int = DEFAULT_NUM_BUCKETS) -> DataFrame:
    """Tag candidates with ``maybe_seen`` against the cuckoo relation
    (cogroup, same shape as :func:`probe`)."""
    from frontier.kernel import cuckoo as ck

    cand = with_hash_cols(candidates, url_col, num_buckets)
    out_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in cand.schema.fields) + ", maybe_seen boolean"
    cols = list(cand.columns)

    def check(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame
              ) -> pd.DataFrame:
        out = cand_pdf[cols].copy()
        if cand_pdf.empty:
            out["maybe_seen"] = pd.Series([], dtype=bool)
            return out
        if filt_pdf.empty or filt_pdf["table"].iloc[0] is None:
            out["maybe_seen"] = False
            return out
        filt = ck.CuckooFilter.from_bytes(filt_pdf["table"].iloc[0])
        out["maybe_seen"] = filt.contains_many(
            cand_pdf["h1"].to_numpy().astype(np.uint64),
            cand_pdf["h2"].to_numpy().astype(np.uint64))
        return out

    return (cand.groupBy("bucket")
            .cogroup(seen_cuckoo.groupBy("bucket"))
            .applyInPandas(check, out_ddl))


def cuckoo_delete(seen_cuckoo: DataFrame, urls: DataFrame,
                  url_col: str = "url_canon",
                  num_buckets: int = DEFAULT_NUM_BUCKETS) -> DataFrame:
    """Remove URLs from the cuckoo relation — the operation a Bloom
    filter cannot do. Returns the updated relation."""
    from frontier.kernel import cuckoo as ck

    hashed = with_hash_cols(urls.select(url_col).dropDuplicates([url_col]),
                            url_col, num_buckets)

    def remove(filt_pdf: pd.DataFrame, del_pdf: pd.DataFrame
               ) -> pd.DataFrame:
        if filt_pdf.empty:
            return pd.DataFrame(
                {"bucket": pd.Series([], dtype="int32"),
                 "table": pd.Series([], dtype=object),
                 "n_keys": pd.Series([], dtype="int64")})
        filt = ck.CuckooFilter.from_bytes(filt_pdf["table"].iloc[0])
        removed = 0
        if not del_pdf.empty:
            order = del_pdf.sort_values(["h1", "h2"])
            for h1, h2 in zip(order["h1"], order["h2"]):
                removed += filt.delete(int(np.uint64(h1)),
                                       int(np.uint64(h2)))
        return pd.DataFrame({
            "bucket": [int(filt_pdf["bucket"].iloc[0])],
            "table": [filt.to_bytes()],
            "n_keys": [int(filt_pdf["n_keys"].iloc[0]) - removed]})

    return (seen_cuckoo.groupBy("bucket")
            .cogroup(hashed.groupBy("bucket"))
            .applyInPandas(remove, CUCKOO_DDL))


def filter_unseen(candidates: DataFrame, seen_bloom: DataFrame,
                  seen_exact: DataFrame | None = None,
                  url_col: str = "url_canon",
                  num_buckets: int = DEFAULT_NUM_BUCKETS) -> DataFrame:
    """The full anti-join: ONE Bloom probe + exact confirm.

    Candidates are probed once (:func:`probe`, the cogroup numpy
    kernel: it touches each bucket's filter once per Arrow batch),
    then go through one conditional anti-join::

        tagged LEFT ANTI seen_exact ON url_canon = url AND maybe_seen

    * ``maybe_seen = False`` → definitely new (Bloom has no false
      negatives): the condition fails, so the row survives without
      matching ``seen_exact``.
    * ``maybe_seen = True`` → dropped only on an exact match;
      survivors are Bloom false positives.

    An anti-join needs no distinct right side, so ``seen_exact`` is
    not deduplicated first. ``seen_exact=None`` keeps only the rows
    the Bloom calls definitely new.
    """
    tagged = probe(candidates, seen_bloom, url_col, num_buckets) \
        .drop("h1", "h2", "bucket")
    if seen_exact is None:
        return tagged.where(~F.col("maybe_seen")).drop("maybe_seen")
    exact = seen_exact.select(F.col(url_col).alias("_seen_url"))
    return tagged.join(
        exact,
        (tagged[url_col] == exact["_seen_url"]) & tagged["maybe_seen"],
        "left_anti").drop("maybe_seen")
