"""Iceberg-style snapshot/checkpoint shim.

No Iceberg jars ship in this sandbox, so crawl state is checkpointed
as parquet directories plus ``snapshot-N.json`` manifests with an
atomic-rename commit — the same contract as an Iceberg table
(append-only snapshots, parent lineage, time-travel reads, rollback),
so swapping in real Iceberg is a one-line change of this module
(SURVEY.md §7.6).

Manifest layout::

    <root>/
      snapshot-0.json        {snapshot_id, parent_id, tables, metrics,
                              lineage: {table: {n_rows, n_files, files,
                                                file_rows, schema}}}
      data/snap-0/<table>/   parquet

Each table's lineage entry records the schema of the DataFrame that
was written (Spark's JSON form). ``read`` hands it to
``spark.read.schema``, so opening a snapshot runs no schema-inference
job; Delta Lake keeps the table schema in its log's ``metaData``
action for the same reason. Spark reads parquet with every field
nullable either way, so the read schema equals the inferred one.
Manifests written before schemas were recorded still read, by
inference.

Commits are atomic: the manifest is written to a temp file then
``os.replace``d into place; a crashed commit leaves data files but no
manifest → invisible, exactly like Iceberg's optimistic protocol.
``latest()`` + ``read()`` give resume-from-checkpoint; per-partition
lineage (file list + row counts) rides in the manifest.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _written(path: str, df: DataFrame) -> dict:
    """Lineage entry of ``df`` just written to ``path``: per-file row
    counts from the parquet FOOTERS (pyarrow metadata, driver-side,
    zero Spark jobs) and the schema the files hold."""
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    # per-partition lineage: one (file, n_rows) pair per task
    per_file = {f: pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in files}
    return {"n_files": len(files), "files": files, "file_rows": per_file,
            "n_rows": sum(per_file.values()),
            "schema": df.schema.jsonValue()}


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest bookkeeping ------------------------------------------
    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.root, f"snapshot-{snapshot_id}.json")

    def snapshot_ids(self) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            if name.startswith("snapshot-") and name.endswith(".json"):
                out.append(int(name[len("snapshot-"):-len(".json")]))
        return sorted(out)

    def latest_id(self) -> int | None:
        ids = self.snapshot_ids()
        return ids[-1] if ids else None

    def manifest(self, snapshot_id: int | None = None) -> dict | None:
        if snapshot_id is None:
            snapshot_id = self.latest_id()
        if snapshot_id is None:
            return None
        with open(self._manifest_path(snapshot_id)) as handle:
            return json.load(handle)

    # -- commit ----------------------------------------------------------
    def commit(self, tables: dict[str, DataFrame],
               metrics: dict[str, Any] | None = None,
               append: set[str] | frozenset[str] = frozenset()) -> int:
        """Write tables + manifest. Per-file row counts come from the
        parquet FOOTERS (pyarrow metadata, driver-side, zero Spark
        jobs) — the old read-back ``.count()`` per table recomputed
        nothing but cost one full job each, the dominant serial driver
        work in the crawl loop. Each table's schema comes from its
        DataFrame, which already knows it.

        ``metrics`` values may be callables: resolved as
        ``fn(lineage)`` after the writes, so callers can derive
        metrics (row counts, observation results) from the committed
        state without any pre-commit Spark actions.

        Tables named in ``append`` use Iceberg APPEND semantics
        (round-4, the 10^10-URL seen-set requirement): only the
        DELTA DataFrame is written; the manifest entry becomes the
        parent's path LIST plus the new delta directory, so the
        cumulative relation is never rewritten (the old shape
        rewrote the full seen set every round — O(total-seen) I/O
        per round, impossible at 10^10 URLs). ``read()`` unions the
        listed paths; lineage ``n_rows`` stays CUMULATIVE
        (parent + delta) so consumers (CLI `seen` metric) are
        unchanged, with the delta under ``delta_rows``/``files``.
        The caller owns the disjointness invariant (crawl: a
        scheduled batch can never intersect the committed seen set —
        frontier rows are unseen by construction).
        """
        from concurrent.futures import ThreadPoolExecutor

        parent = self.latest_id()
        snap_id = 0 if parent is None else parent + 1
        parent_man = self.manifest(parent) if parent is not None else None
        lineage: dict[str, Any] = {}
        table_paths: dict[str, Any] = {}

        def write_one(item):
            name, df = item
            path = os.path.join(self.root, "data",
                                f"snap-{snap_id}", name)
            df.write.mode("overwrite").parquet(path)
            return name, path, _written(path, df)

        # CONCURRENT table writes (round-4, r3 VERDICT item 3): each
        # write is an independent Spark job into its own directory,
        # but serially each one first pays a width-FLAT driver stage
        # (analysis + physical planning + codegen) while the cluster
        # idles. Submitting all writes at once overlaps one table's
        # plan compile with another's execution — the manifest is
        # still written only after EVERY write returns, so the
        # atomic-rename commit contract is unchanged, and concurrent
        # jobs touching the same persisted round state are safe
        # (BlockManager get-or-compute dedups per-partition cache
        # materialization). Any write failure propagates before the
        # manifest exists → the snapshot stays invisible, as before.
        #
        # SINGLE-NODE ASSUMPTION (r4 ADVICE): round state reaches
        # these writes as non-replicated lazy-localCheckpoint blocks,
        # which are unrecoverable if evicted or lost mid-write — on
        # one JVM that means hard failure only under driver OOM. On a
        # CLUSTER, executor loss mid-commit would fail the round
        # instead of recomputing; set FRONTIER_CKPT_REPLICATED=1 so
        # _ckpt stores MEMORY_AND_DISK_2 (2-replica) blocks, trading
        # one extra copy per block for commit survival of a single
        # executor loss (reliable HDFS checkpoints remain the
        # belt-and-braces option for very long crawls).
        with ThreadPoolExecutor(max_workers=max(1, len(tables))) as pool:
            for name, path, line in pool.map(write_one, tables.items()):
                if name in append:
                    prev_paths: list[str] = []
                    prev_rows = 0
                    if parent_man and name in parent_man["tables"]:
                        prev = parent_man["tables"][name]
                        prev_paths = prev if isinstance(prev, list) \
                            else [prev]
                        prev_rows = parent_man["lineage"][name]["n_rows"]
                    line["delta_rows"] = line["n_rows"]
                    line["n_rows"] = prev_rows + line["delta_rows"]
                    table_paths[name] = prev_paths + [path]
                else:
                    table_paths[name] = path
                lineage[name] = line
        resolved: dict[str, Any] = {}
        for key, val in (metrics or {}).items():
            out = val(lineage) if callable(val) else val
            if key.startswith("_") and isinstance(out, dict):
                resolved.update(out)  # grouped metrics flatten in place
            else:
                resolved[key] = out
        manifest = {
            "snapshot_id": snap_id,
            "parent_id": parent,
            "tables": table_paths,
            "lineage": lineage,
            "metrics": resolved,
            "wall_ts": time.time(),
        }
        tmp = self._manifest_path(snap_id) + ".tmp"
        with open(tmp, "w") as handle:
            json.dump(manifest, handle, indent=2)
        os.replace(tmp, self._manifest_path(snap_id))  # atomic commit
        return snap_id

    # -- read / time travel ---------------------------------------------
    def read(self, spark: SparkSession, table: str,
             snapshot_id: int | None = None) -> DataFrame | None:
        """``table`` as of ``snapshot_id`` (default: the latest), or
        None when that snapshot has no such table. The schema comes
        from the manifest, as Delta Lake reads it from the log's
        ``metaData``, so the read launches no Spark job; parquet
        schema inference would run one per call. A manifest written
        before schemas were recorded falls back to inference."""
        man = self.manifest(snapshot_id)
        if man is None or table not in man["tables"]:
            return None
        entry = man["tables"][table]
        paths = entry if isinstance(entry, list) else [entry]
        reader = spark.read
        schema = man["lineage"][table].get("schema")
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*paths)

    def rollback(self, to_snapshot_id: int) -> None:
        """Drop manifests newer than ``to_snapshot_id`` (data files are
        left in place, like Iceberg's expire-later model)."""
        for sid in self.snapshot_ids():
            if sid > to_snapshot_id:
                os.remove(self._manifest_path(sid))

    # -- maintenance (Iceberg expire_snapshots / compaction analogs) ----
    def compact_results(self, spark: SparkSession,
                        table: str = "results") -> str | None:
        """Union every snapshot's per-round ``table`` into ONE parquet
        under ``data/compacted/`` — the small-files compaction a
        long crawl needs before snapshot expiration (each round
        appends its own directory; at 10^4 rounds that is 10^4 scans
        for a full-results read). Returns the compacted path, or None
        when nothing carries the table.

        Prior compacted outputs are FOLDED IN (round-2 ADVICE: on a
        resumed crawl after an earlier expire, the live manifests no
        longer reference the expired rounds' results — without the
        fold, a file named ``results-upto-N`` would silently miss
        them). Overlap between a prior compacted file and still-live
        snapshots is removed by a distinct pass ((url_canon, round)
        is unique by the seen-set contract, so distinct is exact);
        superseded compacted dirs are deleted after the new one is in
        place.
        """
        import glob as globmod
        import shutil

        parts: list[str] = []
        for sid in self.snapshot_ids():
            man = self.manifest(sid)
            if table in man["tables"]:
                entry = man["tables"][table]
                for p in (entry if isinstance(entry, list) else [entry]):
                    if p not in parts:  # append deltas repeat across manifests
                        parts.append(p)
        cdir = os.path.join(self.root, "data", "compacted")
        prev = sorted(globmod.glob(os.path.join(cdir, f"{table}-upto-*")))
        prev = [p for p in prev if not p.endswith(".staging")]
        sources = parts + prev
        if not sources:
            return None
        out = os.path.join(cdir, f"{table}-upto-{self.latest_id()}")
        staging = out + ".staging"
        spark.read.parquet(*sources).dropDuplicates() \
            .write.mode("overwrite").parquet(staging)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(staging, out)
        for p in prev:
            if p != out:
                shutil.rmtree(p, ignore_errors=True)
        return out

    def rewrite_append_table(self, spark: SparkSession,
                             table: str) -> int | None:
        """Iceberg ``rewrite_data_files`` analog for APPEND tables:
        merge the delta-directory chain into ONE directory and commit
        a NEW snapshot referencing only it (every other table carried
        over from the parent by reference, metrics tagged). Without
        periodic rewrites a 10^4-round crawl's seen set is a
        10^4-directory union — every read pays the listing fan-out.
        After the rewrite, `expire` reclaims the old deltas once no
        live manifest references them. Returns the new snapshot id,
        or None if the table is absent/already a single directory.
        """
        man = self.manifest()
        if man is None or table not in man["tables"]:
            return None
        entry = man["tables"][table]
        if not isinstance(entry, list) or len(entry) <= 1:
            return None
        snap_id = self.latest_id() + 1
        path = os.path.join(self.root, "data", f"snap-{snap_id}",
                            f"{table}-rewrite")
        merged = self.read(spark, table, man["snapshot_id"])
        merged.write.mode("overwrite").parquet(path)
        tables_out = dict(man["tables"])
        tables_out[table] = [path]
        lineage = dict(man["lineage"])
        lineage[table] = {**_written(path, merged), "delta_rows": 0,
                          "rewritten_from": len(entry)}
        manifest = {
            "snapshot_id": snap_id,
            "parent_id": man["snapshot_id"],
            "tables": tables_out,
            "lineage": lineage,
            "metrics": {**man.get("metrics", {}),
                        "rewrite_of": table},
            "wall_ts": time.time(),
        }
        tmp = self._manifest_path(snap_id) + ".tmp"
        with open(tmp, "w") as handle:
            json.dump(manifest, handle, indent=2)
        os.replace(tmp, self._manifest_path(snap_id))
        return snap_id

    def expire(self, keep_last: int) -> list[int]:
        """Iceberg-style snapshot expiration: drop the manifests and
        UNREFERENCED data directories of all but the newest
        ``keep_last`` snapshots. Whole-rewrite state tables
        (frontier/bloom) expire with their snapshot; APPEND-table
        deltas (seen_exact/blocked) stay referenced by live
        manifests, so only directories no kept manifest points at
        are deleted — exactly Iceberg's reachability rule. Per-round
        ``results`` history should be compacted first
        (:meth:`compact_results`) if it matters. Returns the expired
        snapshot ids."""
        import shutil

        ids = self.snapshot_ids()
        drop = ids[:-keep_last] if keep_last > 0 else []
        keep = ids[-keep_last:] if keep_last > 0 else ids
        referenced: set[str] = set()
        for sid in keep:
            man = self.manifest(sid)
            for entry in man["tables"].values():
                referenced.update(
                    entry if isinstance(entry, list) else [entry])
        for sid in drop:
            os.remove(self._manifest_path(sid))
            snap_dir = os.path.join(self.root, "data", f"snap-{sid}")
            if not os.path.isdir(snap_dir):
                continue
            for tdir in os.listdir(snap_dir):
                path = os.path.join(snap_dir, tdir)
                if path not in referenced:
                    shutil.rmtree(path, ignore_errors=True)
            if not os.listdir(snap_dir):
                os.rmdir(snap_dir)
        return drop
