"""The benchmark workloads.

Each workload has the same shape:

* ``setup()`` builds its inputs from the seed; the runner calls it
  several times and reports the median as set-up time;
* ``op(i)`` is one timed operation: a call into the engine's public
  functions, returning a small summary of its output;
* ``check(outputs)`` compares every summary with a reference computed
  outside the timed region and returns the indexes of failed ops;
* ``end_to_end(walls, outputs)`` and ``layers(...)`` derive the
  reported metrics.

Every workload runs one cold op and ``n_steady`` steady ops, a fixed
number whatever their speed, so runs of faster or slower code do the
same work. ``crawl`` runs one crawl round per op on a growing
snapshot store; ``curate`` repeats identical passes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import spans as tr
from frontier import synth
from frontier.kernel import decode, mime, simulator, urlnorm
from frontier.spark import (ann, crawl, parse, schedule, session,
                            textops, urlcanon)
from frontier.spark.snapshots import SnapshotStore
from jobs import curate

KERNEL_SAMPLE = 200          # pages timed by the single-process kernels
KERNEL_SECONDS = 0.5         # per kernel probe


def _du(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            nbytes += os.path.getsize(os.path.join(root, name))
            nfiles += name.endswith(".parquet")
    return nbytes, nfiles


def _robots_map(robots) -> dict:
    return {r.host: [(ru.pat, ru.allow) for ru in r.rules]
            for r in robots.collect() if r.rules}


def _rate(fn, items, weight) -> float:
    """Work units per second of ``fn`` over ``items``, repeated for
    at least KERNEL_SECONDS."""
    done, t0 = 0.0, time.perf_counter()
    while True:
        for item in items:
            fn(item)
        done += weight
        elapsed = time.perf_counter() - t0
        if elapsed >= KERNEL_SECONDS:
            return done / elapsed


def kernel_rates(pages_path: str) -> dict:
    """Single-process kernel throughput on a fixed page sample."""
    tbl = pq.read_table(pages_path, columns=["url", "html", "text"])
    tbl = tbl.slice(0, KERNEL_SAMPLE)
    htmls = tbl.column("html").to_pylist()
    texts = [t.encode() for t in tbl.column("text").to_pylist() if t]
    urls = tbl.column("url").to_pylist()
    payloads = [(decode.encode_quoted_printable(t), "quoted-printable")
                if i % 2 else (decode.encode_base64(t), "base64")
                for i, t in enumerate(texts)]
    mb = 1 << 20
    return {
        "kernel.mime.parse_mb_per_s": _rate(
            mime.parse_mhtml_struct, htmls, sum(map(len, htmls)) / mb),
        "kernel.decode.mb_per_s": _rate(
            lambda p: decode.decode_payload(*p), payloads,
            sum(len(p[0]) for p in payloads) / mb),
        "kernel.urlnorm.urls_per_s": _rate(
            urlnorm.canonicalize, urls, len(urls)),
    }


class Workload:
    n_steady = 2                   # ops after the cold one

    def __init__(self, spark, work: str, seed: int, scale: float,
                 cores: int, tracer: tr.Tracer):
        self.spark, self.work, self.seed = spark, work, seed
        self.scale, self.cores, self.tracer = scale, cores, tracer
        self.setup_walls: dict[str, list[float]] = {}

    def _timed(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_walls.setdefault(name, []).append(
            time.perf_counter() - t0)
        return out

    def prepare(self) -> None:
        """Once, after the set-up repetitions."""

    def after_cold(self) -> None:
        """Once, untimed, between the cold op and the next one."""

    def staged_layers(self) -> None:
        """Traced run only: extra calls that time single layers."""

    def baseline(self, walls: list[float], n: int) -> list[float]:
        """The untraced walls ``traced_ops(n)`` compares with: the last
        ``n`` passes, as passes are identical and still warming up."""
        return walls[-n:]

    def traced_ops(self, n_ops: int) -> list[float]:
        """Re-run ``n_ops`` steady ops, each under a span and job
        group; returns their walls."""
        walls = []
        for i in range(n_ops):
            with self.tracer.span(f"{self.name}.op", group=True) as s:
                self.op(1 + i)
            walls.append(s["end"] - s["start"])
        return walls


# ---------------------------------------------------------------------
class Crawl(Workload):
    """A multi-round crawl over a page index: each op is one
    ``crawl.crawl(..., max_rounds=r+1, resume=r>0)`` call that commits
    six tables to a SnapshotStore.

    The traced run adds one frontier batch over the whole page table,
    each step materialized under its own job group: canon → robots
    gate → politeness cut (``batch_budget`` per host) → fetch order →
    broadcast fetch → MHTML main-text extract."""

    name = "crawl"
    docs, amplify, budget, batch_budget = 600, 10, 5, 1000
    SEEN_UDFS = ("make_filter", "orr", "check", "words")

    def setup(self) -> None:
        n_docs = max(20, int(self.docs * self.scale))
        corpus = os.path.join(self.work, "corpus")
        self.pages_path = os.path.join(self.work, "pages")
        index_path = os.path.join(self.work, "index")
        self._timed("gen", lambda: gen.write_corpus(corpus, self.seed,
                                                    n_docs))
        self._timed("synth", lambda: synth.pages_from_documents(
            self.spark, corpus, amplify=self.amplify)
            .write.mode("overwrite").parquet(self.pages_path))
        self._timed("index", lambda: crawl.prepare_page_index(
            self.spark.read.parquet(self.pages_path))
            .write.mode("overwrite").parquet(index_path))
        self.index_path = index_path

    def prepare(self) -> None:
        """After the set-up repetitions: cache the index, pick the
        seeds (half the pages, by seed) and open an empty store."""
        self.page_index = self.spark.read.parquet(self.index_path).cache()
        self.page_index.count()
        urls = sorted(r.url for r in
                      self.spark.read.parquet(self.pages_path)
                      .select("url").collect())

        def h(u: str) -> int:
            return int.from_bytes(hashlib.blake2b(
                f"{self.seed}:{u}".encode(), digest_size=8).digest(), "big")
        self.seed_rows = [(u, h(u) % 3, rank) for rank, u in
                          enumerate(u for u in urls if h(u) % 2 == 0)]
        self.seeds = self.spark.createDataFrame(
            self.seed_rows,
            "url string, priority int, source_rank bigint").cache()
        self.robots = synth.robots_df(self.spark).cache()
        self.seeds.count(), self.robots.count()
        self.store_root = os.path.join(self.work, "store")
        self.reset_store()

    def reset_store(self) -> None:
        shutil.rmtree(self.store_root, ignore_errors=True)
        self.store = SnapshotStore(self.store_root)

    def op(self, i: int):
        manifest = crawl.crawl(
            self.spark, self.page_index, self.seeds, self.robots,
            self.store, budget_per_host=self.budget, max_rounds=i + 1,
            resume=i > 0)
        if manifest.get("snapshot_id") != i:
            raise RuntimeError(f"round {i} committed no snapshot")
        return int(manifest["metrics"]["scheduled"])

    def corrupt(self, out):
        return out + 1

    def check(self, outputs) -> list[int]:
        pages_map = {}
        for row in self.page_index.select(
                "url_canon", F.unix_micros("warc_ts").alias("ts"),
                "text", "links").collect():
            pages_map[row.url_canon] = (row.ts, row.text,
                                        list(row.links or []))
        sim = simulator.simulate(
            pages_map, [(u, p, 0) for u, p, _ in self.seed_rows],
            _robots_map(self.robots), budget_per_host=self.budget,
            max_rounds=len(outputs))
        want = [len(r["scheduled"]) for r in sim.rounds]
        bad = [i for i, n in enumerate(outputs)
               if i >= len(want) or n != want[i]]
        got_seen = {r.url_canon for r in
                    self.store.read(self.spark, "seen_exact").collect()}
        got_blocked = {r.url_canon for r in
                       self.store.read(self.spark, "blocked").collect()}
        if (got_seen != sim.seen or got_blocked != sim.blocked) \
                and len(outputs) - 1 not in bad:
            bad.append(len(outputs) - 1)
        return bad

    def end_to_end(self, walls, outputs) -> dict:
        return {"items_per_s": sum(outputs[1:]) / sum(walls[1:])}

    def baseline(self, walls, n):
        """Rounds differ in work: compare the same rounds."""
        return walls[1:1 + n]

    def traced_ops(self, n_ops):
        """Round 0 and ``n_ops`` steady rounds again on a fresh store,
        with the layer functions ``_crawl_round`` looks up through
        module attributes wrapped for plan-time spans; returns the
        steady rounds' walls."""
        tracer = self.tracer
        self.reset_store()
        for owner, attr in ((crawl.sched, "with_host"),
                            (crawl.sched, "with_url_canon"),
                            (crawl.sched, "apply_robots"),
                            (crawl.sched, "politeness_cut"),
                            (crawl.seenmod, "build"),
                            (crawl.seenmod, "merge_blooms"),
                            (crawl.seenmod, "filter_unseen"),
                            (crawl, "fetch_pages")):
            tracer.wrap(owner, attr, f"plan.{attr}")
        tracer.wrap(SnapshotStore, "commit", "snapshots.commit")
        walls = []
        try:
            for i in range(n_ops + 1):
                with tracer.span(f"crawl.round{i}", group=True) as s:
                    self.op(i)
                walls.append(s["end"] - s["start"])
        finally:
            tracer.unwrap()
        return walls[1:]

    def staged_layers(self) -> None:
        """One frontier batch over the page table with every step
        materialized under its own job group, so each layer's busy
        time is its span."""
        pages = self.spark.read.parquet(self.pages_path)
        frontier = pages.select("url", "warc_ts") \
            .withColumn("priority", F.lit(0))
        hosts = pages.select(urlcanon.host_expr(
            F.col("url"), validate=False).alias("host"))
        live = []

        def ckpt(df):
            out = df.localCheckpoint(eager=True)
            # a localCheckpoint's blocks are freed through its RDD,
            # not through DataFrame.unpersist
            live.append(session.checkpoint_rdd(out))
            return out

        with self.tracer.span("schedule.canon", group=True):
            staged = ckpt(schedule.with_host(
                schedule.with_url_canon(frontier)))
        with self.tracer.span("schedule.robots", group=True):
            gated = ckpt(schedule.apply_robots(
                staged, self.robots, prune_hosts=hosts)
                .where(F.col("robots_allowed")))
        with self.tracer.span("schedule.politeness", group=True):
            ordered = ckpt(schedule.fetch_order(
                schedule.politeness_cut(
                    gated, budget_per_host=self.batch_budget),
                num_partitions=self.cores).select("url"))
        with self.tracer.span("parse.extract", group=True):
            parse.extract_main_text(
                pages.join(F.broadcast(ordered), "url")) \
                .write.format("noop").mode("overwrite").save()
        for rdd in live:
            rdd.unpersist(False)

    def layers(self, jobs) -> dict:
        tracer = self.tracer
        span = {s["name"]: s["end"] - s["start"] for s in tracer.spans}
        extract = tr.python_cost(
            [j for j in jobs if j["group"] == "parse.extract"],
            ["extract"])
        rounds = [s for s in tracer.named("crawl.round")
                  if s["name"] != "crawl.round0"]
        n = max(1, len(rounds))
        per = {"jobs": 0, "tasks": 0, "plan": 0.0, "driver": 0.0,
               "seen_py": 0.0, "commit": 0.0, "canon_py": 0.0,
               "canon_bytes": 0}
        for r in rounds:
            rj = tr.jobs_in(jobs, r["start"], r["end"])
            per["jobs"] += len(rj)
            per["tasks"] += sum(j["tasks"] for j in rj)
            per["driver"] += (r["end"] - r["start"]) \
                - tr.busy_s(jobs, r["start"], r["end"])
            per["seen_py"] += tr.python_cost(rj, self.SEEN_UDFS)[0]
            canon = tr.python_cost(rj, ["canon"])
            per["canon_py"] += canon[0]
            per["canon_bytes"] += canon[1]
            inside = [s for s in tracer.spans
                      if r["start"] <= s["start"] and s.get("end", 0)
                      <= r["end"]]
            per["plan"] += sum(s["end"] - s["start"] for s in inside
                               if s["name"].startswith("plan."))
            per["commit"] += sum(s["end"] - s["start"] for s in inside
                                 if s["name"] == "snapshots.commit")
        bloom = snap = files = 0
        for sid in range(1, 1 + len(rounds)):
            b, _ = _du(os.path.join(self.store_root, "data",
                                    f"snap-{sid}", "seen_bloom"))
            s_b, s_f = _du(os.path.join(self.store_root, "data",
                                        f"snap-{sid}"))
            bloom, snap, files = bloom + b, snap + s_b, files + s_f
        n_seen = self.store.manifest()["lineage"]["seen_exact"]["n_rows"]
        return {
            **kernel_rates(self.pages_path),
            "synth.pages_s": statistics.median(self.setup_walls["synth"]),
            "parse.index_s": statistics.median(self.setup_walls["index"]),
            "schedule.canon_s": span["schedule.canon"],
            "schedule.robots_s": span["schedule.robots"],
            "schedule.politeness_s": span["schedule.politeness"],
            "parse.extract_s": span["parse.extract"],
            "parse.python_run_s": extract[0],
            "parse.python_bytes": extract[1],
            "schedule.python_run_s": per["canon_py"] / n,
            "schedule.python_bytes": per["canon_bytes"] / n,
            "crawl.round_p50_s": statistics.median(
                r["end"] - r["start"] for r in rounds),
            "crawl.jobs_per_round": per["jobs"] / n,
            "crawl.tasks_per_round": per["tasks"] / n,
            "crawl.plan_s_per_round": per["plan"] / n,
            "crawl.driver_s_per_round": per["driver"] / n,
            "seen.bloom_bytes_per_round": bloom / n,
            "seen.python_run_s_per_round": per["seen_py"] / n,
            "snapshots.commit_s_per_round": per["commit"] / n,
            "snapshots.bytes_per_round": snap / n,
            "snapshots.files_per_round": files / n,
            "snapshots.state_bytes_per_url": _du(self.store_root)[0]
            / n_seen,
        }


# ---------------------------------------------------------------------
def _digest(ids) -> tuple[int, str]:
    """(count, sha256 prefix) of a set of doc ids."""
    body = ",".join(map(str, sorted(ids))).encode()
    return len(ids), hashlib.sha256(body).hexdigest()[:16]


def _components(pairs) -> dict:
    """Connected components by union-find: node -> min node of its
    component (the ``dedup_clusters`` cluster id)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class Curate(Workload):
    """The ``jobs/curate.py`` batch path: ExactSubstr rewrite (k=8),
    then every gate of ``build_flags`` with semantic dedup on, fused
    into one selection that writes the curated parquet. Passes are
    identical."""

    name = "curate"
    docs, substr_k, threshold = 300, 8, 0.4
    max_dup_para, min_jaccard, min_lp = 0.5, 0.8, -3_405_000
    # a second steady pass did not narrow the run-to-run spread (ten
    # seeds on 4 cores: IQR/median 0.119 with two, 0.117 with one), as
    # the spread comes from the host, run by run; it made runs 10 s
    # longer
    n_steady = 1
    # (selected docs, digest of their ids) for seeds at scale 1
    PINNED = {1: (183, "a8fff9c9adfa3784")}

    def setup(self) -> None:
        n_docs = max(40, int(self.docs * self.scale))
        self.corpus = os.path.join(self.work, "corpus")
        self.out_path = os.path.join(self.work, "curated")
        self.n_docs = n_docs
        self._timed("gen", lambda: gen.write_corpus(
            self.corpus, self.seed, n_docs, with_embeddings=True))

    def _inputs(self):
        docs = self.spark.read.parquet(
            os.path.join(self.corpus, "documents.parquet")) \
            .select("doc_id", "text", "lang")
        emb = self.spark.read.parquet(
            os.path.join(self.corpus, "embeddings.parquet"))
        return docs, emb

    def op(self, i: int):
        docs, emb = self._inputs()
        docs = curate.apply_substr_dedup(docs, self.substr_k)
        casualties = (ann.semantic_dedup(emb, threshold=self.threshold)
                      .where(~F.col("keep"))
                      .select(F.col("vec_id").alias("doc_id")))
        flagged, flag_cols = curate.build_flags(
            docs, max_dup_para=self.max_dup_para,
            min_jaccard=self.min_jaccard, min_lp=self.min_lp,
            semantic_casualties=casualties)
        keep = flagged
        for n in flag_cols:
            keep = keep.where(F.col(n))
        keep.select("doc_id", "text", "lang") \
            .write.mode("overwrite").parquet(self.out_path)
        return _digest(pq.read_table(self.out_path, columns=["doc_id"])
                       .column("doc_id").to_pylist())

    def _gates(self) -> dict:
        """Each gate's operator on its own, as ``(a, b)`` rows: the
        passing doc ids (``b`` null), each paragraph's (doc id,
        is_dup), the verified near-dup pairs, the semantic
        casualties. Keyed by the layer each one times."""
        docs, emb = self.docs_ref, self.emb

        def ids(df, col="doc_id"):
            return df.select(F.col(col).cast("long").alias("a"),
                             F.lit(None).cast("long").alias("b"))

        return {
            "textops.gopher": ids(textops.gopher_quality(docs)
                                  .where("passes_gopher")),
            "textops.exact_dedup": ids(textops.exact_dedup(docs)),
            "textops.paragraph_dedup": textops.paragraph_dedup(docs)
            .select(F.col("doc_id").alias("a"),
                    F.col("is_dup").cast("long").alias("b")),
            "textops.decontam": ids(textops.decontam_overlap(
                docs, docs.where(F.col("doc_id") % 97 == 0))
                .where(F.col("n_overlap") == 0)),
            "textops.unigram_lp": ids(textops.unigram_logprob(docs)
                                      .where(F.col("mean_lp_micro")
                                             >= self.min_lp)),
            "textops.near_pairs": textops.ngram_jaccard(
                docs, textops.lsh_candidate_pairs(
                    textops.minhash_signatures(docs)))
            .where(F.col("jaccard") >= self.min_jaccard)
            .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
            "ann.semantic_dedup": ids(ann.semantic_dedup(
                emb, threshold=self.threshold).where(~F.col("keep")),
                "vec_id"),
        }

    def reference(self) -> tuple[int, str]:
        """The selection gate by gate: every gate's operator run on
        its own (one job collects them all, tagged by gate), near-dup
        clusters by union-find in Python instead of
        ``dedup_clusters``, and the survivors intersected in
        Python."""
        docs, self.emb = self._inputs()
        with self.tracer.span("textops.substring_dedup", group=True):
            rows = curate.apply_substr_dedup(docs, self.substr_k) \
                .collect()
        self.docs_ref = self.spark.createDataFrame(
            rows, "doc_id long, text string, lang string")
        tagged = None
        for name, df in self._gates().items():
            df = df.withColumn("gate", F.lit(name))
            tagged = df if tagged is None else tagged.unionByName(df)
        got: dict = {}
        for r in tagged.collect():
            got.setdefault(r.gate, []).append((r.a, r.b))
        self.near_pairs = got.get("textops.near_pairs", [])
        paras: dict = {}
        for doc, dup in got.get("textops.paragraph_dedup", []):
            n, d = paras.get(doc, (0, 0))
            paras[doc] = (n + 1, d + dup)
        survivors = {r.doc_id for r in rows}
        for name in ("textops.gopher", "textops.exact_dedup",
                     "textops.decontam", "textops.unigram_lp"):
            survivors &= {a for a, _ in got.get(name, [])}
        survivors &= {doc for doc, (n, d) in paras.items()
                      if d / n <= self.max_dup_para}
        survivors -= {d for d, c in _components(self.near_pairs).items()
                      if d != c}
        survivors -= {a for a, _ in got.get("ann.semantic_dedup", [])}
        return _digest(survivors)

    def staged_layers(self) -> None:
        """Each gate of the reference again, alone under its own span
        and job group; MinHash + LSH candidates alone; and
        ``dedup_clusters`` on the verified near-dup pairs."""
        for name, df in self._gates().items():
            with self.tracer.span(name, group=True):
                df.write.format("noop").mode("overwrite").save()
        with self.tracer.span("textops.minhash_lsh", group=True):
            self.lsh_pairs = textops.lsh_candidate_pairs(
                textops.minhash_signatures(self.docs_ref)).count()
        with self.tracer.span("textops.dedup_clusters", group=True):
            textops.dedup_clusters(self.spark.createDataFrame(
                self.near_pairs, "doc_a long, doc_b long")).collect()

    def after_cold(self) -> None:
        """The reference runs between the cold pass and the steady
        ones: it runs the same operators, so it also warms them up."""
        self.ref = self.reference()

    def corrupt(self, out):
        return out[0], out[1][::-1]

    def check(self, outputs) -> list[int]:
        ref = self.ref
        pinned = self.PINNED.get(self.seed) if self.scale == 1 else None
        return [i for i, out in enumerate(outputs)
                if out != ref or (pinned and out != pinned)]

    def end_to_end(self, walls, outputs) -> dict:
        return {"items_per_s": self.n_docs
                / statistics.median(walls[1:])}

    def layers(self, jobs) -> dict:
        span = {s["name"]: s["end"] - s["start"]
                for s in self.tracer.spans}

        def n_jobs(group):
            return sum(j["group"] == group for j in jobs)

        return {
            **{f"{name}_s": span[name] for name in (
                "textops.substring_dedup", "textops.minhash_lsh",
                "textops.dedup_clusters", "textops.paragraph_dedup",
                "textops.gopher", "textops.exact_dedup",
                "textops.decontam", "textops.unigram_lp",
                "ann.semantic_dedup")},
            "textops.lsh_pairs": self.lsh_pairs,
            "textops.dedup_clusters_jobs": n_jobs("textops.dedup_clusters"),
            "ann.semantic_dedup_jobs": n_jobs("ann.semantic_dedup"),
        }


WORKLOADS = {w.name: w for w in (Crawl, Curate)}
