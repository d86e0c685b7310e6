"""spark-submit entry point: curate a training-data set from crawled
documents — the pipeline a user of this engine actually runs after
the crawl:

    spark-submit --py-files frontier.zip jobs/curate.py \
        --sf-dir /root/testdata/sf0.01 --out /tmp/curated \
        [--from-crawl /tmp/crawl_state] [--html-wrapped]

Stages (each an operator from frontier/spark/textops.py; flags are
columns of ONE selection plan, not separate passes, and every gate
reads the corpus ``build_flags`` materialized once):

1. optional HTML tag-strip (``html_clean``) when the text column
   carries markup;
2. Gopher-style quality gate (``gopher_quality``);
3. exact-dedup representative selection (``exact_dedup``);
4. paragraph-level dedup pressure (``paragraph_dedup`` — documents
   whose duplicated-paragraph fraction exceeds ``--max-dup-para``
   are dropped, Lee et al. 2022);
5. FUZZY dedup (Lee et al. 2022's NearDup stage): MinHash
   signatures → LSH banding candidate pairs → exact n-gram-Jaccard
   verification at ``--min-jaccard`` → connected components
   (``dedup_clusters``) → keep only each cluster's min-doc_id
   representative. Candidates come from a bounded (band, key)
   equi-join — never all-pairs — and the CC step is the one
   deliberately-iterative stage (O(log d) star rounds, each
   checkpointed); its small (doc_id, cluster_id) result joins back
   into the single selection plan;
5b. optional SEMANTIC dedup (``--semantic-dedup``, SemDeDup —
   Abbas et al. 2023): embeddings clustered by the deterministic
   Lloyd-IVF codebook, within-cluster cosine ≥
   ``--semantic-threshold`` prunes all but the min-id
   representative (``ann.semantic_dedup``). Needs the sf-dir's
   ``embeddings.parquet`` (vec_id keyed like doc_id), so it is off
   by default and unavailable under ``--from-crawl``;
6. benchmark decontamination (``decontam_overlap`` — zero 8-gram
   overlap required) against ``--eval-dir`` (a held-out benchmark
   parquet with a ``text`` column) or, when absent, a deterministic
   self-slice (doc_id % 97 == 0; those docs self-overlap and are
   dropped — fine as the oracle-pinned demo, and the emitted JSON
   says which source was used);
7. unigram-LM quality floor (``unigram_logprob`` ≥ ``--min-lp``).

Writes the curated ``(doc_id, text, lang)`` parquet and prints one
JSON line with per-gate survivor counts (computed from ONE
aggregation over the flag columns — no per-gate actions).

``--streaming-in DIR`` switches to the continuous-ingestion mode
(streaming.streaming_curate): document files landing in DIR are
curated incrementally — cross-batch stateful exact dedup plus the
per-document gates (gopher, decontamination, LM floor — per
language with ``--lm-per-lang``) scored against FROZEN stats
persisted beside ``--checkpoint`` on the first invocation.
``--paras DIR`` additionally maintains the paragraph-hash index
incrementally (text parsed once, on arrival) so the paragraph gate
becomes a cheap hash-only aggregation
(streaming.paragraph_casualties) instead of a full re-parse; the
remaining corpus-global stages (fuzzy/semantic dedup) stay this
batch job, run periodically over the accumulated curated table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def apply_substr_dedup(docs, k: int, min_count: int = 2):
    """Optional REWRITE stage run before every gate (Lee et al. 2022
    run ExactSubstr over the raw corpus before training): each doc's
    text is replaced by ``textops.substring_dedup``'s clean_text —
    repeated ≥k-token spans cut out, whitespace-normalized — and
    docs left with no tokens at all (pure boilerplate, or token-less
    input) drop out of the corpus entirely."""
    from pyspark.sql import functions as F

    from frontier.spark import textops

    sd = textops.substring_dedup(docs, k=k, min_count=min_count)
    # emptied docs drop out through an explode of a 0-or-1-element
    # array, not a Filter: Catalyst pushes a Filter on the kernel's
    # output below the projection that computes it, which plans the
    # `rebuild` UDF twice over the same rows
    kept = sd.select("doc_id", F.explode(F.array_remove(
        F.array("clean_text"), "")).alias("text"))
    return (docs.select("doc_id", "lang")
            .join(kept, "doc_id")
            .select("doc_id", "text", "lang"))


def build_flags(docs, *, max_dup_para: float = 0.5,
                min_jaccard: float = 0.8, min_lp: int = -3_405_000,
                eval_docs=None, semantic_casualties=None,
                lm_model=None, ppl_keep=None, lang_aware=False,
                quality_model=None, quality_min: float = 0.5):
    """The curation gates as boolean columns over ``docs`` — the
    job's whole selection logic, importable for tests.

    Returns ``(flagged, flag_cols)``: ``flagged`` is docs plus one
    boolean per gate (all joined into ONE plan); the caller filters
    on every flag to select.

    ``docs`` is materialized once (an eager ``localCheckpoint``)
    before any gate reads it. Every gate is a separate subtree over
    ``docs``, and Spark does not share subtrees, so a lazy input is
    recomputed per gate: over ``apply_substr_dedup`` output, one
    curate pass ran the ``rebuild`` UDF in 21 Python nodes. Like
    ``dedup_clusters``' checkpoints, the blocks are freed when the
    frame is garbage-collected.

    ``eval_docs``: held-out benchmark relation (text column) for the
    decontamination gate; None falls back to the deterministic
    doc_id % 97 self-slice (those docs self-overlap and are dropped —
    the oracle-pinned demo behavior).

    ``semantic_casualties``: optional (doc_id) relation of semantic
    near-dup casualties (from ``ann.semantic_dedup`` with keep =
    false); docs listed are dropped, absent docs kept — a casualty
    list like the fuzzy-dedup gate, so docs without an embedding are
    never penalized.

    ``lm_model``: optional FROZEN ``textops.unigram_model`` relation
    for the q_lm gate; None keeps the self-scored default (the
    oracle-pinned behavior).

    ``ppl_keep``: optional set of CCNet perplexity buckets to keep
    (e.g. ``{"head", "middle"}``) — adds a ``q_ppl`` gate from
    ``textops.perplexity_buckets`` over the SAME LM scores the q_lm
    floor uses (CCNet §4.3 keeps head+middle and drops the tail).
    None (default) adds no bucket gate.
    """
    from pyspark.sql import functions as F

    from frontier.spark import textops

    docs = docs.localCheckpoint(eager=True)
    # fuzzy dedup (the NearDup stage real pipelines run between exact
    # dedup and decontamination): minhash → LSH banding candidates →
    # exact Jaccard verify → connected components. dedup_clusters is
    # deliberately iterative (O(log d) star rounds, driver-paced, each
    # round checkpointed) — its SMALL (doc_id, cluster_id) output then
    # joins back into the one selection plan below. Everything bounded:
    # candidates from a (band, key) equi-join, never all-pairs.
    sigs = textops.minhash_signatures(docs)
    cand = textops.lsh_candidate_pairs(sigs)
    near_pairs = (textops.ngram_jaccard(docs, cand)
                  .where(F.col("jaccard") >= min_jaccard)
                  .select("doc_a", "doc_b"))
    non_reps = (textops.dedup_clusters(near_pairs)
                .where(F.col("doc_id") != F.col("cluster_id")))

    if eval_docs is None:
        eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    # lang_aware (r6, CCNet fidelity): score q_lm/q_ppl against the
    # doc's LANGUAGE's LM and per-lang frozen bucket thresholds
    # instead of the corpus-global ones; a frozen lm_model must then
    # be a unigram_model(..., lang_col=...) relation. NULL-lang docs
    # get no score → q_lm default False (dropped), the same
    # absent-doc rule as the global gate's token-less docs.
    lang = "lang" if lang_aware else None

    # each gate is a (doc_id, flag, default-when-absent) relation;
    # ONE plan joins them. Defaults differ: quality/dedup-rep gates
    # list the SURVIVORS (absent → drop), the near-dup gate lists the
    # CASUALTIES (absent → keep — clusters only contain paired docs).
    gates = [
        ("q_gopher",
         textops.gopher_quality(docs)
         .select("doc_id", F.col("passes_gopher").alias("q_gopher")),
         False),
        ("q_exact_rep",
         textops.exact_dedup(docs)
         .select("doc_id", F.lit(True).alias("q_exact_rep")),
         False),
        ("q_para",
         textops.paragraph_dedup(docs)
         .groupBy("doc_id")
         .agg((F.sum(F.col("is_dup").cast("long"))
               / F.count("*") <= max_dup_para).alias("q_para")),
         False),
        ("q_neardup",
         non_reps.select("doc_id", F.lit(False).alias("q_neardup")),
         True),
        *([("q_semantic",
            semantic_casualties.select(
                "doc_id", F.lit(False).alias("q_semantic")),
            True)] if semantic_casualties is not None else []),
        ("q_decontam",
         textops.decontam_overlap(docs, eval_docs)
         .select("doc_id", (F.col("n_overlap") == 0)
                 .alias("q_decontam")),
         False),
        ("q_lm",
         textops.unigram_logprob(docs, model=lm_model,
                                 lang_col=lang)
         .select("doc_id", (F.col("mean_lp_micro") >= min_lp)
                 .alias("q_lm")),
         False),
        *([("q_ppl",
            textops.perplexity_buckets(
                textops.unigram_logprob(docs, model=lm_model,
                                        lang_col=lang),
                by_col=lang)
            .select("doc_id",
                    F.col("bucket").isin(*sorted(ppl_keep))
                    .alias("q_ppl")),
            False)] if ppl_keep else []),
        *([("q_quality",
            textops.quality_classifier_score(quality_model, docs)
            .select("doc_id",
                    (F.col("quality_p") >= quality_min)
                    .alias("q_quality")),
            False)] if quality_model is not None else []),
    ]
    flagged = docs
    for name, g, default in gates:
        flagged = flagged.join(g, "doc_id", "left") \
            .withColumn(name, F.coalesce(F.col(name), F.lit(default)))
    return flagged, [n for n, _, _ in gates]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--from-crawl", metavar="STORE",
                    help="curate the crawl store's extracted texts "
                         "instead of the documents table")
    ap.add_argument("--html-wrapped", action="store_true",
                    help="input text carries HTML markup: strip it "
                         "first (html_clean) and curate clean_text")
    ap.add_argument("--max-dup-para", type=float, default=0.5,
                    help="drop docs whose duplicated-paragraph "
                         "fraction exceeds this")
    ap.add_argument("--min-jaccard", type=float, default=0.8,
                    help="n-gram Jaccard above which an LSH candidate "
                         "pair counts as a near-duplicate")
    ap.add_argument("--eval-dir", metavar="PARQUET",
                    help="held-out benchmark parquet (text column) to "
                         "decontaminate against; defaults to the "
                         "deterministic doc_id%%97 self-slice")
    ap.add_argument("--min-lp", type=int, default=-3_405_000,
                    help="unigram mean log-prob floor (micro-nats)")
    ap.add_argument("--lm-model", metavar="PARQUET",
                    help="FROZEN textops.unigram_model parquet for "
                         "the LM gate; defaults to self-scoring the "
                         "input corpus (the oracle-pinned demo)")
    ap.add_argument("--substr-k", type=int, default=None,
                    metavar="K",
                    help="ExactSubstr rewrite stage (Lee et al. "
                         "2022): before any gate, cut every token "
                         "span covered by a K-token window occurring "
                         "twice+ in the corpus out of the text; docs "
                         "reduced to nothing drop out. The paper "
                         "uses K=50 tokens")
    ap.add_argument("--quality-target", metavar="PARQUET",
                    help="fastText-style quality-classifier gate "
                         "(the GPT-3/RefinedWeb recipe): train a "
                         "hashed-feature logistic model on this "
                         "target-quality corpus (text column) vs a "
                         "deterministic slice of the input pool, "
                         "drop docs scoring below --quality-min")
    ap.add_argument("--quality-min", type=float, default=0.5,
                    help="classifier probability floor for q_quality")
    ap.add_argument("--dsir-target", metavar="PARQUET",
                    help="DSIR importance resampling (Xie et al. "
                         "2023) AFTER the gates: train a frozen "
                         "unigram model on this target-domain "
                         "corpus (text column), weight each "
                         "surviving doc by log p_target - log p_raw "
                         "(raw = the survivors' own model) and keep "
                         "--dsir-n docs by deterministic "
                         "Gumbel-top-k")
    ap.add_argument("--dsir-n", type=int, default=None,
                    help="number of docs DSIR keeps (required with "
                         "--dsir-target)")
    ap.add_argument("--lm-per-lang", action="store_true",
                    help="CCNet fidelity: score the LM floor (and "
                         "--ppl-keep buckets) against each doc's "
                         "LANGUAGE's unigram model with per-language "
                         "frozen thresholds, instead of one global "
                         "model (a frozen --lm-model must then be a "
                         "lang-keyed unigram_model relation)")
    ap.add_argument("--ppl-keep", metavar="BUCKETS",
                    help="CCNet perplexity-bucket gate: comma list of "
                         "buckets to keep (e.g. 'head,middle' — CCNet "
                         "keeps these and drops the tail); off by "
                         "default")
    ap.add_argument("--streaming-in", metavar="DIR",
                    help="continuous-ingestion mode: curate document "
                         "parquet files landing in DIR via "
                         "streaming.streaming_curate (stateful "
                         "cross-batch exact dedup + frozen-stats "
                         "per-doc gates). Re-invoke as files arrive; "
                         "--checkpoint carries seen-state and frozen "
                         "sides across invocations. Corpus-global "
                         "stages (paragraph/fuzzy/semantic dedup) "
                         "stay the periodic batch job")
    ap.add_argument("--checkpoint", metavar="DIR",
                    help="streaming checkpoint dir (required with "
                         "--streaming-in); the frozen LM/eval sides "
                         "are persisted beside it on the first "
                         "invocation")
    ap.add_argument("--paras", metavar="DIR",
                    help="with --streaming-in: maintain the "
                         "incremental paragraph-hash index under DIR "
                         "(streaming.streaming_curate paras_path) and "
                         "report the current paragraph-gate casualty "
                         "count; select final docs by anti-joining "
                         "streaming.paragraph_casualties(DIR) at "
                         "read time")
    ap.add_argument("--shingles", metavar="DIR",
                    help="with --streaming-in: maintain the "
                         "incremental ExactSubstr k-gram index under "
                         "DIR (k from --substr-k, default 50) and "
                         "report the current duplicated-span count; "
                         "rewrite final docs at read time via "
                         "textops.apply_substring_spans("
                         "streaming.substring_casualty_spans(DIR))")
    ap.add_argument("--semantic-dedup", action="store_true",
                    help="add the SemDeDup gate: cluster the sf-dir's "
                         "embeddings.parquet with the Lloyd-IVF "
                         "codebook and drop within-cluster cosine "
                         "near-dups (min-id survivor). Unavailable "
                         "with --from-crawl (no embeddings)")
    ap.add_argument("--semantic-threshold", type=float, default=0.4,
                    help="within-cluster cosine at or above which a "
                         "higher-id doc is a semantic duplicate")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from frontier.spark import textops
    from frontier.spark.session import get_spark

    spark = get_spark(app="frontier-curate", cores=args.cpus)
    t0 = time.perf_counter()

    if args.streaming_in:
        if not args.checkpoint:
            ap.error("--streaming-in requires --checkpoint")
        if args.from_crawl or args.semantic_dedup or args.html_wrapped:
            ap.error("--streaming-in is incompatible with "
                     "--from-crawl/--semantic-dedup/--html-wrapped")
        from frontier.spark import streaming, textops

        # freeze the reference sides ONCE, beside the checkpoint:
        # every later invocation must score new arrivals against the
        # SAME stats or streaming selection drifts from batch
        model_path = args.checkpoint.rstrip("/") + "_model"
        eval_path = args.checkpoint.rstrip("/") + "_eval"
        if not os.path.exists(model_path):
            (spark.read.parquet(args.lm_model) if args.lm_model
             else textops.unigram_model(
                 spark.read.parquet(
                     os.path.join(args.sf_dir, "documents.parquet")),
                 lang_col="lang" if args.lm_per_lang else None)) \
                .write.parquet(model_path)
        if not os.path.exists(eval_path):
            ev = (spark.read.parquet(args.eval_dir)
                  .select(F.lit(0).cast("long").alias("doc_id"), "text")
                  if args.eval_dir else
                  spark.read.parquet(
                      os.path.join(args.sf_dir, "documents.parquet"))
                  .select("doc_id", "text")
                  .where(F.col("doc_id") % 97 == 0))
            ev.write.parquet(eval_path)
        quality_model = None
        if args.quality_target:
            # the classifier freezes beside the checkpoint like the
            # LM/eval sides: trained on the FIRST invocation, loaded
            # unchanged on every later one
            from pyspark.ml import PipelineModel
            qc_path = args.checkpoint.rstrip("/") + "_qc"
            if not os.path.exists(qc_path):
                pos = spark.read.parquet(args.quality_target) \
                    .select("text")
                neg = (spark.read.parquet(os.path.join(
                    args.sf_dir, "documents.parquet"))
                    .where(F.conv(F.substring(F.md5(F.concat(
                        F.lit("qc:"),
                        F.col("doc_id").cast("string"))),
                        1, 8), 16, 10).cast("bigint") % 3 == 0)
                    .select("text"))
                textops.quality_classifier_train(pos, neg) \
                    .save(qc_path)
            quality_model = PipelineModel.load(qc_path)
        res = streaming.streaming_curate(
            spark, args.streaming_in, args.out, args.checkpoint,
            model=spark.read.parquet(model_path),
            eval_docs=spark.read.parquet(eval_path),
            min_lp=args.min_lp, paras_path=args.paras,
            lang_aware=args.lm_per_lang,
            shingles_path=args.shingles,
            substr_k=args.substr_k or 50,
            quality_model=quality_model,
            quality_min=args.quality_min)
        record = {
            "streaming": True,
            "rounds": res["rounds"],
            "selected_per_round": res["selected_per_round"],
            "n_selected_new": sum(res["selected_per_round"].values()),
            "eval_source": "external" if args.eval_dir
            else "self_modulo_fallback",
            "lm_source": "external" if args.lm_model else "sf_dir",
        }
        if args.paras:
            record["n_para_casualties"] = streaming \
                .paragraph_casualties(
                    spark, args.paras,
                    max_dup_para=args.max_dup_para).count()
        if args.shingles:
            record["n_dup_spans"] = streaming \
                .substring_casualty_spans(spark, args.shingles) \
                .count()
        record["wall_sec"] = round(time.perf_counter() - t0, 2)
        print(json.dumps(record))
        spark.stop()
        return

    if args.from_crawl:
        from frontier.spark import crawl
        from frontier.spark.snapshots import SnapshotStore

        results = crawl.collect_results(
            spark, SnapshotStore(args.from_crawl))
        docs = (results
                .select(F.col("url_canon"), F.col("text"))
                .withColumn("doc_id",
                            F.xxhash64("url_canon"))
                .withColumn("lang", F.lit(None).cast("string")))
    else:
        docs = spark.read.parquet(
            os.path.join(args.sf_dir, "documents.parquet")) \
            .select("doc_id", "text", "lang")

    if args.html_wrapped:
        docs = textops.html_clean(
            docs.withColumnRenamed("text", "html")) \
            .withColumnRenamed("clean_text", "text").drop("html")

    if args.substr_k:
        docs = apply_substr_dedup(docs, args.substr_k)

    # eval relation needs only text; a constant doc_id satisfies the
    # operator's schema (eval grams are exploded+distinct, the id is
    # never used on that side)
    eval_docs = (spark.read.parquet(args.eval_dir)
                 .select(F.lit(0).cast("long").alias("doc_id"), "text")
                 if args.eval_dir else None)
    eval_source = "external" if args.eval_dir \
        else "self_modulo_fallback"
    semantic_casualties = None
    if args.semantic_dedup:
        if args.from_crawl:
            ap.error("--semantic-dedup needs the sf-dir embeddings "
                     "table; it is unavailable with --from-crawl")
        from frontier.spark import ann
        emb = spark.read.parquet(
            os.path.join(args.sf_dir, "embeddings.parquet"))
        semantic_casualties = (
            ann.semantic_dedup(emb,
                               threshold=args.semantic_threshold)
            .where(~F.col("keep"))
            .select(F.col("vec_id").alias("doc_id")))
    quality_model = None
    if args.quality_target:
        # positive = the target-quality corpus; negative = a
        # deterministic third of the input pool (md5-basis slice —
        # training data must not depend on partitioning)
        pos = spark.read.parquet(args.quality_target) \
            .select("text")
        neg = docs.where(F.conv(F.substring(F.md5(
            F.concat(F.lit("qc:"), F.col("doc_id").cast("string"))),
            1, 8), 16, 10).cast("bigint") % 3 == 0).select("text")
        quality_model = textops.quality_classifier_train(pos, neg)
    flagged, flag_cols = build_flags(
        docs, max_dup_para=args.max_dup_para,
        min_jaccard=args.min_jaccard, min_lp=args.min_lp,
        eval_docs=eval_docs,
        semantic_casualties=semantic_casualties,
        lm_model=(spark.read.parquet(args.lm_model)
                  if args.lm_model else None),
        ppl_keep=(set(args.ppl_keep.split(","))
                  if args.ppl_keep else None),
        lang_aware=args.lm_per_lang,
        quality_model=quality_model,
        quality_min=args.quality_min)
    # the parquet write and the per-gate counts both read this one
    # materialization instead of each running every gate
    flagged = flagged.localCheckpoint(eager=True)
    keep = flagged
    for n in flag_cols:
        keep = keep.where(F.col(n))
    selected = keep.select("doc_id", "text", "lang")
    if args.dsir_target:
        if not args.dsir_n:
            ap.error("--dsir-target requires --dsir-n")
        # DSIR after the gates: weight survivors toward the target
        # domain, keep n by deterministic Gumbel-top-k. Raw model =
        # the survivors' own distribution (the paper's pool);
        # target model trained once on the provided corpus.
        target_docs = spark.read.parquet(args.dsir_target) \
            .select(F.lit(0).cast("long").alias("doc_id"), "text")
        w = textops.dsir_weights(
            selected, textops.unigram_model(target_docs),
            textops.unigram_model(selected))
        picked = textops.dsir_resample(w, n=args.dsir_n) \
            .select("doc_id")
        selected = selected.join(picked, "doc_id")
    selected.write.mode("overwrite").parquet(args.out)

    # per-gate survivors from ONE aggregation over flag columns
    agg = flagged.agg(
        F.count("*").alias("n_docs"),
        *[F.sum(F.col(n).cast("long")).alias(n) for n in flag_cols]
    ).collect()[0]
    import pyarrow.dataset as ds
    n_out = sum(f.count_rows()
                for f in [ds.dataset(args.out)])
    print(json.dumps({
        "n_docs": agg["n_docs"],
        **{n: agg[n] for n in flag_cols},
        "n_selected": n_out,
        "eval_source": eval_source,
        "min_jaccard": args.min_jaccard,
        **({"substr_k": args.substr_k} if args.substr_k else {}),
        **({"semantic_threshold": args.semantic_threshold}
           if args.semantic_dedup else {}),
        "wall_sec": round(time.perf_counter() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
