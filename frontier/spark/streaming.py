"""Streaming curation: the curate gates over documents as they arrive.

The crawl loop is batch only (``crawl.crawl``); streaming is the ingest
face of curation. Document files land in a directory (or a Kafka topic
on a real cluster) and :func:`streaming_curate` runs the curate gates
over them incrementally. :func:`first_seen_docs` is the stateful
exact-dedup seen-set (``applyInPandasWithState``) across triggers;
:func:`paragraph_casualties` and :func:`substring_casualty_spans` read
the corpus-global dedup verdicts back from the incremental indexes the
stream maintains. ``jobs/curate.py --streaming-in`` drives all of it.

``trigger(availableNow=True)`` gives exactly-once batch-incremental
runs, which is what the tests exercise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# ---------------------------------------------------------------------------
# Streaming curation: continuous-ingestion training-data pipeline
# ---------------------------------------------------------------------------

DOCS_DDL = "doc_id bigint, text string, lang string"
DOC_SEEN_STATE_DDL = "doc_id bigint"
DOC_REP_OUT_DDL = "doc_id bigint, text string, lang string"


def stream_docs(spark: SparkSession, path: str,
                max_files_per_trigger: int | None = None) -> DataFrame:
    """Directory parquet source of documents (doc_id, text, lang) —
    the ingest face of the curate pipeline's input table."""
    reader = spark.readStream.schema(DOCS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(path)


def first_seen_docs(docs_stream: DataFrame) -> DataFrame:
    """Streaming exact-dedup representative selection: emit each
    distinct text exactly ONCE across all triggers — the stateful
    twin of the batch ``textops.exact_dedup`` (sha256 grouping,
    min-doc_id representative).

    Semantics: within the first trigger that carries a given text,
    the min-doc_id row wins (exactly the batch rule); across
    triggers, the first trigger wins — which EQUALS the batch rule
    whenever documents arrive in doc_id order (the natural ingest
    order; tests pin the equivalence under it). The sha key is
    ``sha2(text)`` with NO null-coalesce, matching exact_dedup:
    all null-text docs share the null-key group.

    State = one bigint per distinct text, sharded by the state
    store: at 10^10 docs it lives with the shuffle partitioning
    (RocksDB on a real cluster), never on one node.
    """
    def dedup(key, pdfs, state: GroupState):
        rows = [pdf for pdf in pdfs if len(pdf)]
        if state.exists or not rows:
            return  # already emitted in an earlier trigger
        import pandas as pd2
        allr = pd2.concat(rows, ignore_index=True)
        first = allr.loc[allr["doc_id"].idxmin()]
        state.update((int(first["doc_id"]),))
        yield pd2.DataFrame({"doc_id": [first["doc_id"]],
                             "text": [first["text"]],
                             "lang": [first["lang"]]})

    return (docs_stream
            .withColumn("_sha", F.sha2(F.col("text"), 256))
            .groupBy("_sha")
            .applyInPandasWithState(dedup, DOC_REP_OUT_DDL,
                                    DOC_SEEN_STATE_DDL, "append",
                                    GroupStateTimeout.NoTimeout))


def streaming_curate(spark: SparkSession, docs_path: str,
                     out_path: str, checkpoint: str, *,
                     model: DataFrame, eval_docs: DataFrame,
                     min_lp: int = -3_405_000,
                     max_files_per_trigger: int | None = None,
                     paras_path: str | None = None,
                     lang_aware: bool = False,
                     shingles_path: str | None = None,
                     substr_k: int = 50,
                     quality_model=None,
                     quality_min: float = 0.5) -> dict:
    """Continuous-ingestion curation: the streaming face of
    jobs/curate.py for a corpus that arrives incrementally (new
    document files landing forever), run here as one availableNow
    pass per invocation (re-invoke as files land; the checkpoint
    carries the seen-set state across invocations).

    Stage split — which gates can stream and which cannot:

    * **exact dedup** is CROSS-BATCH STATEFUL (:func:`first_seen_docs`):
      the only stage whose decision depends on every document ever
      seen, so it is the one that must live in the streaming state
      store.
    * **gopher / decontamination / LM floor** are per-document gates
      against FROZEN reference stats — a held-out eval set and a
      :func:`textops.unigram_model` relation trained once — so each
      micro-batch scores independently in ``foreachBatch`` with the
      UNCHANGED batch operators (gopher_quality, decontam_overlap,
      unigram_logprob(model=...)). Freezing is what makes streaming
      ≡ batch: a self-scored LM or self-sliced eval set would shift
      with every arriving batch. ``lang_aware`` (r6) scores the LM
      floor per language — ``model`` must then be a
      ``unigram_model(..., lang_col=...)`` relation (jobs/curate.py
      freezes the right shape from ``--lm-per-lang``).
    * **corpus-global dedup pressure** (paragraph_dedup duplicated-
      paragraph fractions, MinHash/LSH fuzzy dedup, SemDeDup) needs
      corpus-wide counts no single micro-batch carries — that stays
      a periodic BATCH job over the accumulated curated table
      (jobs/curate.py), the standard lambda split for these
      pipelines. r6 narrows the split for the PARAGRAPH tier:
      ``paras_path`` maintains the normalized paragraph-hash index
      (textops.paragraph_index) as an incremental parquet state
      table — each micro-batch appends its slice under
      ``paras_path/round=N`` (overwrite per round → replay-
      idempotent), so text is paragraph-parsed exactly once, on
      arrival, and the corpus-global gate becomes the CHEAP
      hash-only aggregation :func:`paragraph_casualties` over
      accumulated slim (doc_id, para_md5) rows. The gate decision
      itself stays deferred (a paragraph's corpus count only grows,
      so a doc's verdict can flip from keep to drop as the corpus
      accumulates — no append-only sink can retract); callers
      anti-join the casualty list at read time, the same
      casualty-relation shape as jobs/curate.py's q_neardup. The
      EXACTSUBSTR tier gets the same treatment (r6):
      ``shingles_path`` appends each batch's k-gram index
      (textops.substring_index, ``substr_k`` tokens per window), so
      the corpus-wide span rewrite —
      :func:`substring_casualty_spans` +
      textops.apply_substring_spans at read time — never re-shingles
      text; only MinHash-fuzzy and semantic dedup remain the
      periodic batch job.

    Per-gate absent-doc defaults match jobs/curate.py build_flags:
    token-less docs are absent from unigram_logprob's output and are
    DROPPED (q_lm default False).

    Writes each micro-batch's survivors to ``out_path/round=N``
    (overwrite — idempotent on restart: batch ids are stable in the
    checkpoint, a replayed batch rewrites the same directory).
    Returns {"rounds": n, "selected_per_round": {...}}.

    tests/test_streaming.py proves the union of rounds equals the
    batch pipeline's selection over the same corpus + frozen sides,
    and that a later invocation curates ONLY the new arrivals.
    """
    import os

    from . import textops

    reps = first_seen_docs(
        stream_docs(spark, docs_path, max_files_per_trigger))

    model = model.persist()
    eval_docs = eval_docs.persist()
    selected_per_round: dict[int, int] = {}

    def gate(batch: DataFrame, batch_id: int) -> None:
        b = batch.persist()
        try:
            if paras_path is not None:
                (textops.paragraph_index(b)
                 .select("doc_id", "para_md5")
                 .write.mode("overwrite")
                 .parquet(os.path.join(paras_path,
                                       f"round={batch_id}")))
            if shingles_path is not None:
                # the ExactSubstr tier's incremental state: text is
                # shingled once, on arrival; the corpus-wide rewrite
                # (substring_casualty_spans + apply_substring_spans)
                # runs at read time over accumulated slim rows
                (textops.substring_index(b, k=substr_k)
                 .write.mode("overwrite")
                 .parquet(os.path.join(shingles_path,
                                       f"round={batch_id}")))
            flags = (
                b.join(textops.gopher_quality(b)
                       .select("doc_id", "passes_gopher"), "doc_id")
                .join(textops.decontam_overlap(b, eval_docs)
                      .select("doc_id",
                              (F.col("n_overlap") == 0).alias("q_decontam")),
                      "doc_id")
                .join(textops.unigram_logprob(
                    b, model=model,
                    lang_col="lang" if lang_aware else None)
                      .select("doc_id", "mean_lp_micro"), "doc_id", "left"))
            if quality_model is not None:
                # frozen discriminative gate — same contract as the
                # frozen LM/eval sides: trained once, applied
                # unchanged per batch, so streaming ≡ batch
                flags = flags.join(
                    textops.quality_classifier_score(quality_model, b)
                    .select("doc_id",
                            (F.col("quality_p") >= quality_min)
                            .alias("_q_quality")),
                    "doc_id", "left") \
                    .where(F.coalesce(F.col("_q_quality"),
                                      F.lit(False)))
            selected = flags.where(
                F.col("passes_gopher") & F.col("q_decontam")
                & (F.coalesce(F.col("mean_lp_micro"),
                              F.lit(float(min_lp - 1))) >= min_lp))
            out = os.path.join(out_path, f"round={batch_id}")
            selected.select("doc_id", "text", "lang") \
                .write.mode("overwrite").parquet(out)
            import pyarrow.dataset as ds
            selected_per_round[batch_id] = ds.dataset(out).count_rows()
        finally:
            b.unpersist()

    query = (reps.writeStream
             .outputMode("append")
             .foreachBatch(gate)
             .trigger(availableNow=True)
             .option("checkpointLocation", checkpoint)
             .start())
    query.awaitTermination()
    model.unpersist()
    eval_docs.unpersist()
    return {"rounds": len(selected_per_round),
            "selected_per_round": dict(sorted(
                selected_per_round.items()))}


def substring_casualty_spans(spark: SparkSession, shingles_path: str,
                             min_count: int = 2) -> DataFrame:
    """The ExactSubstr span relation over the INCREMENTAL shingle
    index :func:`streaming_curate` maintains under ``shingles_path``
    — ``(doc_id, s)`` duplicated k-gram starts given corpus-so-far
    counts. Feed to ``textops.apply_substring_spans(docs, spans, k)``
    at read time to cut the spans out of the curated text. Like the
    paragraph gate, verdicts only GROW (a span can become duplicated
    when its twin arrives later), which is why the rewrite is
    deferred rather than per-batch. One uniform h-key shuffle over
    slim rows; no text re-shingle."""
    sh = (spark.read
          .schema("doc_id bigint, s int, h binary")
          .parquet(shingles_path))
    counts = sh.groupBy("h").agg(F.count("*").alias("_c"))
    return (sh.join(counts, "h")
            .where(F.col("_c") >= min_count)
            .select("doc_id", "s"))


def paragraph_casualties(spark: SparkSession, paras_path: str,
                         min_count: int = 2,
                         max_dup_para: float = 0.5) -> DataFrame:
    """The paragraph-dedup gate over the INCREMENTAL index
    :func:`streaming_curate` maintains under ``paras_path``: one
    ``doc_id`` row per document whose duplicated-paragraph fraction
    — paragraphs whose corpus-so-far count ≥ ``min_count`` —
    EXCEEDS ``max_dup_para`` (Lee et al. 2022, the same rule as
    jobs/curate.py's q_para, stated as a casualty list so
    paragraph-less docs are never penalized).

    Equals textops.paragraph_dedup over the full accumulated corpus
    — the counts are the same groupBy, just over pre-parsed slim
    (doc_id, para_md5) rows instead of a text re-parse. One uniform
    para_md5 shuffle + one doc_id aggregation; no text moves.
    """
    paras = (spark.read
             .schema("doc_id bigint, para_md5 string")
             .parquet(paras_path))
    counts = paras.groupBy("para_md5") \
        .agg(F.count("*").alias("_n"))
    return (paras.join(counts, "para_md5")
            .groupBy("doc_id")
            .agg((F.sum((F.col("_n") >= min_count).cast("long"))
                  / F.count("*")).alias("_dup_frac"))
            .where(F.col("_dup_frac") > max_dup_para)
            .select("doc_id"))
