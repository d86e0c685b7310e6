"""Streaming curation (availableNow triggers) vs the batch curate
pipeline."""

import pyspark.sql.functions as F

from frontier.spark import streaming


def _write_doc_file(docs_pdf, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string())])
    pq.write_table(pa.Table.from_pandas(docs_pdf, schema=schema,
                                        preserve_index=False), path)


def test_streaming_curate_equals_batch(spark, sf_dir, tmp_path_factory):
    """streaming_curate over an incrementally-arriving corpus selects
    EXACTLY the batch pipeline's docs: exact-dedup reps (min doc_id —
    duplicates injected across files) gated by gopher + frozen-eval
    decontam + frozen-LM floor. Two invocations: the second curates
    only the new arrivals (checkpointed seen-state carries over)."""
    from frontier.spark import textops

    docs_dir = str(tmp_path_factory.mktemp("curate_docs"))
    out = str(tmp_path_factory.mktemp("curate_out"))
    ckpt = str(tmp_path_factory.mktemp("curate_ckpt"))

    base = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text", "lang"))
    # duplicates: every 7th doc re-arrives later under a higher id
    dups = (base.where(F.col("doc_id") % 7 == 0)
            .select((F.col("doc_id") + 100000).alias("doc_id"),
                    "text", "lang"))
    all_docs = base.unionByName(dups)
    pdf = all_docs.orderBy("doc_id").toPandas()
    third = len(pdf) // 3

    # frozen sides, shared verbatim by both paths
    model = textops.unigram_model(base).persist()
    eval_docs = base.where(F.col("doc_id") % 97 == 0).persist()
    min_lp = -3_405_000

    # batch reference: dedup reps + per-doc gates, absent -> drop
    reps = textops.exact_dedup(all_docs).select("doc_id", "text", "lang")
    flags = (reps
             .join(textops.gopher_quality(reps)
                   .select("doc_id", "passes_gopher"), "doc_id")
             .join(textops.decontam_overlap(reps, eval_docs)
                   .select("doc_id",
                           (F.col("n_overlap") == 0).alias("q_d")),
                   "doc_id")
             .join(textops.unigram_logprob(reps, model=model)
                   .select("doc_id", "mean_lp_micro"), "doc_id", "left"))
    expect = {r.doc_id for r in flags.where(
        F.col("passes_gopher") & F.col("q_d")
        & (F.coalesce(F.col("mean_lp_micro"),
                      F.lit(float(min_lp - 1))) >= min_lp)).collect()}
    assert expect, "gates must keep something for the test to mean much"
    dup_ids = {r.doc_id for r in dups.select("doc_id").collect()}
    assert not expect & dup_ids  # min-id reps only

    # invocation 1: first two thirds, one file per trigger
    _write_doc_file(pdf.iloc[:third], f"{docs_dir}/file_000.parquet")
    _write_doc_file(pdf.iloc[third:2 * third],
                    f"{docs_dir}/file_001.parquet")
    r1 = streaming.streaming_curate(
        spark, docs_dir, out, ckpt, model=model, eval_docs=eval_docs,
        min_lp=min_lp, max_files_per_trigger=1)
    assert r1["rounds"] == 2

    # invocation 2: the rest arrives; only IT is curated
    _write_doc_file(pdf.iloc[2 * third:], f"{docs_dir}/file_002.parquet")
    r2 = streaming.streaming_curate(
        spark, docs_dir, out, ckpt, model=model, eval_docs=eval_docs,
        min_lp=min_lp, max_files_per_trigger=1)
    assert list(r2["selected_per_round"]) == [2]

    got = spark.read.parquet(out)
    got_ids = {r.doc_id for r in got.select("doc_id").collect()}
    assert got_ids == expect
    # each survivor emitted exactly once across all rounds
    assert got.count() == len(expect)
    # round-2 output is exclusively late arrivals
    late_ids = set(pdf.iloc[2 * third:]["doc_id"])
    r2_ids = {r.doc_id for r in
              got.where(F.col("round") == 2).collect()}
    assert r2_ids <= late_ids
    model.unpersist()
    eval_docs.unpersist()


def test_streaming_curate_paragraph_gate_equals_batch(
        spark, sf_dir, tmp_path_factory):
    """r6: with paras_path the curate loop maintains the paragraph-
    hash index incrementally across TWO invocations of a split
    corpus; the final selection — streamed survivors anti-joined
    against paragraph_casualties over the accumulated index — must
    equal the batch pipeline (same gates + the q_para rule over the
    full corpus). Casualties must include docs whose verdict only
    became 'drop' after LATER arrivals duplicated their paragraphs —
    the case a per-batch gate cannot decide."""
    from frontier.spark import textops

    docs_dir = str(tmp_path_factory.mktemp("pcurate_docs"))
    out = str(tmp_path_factory.mktemp("pcurate_out"))
    ckpt = str(tmp_path_factory.mktemp("pcurate_ckpt"))
    paras = str(tmp_path_factory.mktemp("pcurate_paras"))
    max_dup = 0.5

    base = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text", "lang"))
    # boilerplate injection: 20 docs gain a shared footer (2 of
    # their 3 paragraphs duplicated), chosen to STRADDLE the
    # invocation split — exactly ONE arrives in invocation 1 (its
    # footer paragraphs are still unique then → kept), the rest in
    # invocation 2 (whose arrival flips the early doc's verdict —
    # the decision a per-batch gate cannot make). Footered ids avoid
    # the %97 eval slice so the footer trips ONLY the paragraph
    # gate, not decontamination.
    base_ids = sorted(r.doc_id for r in base.select("doc_id").collect())
    half = len(base_ids) // 2
    footer_ids = [i for i in base_ids[half - 1:]
                  if i % 97 != 0][:20]
    assert len(footer_ids) == 20 and footer_ids[0] == base_ids[half - 1]
    footer = ("\n\nall rights reserved footer"
              "\n\nterms of service apply")
    docs = base.withColumn(
        "text", F.when(F.col("doc_id").isin(footer_ids),
                       F.concat_ws("", F.col("text"), F.lit(footer)))
        .otherwise(F.col("text")))
    pdf = docs.orderBy("doc_id").toPandas()
    assert int((pdf.iloc[:half]["doc_id"]).isin(footer_ids).sum()) == 1

    model = textops.unigram_model(docs).persist()
    eval_docs = docs.where(F.col("doc_id") % 97 == 0).persist()
    min_lp = -10_000_000  # permissive: the para gate is under test

    # batch reference over the full corpus: the streaming gates plus
    # the paragraph rule (dup fraction > max_dup drops, computed by
    # textops.paragraph_dedup — the casualty-list semantic)
    flags = (docs
             .join(textops.gopher_quality(docs)
                   .select("doc_id", "passes_gopher"), "doc_id")
             .join(textops.decontam_overlap(docs, eval_docs)
                   .select("doc_id",
                           (F.col("n_overlap") == 0).alias("q_d")),
                   "doc_id")
             .join(textops.unigram_logprob(docs, model=model)
                   .select("doc_id", "mean_lp_micro"), "doc_id", "left")
             .join(textops.paragraph_dedup(docs)
                   .groupBy("doc_id")
                   .agg((F.sum(F.col("is_dup").cast("long"))
                         / F.count("*") > max_dup).alias("_pd")),
                   "doc_id", "left"))
    expect = {r.doc_id for r in flags.where(
        F.col("passes_gopher") & F.col("q_d")
        & (F.coalesce(F.col("mean_lp_micro"),
                      F.lit(float(min_lp - 1))) >= min_lp)
        & ~F.coalesce(F.col("_pd"), F.lit(False))).collect()}
    # the footer must actually bite: some doc passing every other
    # gate is dropped by the paragraph rule
    dropped_by_para = {r.doc_id for r in flags.where(
        F.col("passes_gopher") & F.col("q_d")
        & (F.coalesce(F.col("mean_lp_micro"),
                      F.lit(float(min_lp - 1))) >= min_lp)
        & F.coalesce(F.col("_pd"), F.lit(False))).collect()}
    assert dropped_by_para, "test corpus must exercise the gate"

    _write_doc_file(pdf.iloc[:half], f"{docs_dir}/file_000.parquet")
    streaming.streaming_curate(
        spark, docs_dir, out, ckpt, model=model, eval_docs=eval_docs,
        min_lp=min_lp, paras_path=paras)
    early_casualties = {r.doc_id for r in streaming
                        .paragraph_casualties(spark, paras,
                                              max_dup_para=max_dup)
                        .collect()}
    _write_doc_file(pdf.iloc[half:], f"{docs_dir}/file_001.parquet")
    streaming.streaming_curate(
        spark, docs_dir, out, ckpt, model=model, eval_docs=eval_docs,
        min_lp=min_lp, paras_path=paras)

    casualties = streaming.paragraph_casualties(
        spark, paras, max_dup_para=max_dup)
    final = {r.doc_id for r in
             spark.read.parquet(out)
             .join(casualties, "doc_id", "left_anti").collect()}
    assert final == expect and len(final) > 0
    # the late arrivals flipped the early footered doc's verdict
    flipped = {r.doc_id for r in casualties.collect()} \
        - early_casualties
    assert footer_ids[0] in flipped
    model.unpersist()
    eval_docs.unpersist()


def test_streaming_curate_shingle_index_equals_batch(
        spark, sf_dir, tmp_path_factory):
    """r6: the ExactSubstr tier over the INCREMENTAL shingle index —
    two invocations of a split corpus maintain the k-gram index; the
    read-time rewrite (substring_casualty_spans +
    apply_substring_spans) must equal batch substring_dedup over the
    full deduped corpus, and a span whose duplicate arrives LATE
    must appear in the final span set but not the early one."""
    from frontier.spark import textops

    docs_dir = str(tmp_path_factory.mktemp("scur_docs"))
    out = str(tmp_path_factory.mktemp("scur_out"))
    ckpt = str(tmp_path_factory.mktemp("scur_ckpt"))
    shingles = str(tmp_path_factory.mktemp("scur_shingles"))
    k = 8

    base = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text", "lang"))
    base_ids = sorted(r.doc_id for r in base.select("doc_id").collect())
    half = len(base_ids) // 2
    early_id, late_id = base_ids[0], base_ids[-1]
    tail = " " + " ".join(f"t{i}" for i in range(10))
    docs = base.withColumn(
        "text", F.when(F.col("doc_id").isin([early_id, late_id]),
                       F.concat_ws("", F.col("text"), F.lit(tail)))
        .otherwise(F.col("text")))
    pdf = docs.orderBy("doc_id").toPandas()

    model = textops.unigram_model(docs).persist()
    eval_docs = docs.where(F.col("doc_id") % 97 == 0).persist()

    _write_doc_file(pdf.iloc[:half], f"{docs_dir}/file_000.parquet")
    streaming.streaming_curate(
        spark, docs_dir, out, ckpt, model=model, eval_docs=eval_docs,
        min_lp=-99_000_000, shingles_path=shingles, substr_k=k)
    early_spans = {(r.doc_id, r.s) for r in
                   streaming.substring_casualty_spans(spark, shingles)
                   .collect()}
    _write_doc_file(pdf.iloc[half:], f"{docs_dir}/file_001.parquet")
    streaming.streaming_curate(
        spark, docs_dir, out, ckpt, model=model, eval_docs=eval_docs,
        min_lp=-99_000_000, shingles_path=shingles, substr_k=k)
    spans = streaming.substring_casualty_spans(spark, shingles)
    final_spans = {(r.doc_id, r.s) for r in spans.collect()}

    # the shared TAIL's spans only exist once its twin arrived (the
    # corpus has natural duplicated 8-grams too, so assert on the
    # tail tokens specifically: present under the early span set,
    # cut under the final one)
    assert {s for d, s in early_spans if d == early_id} \
        < {s for d, s in final_spans if d == early_id}
    assert any(d == late_id for d, _ in final_spans)
    early_df = spark.createDataFrame(
        sorted(early_spans) or [(None, None)], "doc_id long, s int") \
        .where(F.col("doc_id").isNotNull())
    one = docs.where(F.col("doc_id") == early_id)
    before = textops.apply_substring_spans(one, early_df, k=k) \
        .collect()[0]
    after = textops.apply_substring_spans(
        one, spans, k=k).collect()[0]
    assert " t0 " in f" {before.clean_text} "
    assert " t0 " not in f" {after.clean_text} "

    # read-time rewrite equals batch ExactSubstr over the deduped
    # full corpus, restricted to the streamed survivors
    out_docs = spark.read.parquet(out).select("doc_id", "text")
    got = {r.doc_id: (r.n_removed, r.clean_text) for r in
           textops.apply_substring_spans(out_docs, spans, k=k)
           .collect()}
    reps = textops.exact_dedup(docs).select("doc_id", "text")
    want_all = {r.doc_id: (r.n_removed, r.clean_text) for r in
                textops.substring_dedup(reps, k=k).collect()}
    assert got and set(got) <= set(want_all)
    for d, v in got.items():
        assert v == want_all[d], d
    model.unpersist()
    eval_docs.unpersist()
