"""Spark parse/extract operators vs kernel + oracle column."""

import pyspark.sql.functions as F
import pytest

from frontier import synth
from frontier.spark import parse


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    df = synth.pages_from_documents(spark, sf_dir).cache()
    df.count()
    return df


def test_pages_deterministic(spark, sf_dir, pages):
    again = synth.pages_from_documents(spark, sf_dir)
    a = pages.select(F.sha2(F.col("html"), 256).alias("h")).agg(
        F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)"))
    ).first()[0]
    b = again.select(F.sha2(F.col("html"), 256).alias("h")).agg(
        F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)"))
    ).first()[0]
    assert a == b


def test_extract_deterministic_across_parallelism(pages):
    """SURVEY §5.3 #4: byte-identical text column at any partitioning."""
    def digest(df):
        return (parse.extract_main_text(df)
                .where(F.col("text").isNotNull())
                .select(F.sha2(F.concat_ws("|", "url", "text"), 256)
                        .alias("h"))
                .agg(F.count("*").alias("n"),
                     F.sum(F.conv(F.substring("h", 1, 12), 16, 10)
                           .cast("decimal(38,0)")).alias("s"))
                .first())
    one = digest(pages.repartition(1))
    many = digest(pages.repartition(8))
    assert (one.n, one.s) == (many.n, many.s)


def test_extract_main_text_matches_oracle_column(pages):
    mt = parse.extract_main_text(pages)
    joined = mt.alias("m").join(
        pages.select("url", F.col("text").alias("expected")), "url")
    mismatches = joined.where(
        ~((F.col("text") == F.col("expected")) |
          (F.col("text").isNull() & F.col("expected").isNull()))).count()
    assert mismatches == 0
    # displaced pages (doc_id % 19 == 0) yield NULL text
    assert mt.where(F.col("text").isNull()).count() > 0


def test_extract_matches_kernel_direct(pages):
    """Spark path == kernel-direct path for every row (byte parity)."""
    from frontier.kernel import mime, decode as kdecode

    rows = pages.select("url", "html").limit(50).collect()
    spark_rows = dict(
        parse.extract_main_text(pages).select("url", "text").limit(1000)
        .collect())
    for row in rows:
        headers, parts = mime.parse_mhtml(bytes(row.html))
        part = mime.select_main_part(headers, parts)
        expected = None
        if part is not None:
            phdr, _, cstart, end = part
            raw = bytes(row.html)[cstart:end]
            dec = kdecode.decode_payload(
                mime.strip_part_terminator(raw), phdr.encoding)
            expected = dec.decode("utf-8", errors="replace") \
                if dec is not None else None
        assert spark_rows.get(row.url) == expected


def test_parse_pages_offsets_are_provenance(pages, spark):
    """content must equal substring(html, offset_content+1, len) —
    the zero-copy re-derivation contract (SURVEY.md §1.4)."""
    res = parse.parse_pages(pages).where(F.col("offset_content") >= 0)
    joined = res.join(pages.select("url", "html"), "url")
    rederived = joined.withColumn(
        "content2",
        F.expr("substring(html, offset_content + 1, "
               "offset_end - offset_content)"))
    bad = rederived.where(F.col("content") != F.col("content2")).count()
    assert bad == 0


def main_text_sql(resources):
    """Pure-SQL restatement of the S2 selection over exploded
    resources (raw bytes, no decode): part 0, content_location ==
    archive snapshot location."""
    return (resources
            .where((F.col("part_index") == 0) &
                   (F.col("content_location") ==
                    F.col("snapshot_location")))
            .select("url", "warc_ts", "lang", "content"))


def test_main_text_sql_crosscheck(pages):
    """Pure-SQL S2 selection over exploded resources == kernel path
    (on raw bytes)."""
    res = parse.parse_pages(pages)
    sql_main = main_text_sql(res).select("url", "content")
    kernel_main = parse.extract_main_text(pages) \
        .where(F.col("text").isNotNull()).select("url")
    assert sql_main.count() == kernel_main.count()
    assert sql_main.join(kernel_main, "url", "left_anti").count() == 0


def test_archive_headers_projection(pages):
    arc = parse.archive_headers(pages)
    row = arc.first()
    assert row.boundary == synth.BOUNDARY
    assert row.location == row.url
    assert arc.count() == pages.count()


def test_discovered_links_point_to_real_pages(pages):
    res = parse.parse_pages(pages, with_content=False)
    links = parse.discovered_links(res)
    known = pages.select(F.col("url").alias("target"))
    resolved = links.join(known, links.url == known.target, "left_semi")
    # most links target generated pages (decoy/self links excluded)
    assert resolved.count() > 0.5 * links.count()


def test_resources_parquet_pushdown(spark, sf_dir, tmp_path):
    """When resources are materialized as parquet, Catalyst pushes the
    discovered-links filters into the scan (PushedFilters) and prunes
    to the three projected columns (ReadSchema) — the properties the
    100 TB plan depends on."""
    from frontier.spark import parse

    pages = synth.pages_from_documents(spark, sf_dir).limit(50)
    path = str(tmp_path / "resources")
    parse.parse_pages(pages, with_content=False) \
        .write.mode("overwrite").parquet(path)
    res = spark.read.parquet(path)
    links = parse.discovered_links(res)
    plan = links._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "PushedFilters: [" in scan
    assert "GreaterThan(part_index,0)" in scan
    assert "IsNotNull(content_location)" in scan
    # column pruning: exactly the three projected columns are read —
    # never the wide headers array or payload offsets
    read_schema = scan.split("ReadSchema:")[1]
    fields = {f.split(":")[0] for f in
              read_schema.split("<")[1].rstrip(">, ").split(",")}
    # part_index rides along: parquet pushed filters are advisory and
    # re-evaluated after the scan, so the filter column is read too
    assert fields == {"url", "content_location", "content_type",
                      "part_index"}, fields
