"""MHTML parse / extract operators over the ``pages`` table.

The scan-side kernel (SURVEY.md §2.1 P1-P12) re-expressed as Arrow
flat-map operators:

* :func:`parse_pages` — pages → exploded ``resources`` DataFrame, one
  row per MIME part, offsets preserved as provenance so raw content is
  re-derivable in pure SQL via ``substring(html, offset_content+1, ...)``
* :func:`archive_headers` — the reference's ``only_header=True``
  projection pushdown (mhtml.py:784-785): never splits parts
* :func:`extract_main_text` — the S2 pipeline (extract_main.py:24-38):
  main-document text per url, byte-identical to reference selection
  semantics, decoded per RFC 2045 (our engine's addition)
* :func:`discovered_links` — outbound Content-Location values of
  subresource parts: the crawl loop's URL discovery source
* :func:`reassemble` — inverse of parse: archive bytes rebuilt from
  resource rows (replaces the reference's in-place buffer splicing,
  which has no DataFrame analog — SURVEY.md §2.4)

Everything is a narrow dependency (no shuffle): parse + extract of
100 TB of pages is a single map stage over parquet splits. Python cost
is bounded by Arrow batch size (session.py caps maxRecordsPerBatch).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from frontier.kernel import decode as kdecode
from frontier.kernel import mime

RESOURCES_DDL = (
    "url string, warc_ts timestamp, lang string, "
    "snapshot_location string, part_index int, "
    "headers array<struct<name:string,value:string>>, "
    "content_type string, content_location string, location string, "
    "encoding string, "
    "offset_start bigint, offset_content bigint, offset_end bigint, "
    "content binary, filename string"
)

ARCHIVE_DDL = (
    "url string, warc_ts timestamp, lang string, "
    "headers array<struct<name:string,value:string>>, "
    "content_type string, location string, boundary string, "
    "header_length bigint, n_bytes bigint"
)

MAIN_TEXT_DDL = "url string, warc_ts timestamp, lang string, text string"

MAIN_TEXT_CANON_DDL = (
    "url string, warc_ts timestamp, lang string, text string, "
    "url_canon string")

LINKS_DDL = "src_url string, url string, content_type string"


def _header_pairs(header: mime.ResourceHeader):
    return [{"name": k, "value": str(v)} for k, v in header.items()]


def parse_pages(pages: DataFrame, with_content: bool = True,
                decode: bool = False) -> DataFrame:
    """Explode pages into one row per MIME part.

    ``with_content=False`` keeps only offsets (zero-copy provenance —
    the content is re-derivable from ``html`` via substring).
    ``decode=True`` applies transfer-encoding decode to ``content``.
    """
    import pyarrow as pa

    def explode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        schema = _resources_arrow_schema()
        for batch in batches:
            cols = {name: batch.column(name).to_pylist()
                    for name in ("url", "warc_ts", "lang", "html")}
            rows = {field: [] for field in schema.names}
            for url, ts, lang, html in zip(cols["url"], cols["warc_ts"],
                                           cols["lang"], cols["html"]):
                try:
                    headers, parts = mime.parse_mhtml(html)
                except Exception:
                    # broad by design: adversarial crawled bytes can
                    # raise beyond Assertion/UnicodeDecode (IndexError
                    # on a TAB-fold at EOF, etc.) — one malformed page
                    # must never fail the task (SURVEY.md §2.8)
                    continue
                if parts is None:
                    continue
                snap_loc = headers.get("Snapshot-Content-Location")
                for idx, (phdr, start, cstart, end) in enumerate(parts):
                    raw = html[cstart:end] if cstart != -1 else b""
                    if decode:
                        raw = kdecode.decode_payload(
                            mime.strip_part_terminator(raw), phdr.encoding)
                    rows["url"].append(url)
                    rows["warc_ts"].append(ts)
                    rows["lang"].append(lang)
                    rows["snapshot_location"].append(snap_loc)
                    rows["part_index"].append(idx)
                    rows["headers"].append(_header_pairs(phdr))
                    rows["content_type"].append(phdr.content_type)
                    rows["content_location"].append(
                        phdr.get("Content-Location"))
                    rows["location"].append(phdr.location)
                    rows["encoding"].append(phdr.encoding)
                    rows["offset_start"].append(start)
                    rows["offset_content"].append(cstart)
                    rows["offset_end"].append(end)
                    rows["content"].append(raw if with_content else None)
                    rows["filename"].append(
                        mime.make_filename(phdr, default="res.bin"))
            yield pa.RecordBatch.from_arrays(
                [pa.array(rows[f], schema.field(f).type)
                 for f in schema.names], schema=schema)

    return pages.select("url", "warc_ts", "lang", "html") \
        .mapInArrow(explode, RESOURCES_DDL)


def _resources_arrow_schema():
    import pyarrow as pa
    hdr = pa.list_(pa.struct([("name", pa.string()), ("value", pa.string())]))
    return pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("lang", pa.string()), ("snapshot_location", pa.string()),
        ("part_index", pa.int32()),
        ("headers", hdr), ("content_type", pa.string()),
        ("content_location", pa.string()), ("location", pa.string()),
        ("encoding", pa.string()), ("offset_start", pa.int64()),
        ("offset_content", pa.int64()), ("offset_end", pa.int64()),
        ("content", pa.binary()), ("filename", pa.string()),
    ])


def header_get(headers_col, name: str):
    """H1 as a Spark column expression: first case-insensitive match
    from the ``headers`` array<struct<name,value>> column
    (mhtml.py:301-310). Pure Catalyst — filter + element_at."""
    matches = F.filter(
        headers_col, lambda h: F.lower(h["name"]) == name.lower())
    return F.when(F.size(matches) > 0, matches[0]["value"])


def header_get_all(headers_col, name: str):
    """H2: every case-insensitive match, in order (mhtml.py:312-328)."""
    return F.transform(
        F.filter(headers_col,
                 lambda h: F.lower(h["name"]) == name.lower()),
        lambda h: h["value"])


def archive_headers(pages: DataFrame) -> DataFrame:
    """Header-only projection: the kernel stops before part splitting,
    so the Python cost per page is O(header), not O(document)."""
    import pyarrow as pa

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("lang", pa.string()),
        ("headers", pa.list_(pa.struct([("name", pa.string()),
                                        ("value", pa.string())]))),
        ("content_type", pa.string()), ("location", pa.string()),
        ("boundary", pa.string()), ("header_length", pa.int64()),
        ("n_bytes", pa.int64()),
    ])

    def head_only(batches: Iterator[pa.RecordBatch]
                  ) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = {name: batch.column(name).to_pylist()
                    for name in ("url", "warc_ts", "lang", "html")}
            rows = {field: [] for field in schema.names}
            for url, ts, lang, html in zip(cols["url"], cols["warc_ts"],
                                           cols["lang"], cols["html"]):
                try:
                    arc = mime.parse_mhtml_struct(html, only_header=True)
                except Exception:
                    continue  # malformed page: skip, never fail the task
                rows["url"].append(url)
                rows["warc_ts"].append(ts)
                rows["lang"].append(lang)
                rows["headers"].append(_header_pairs(arc.headers))
                rows["content_type"].append(arc.content_type)
                rows["location"].append(arc.location)
                rows["boundary"].append(arc.boundary)
                rows["header_length"].append(arc._header_length)
                rows["n_bytes"].append(len(html))
            yield pa.RecordBatch.from_arrays(
                [pa.array(rows[f], schema.field(f).type)
                 for f in schema.names], schema=schema)

    return pages.select("url", "warc_ts", "lang", "html") \
        .mapInArrow(head_only, ARCHIVE_DDL)


def extract_main_text(pages: DataFrame, with_canon: bool = False,
                      default_7bit: bool = False) -> DataFrame:
    """Main-document text per page (S2 semantics, decoded).

    Selection is byte-faithful to the reference (part 0 must carry the
    archive's Snapshot-Content-Location, extract_main.py:27-33); the
    decode step is our engine's RFC 2045 implementation of the
    reference's TODO. One narrow map stage — no shuffle.

    ``with_canon=True`` fuses URL canonicalization into the same
    kernel, emitting ``url_canon`` too — saves a second Python stage
    (JVM↔Arrow round-trip) in the schedule pipeline.

    ``default_7bit=True`` treats a MISSING Content-Transfer-Encoding
    header as 7bit per RFC 2045 §6.1 (real crawled MHTML frequently
    omits it); default off for reference parity (mhtml.py:484-487
    decodes such parts to None).
    """
    import pyarrow as pa

    from frontier.kernel import urlnorm

    fields = [
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("lang", pa.string()), ("text", pa.string()),
    ]
    if with_canon:
        fields.append(("url_canon", pa.string()))
    schema = pa.schema(fields)

    def extract(batches: Iterator[pa.RecordBatch]
                ) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = {name: batch.column(name).to_pylist()
                    for name in ("url", "warc_ts", "lang", "html")}
            urls, tss, langs, texts = [], [], [], []
            canons = []
            for url, ts, lang, html in zip(cols["url"], cols["warc_ts"],
                                           cols["lang"], cols["html"]):
                text = None
                try:
                    headers, parts = mime.parse_mhtml(html)
                    if parts:
                        part = mime.select_main_part(headers, parts)
                        if part is not None:
                            phdr, _, cstart, end = part
                            raw = html[cstart:end] if cstart != -1 else b""
                            decoded = kdecode.decode_payload(
                                mime.strip_part_terminator(raw),
                                phdr.encoding, default_7bit=default_7bit)
                            if decoded is not None:
                                text = decoded.decode("utf-8",
                                                      errors="replace")
                except Exception:
                    text = None  # malformed page: null text, task survives
                urls.append(url)
                tss.append(ts)
                langs.append(lang)
                texts.append(text)
                if with_canon:
                    canons.append(urlnorm.canonicalize(url))
            arrays = [pa.array(urls, pa.string()),
                      pa.array(tss, pa.timestamp("us")),
                      pa.array(langs, pa.string()),
                      pa.array(texts, pa.string())]
            if with_canon:
                arrays.append(pa.array(canons, pa.string()))
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return pages.select("url", "warc_ts", "lang", "html") \
        .mapInArrow(extract,
                    MAIN_TEXT_CANON_DDL if with_canon else MAIN_TEXT_DDL)


PAGE_INDEX_DDL = ("url string, url_canon string, warc_ts timestamp, "
                  "text string, links array<string>, parse_error string")


def page_index_arrow(pages: DataFrame,
                     default_7bit: bool = False) -> DataFrame:
    """Fused crawl-side kernel: ONE parse per page emitting
    ``(url, url_canon, warc_ts, text, links, parse_error)``.

    Replaces the old two-pass ``extract_main_text`` + ``parse_pages``
    page-index preparation (each re-parsed every page's bytes) — the
    crawl loop's parse cost is halved, and link collection needs no
    groupBy shuffle because links are gathered per page in-kernel.

    ``parse_error`` is NULL for well-formed pages and carries the
    exception repr otherwise (SURVEY.md §2.8: malformed pages become
    null columns + counted errors, never silent drops or task
    failures). The reference warns on every malformed input
    (mhtml.py:560,749); at crawl scale the counted-error relation is
    the equivalent diagnosable signal.
    """
    import pyarrow as pa

    from frontier.kernel import urlnorm

    schema = pa.schema([
        ("url", pa.string()), ("url_canon", pa.string()),
        ("warc_ts", pa.timestamp("us")), ("text", pa.string()),
        ("links", pa.list_(pa.string())), ("parse_error", pa.string()),
    ])

    def kernel(batches: Iterator[pa.RecordBatch]
               ) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = {name: batch.column(name).to_pylist()
                    for name in ("url", "warc_ts", "html")}
            urls, canons, tss = [], [], []
            texts, links_out, errs = [], [], []
            for url, ts, html in zip(cols["url"], cols["warc_ts"],
                                     cols["html"]):
                text, links, err = None, [], None
                try:
                    headers, parts = mime.parse_mhtml(html)
                    if parts:
                        main = mime.select_main_part(headers, parts)
                        if main is not None:
                            mhdr, _, mstart, mend = main
                            raw = (html[mstart:mend]
                                   if mstart != -1 else b"")
                            dec = kdecode.decode_payload(
                                mime.strip_part_terminator(raw),
                                mhdr.encoding, default_7bit=default_7bit)
                            if dec is not None:
                                text = dec.decode("utf-8",
                                                  errors="replace")
                        for phdr, _, _, _ in parts[1:]:
                            loc = phdr.get("Content-Location")
                            if loc is not None:
                                links.append(loc)
                except Exception as exc:  # §2.8: count, never fail task
                    text, links, err = None, [], repr(exc)
                urls.append(url)
                canons.append(urlnorm.canonicalize(url))
                tss.append(ts)
                texts.append(text)
                links_out.append(links)
                errs.append(err)
            yield pa.RecordBatch.from_arrays(
                [pa.array(urls, pa.string()),
                 pa.array(canons, pa.string()),
                 pa.array(tss, pa.timestamp("us")),
                 pa.array(texts, pa.string()),
                 pa.array(links_out, pa.list_(pa.string())),
                 pa.array(errs, pa.string())],
                schema=schema)

    return pages.select("url", "warc_ts", "html") \
        .mapInArrow(kernel, PAGE_INDEX_DDL)


def discovered_links(resources: DataFrame) -> DataFrame:
    """Outbound URL discovery: subresource Content-Location values.

    Pure DataFrame ops over the exploded resources — Catalyst prunes to
    three columns and pushes the part_index filter into the scan when
    resources are materialized as parquet.
    """
    return (resources
            .where(F.col("part_index") > 0)
            .where(F.col("content_location").isNotNull())
            .select(F.col("url").alias("src_url"),
                    F.col("content_location").alias("url"),
                    "content_type"))


def reassemble(resources: DataFrame, archives: DataFrame) -> DataFrame:
    """Rebuild archive bytes from (possibly edited) resource rows.

    DataFrames are immutable, so the reference's splice-in-place
    mutation family (insert/remove/replace/move, mhtml.py:123-233)
    becomes: edit the resources relation with ordinary operators
    (filter / union / withColumn), then re-emit bytes per url.

    Grouped reassembly shuffles once on url — unavoidable since parts
    of one document must meet — but each group is one document, so
    skew is bounded by max parts-per-page, not by host popularity.
    """
    import pandas as pd

    hdr = archives.select("url",
                          F.col("headers").alias("archive_headers"),
                          "boundary")
    joined = (resources
              .select("url", "part_index", "headers", "content")
              .join(hdr, "url", "inner"))

    def rebuild(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("part_index")
        url = pdf["url"].iloc[0]
        boundary = pdf["boundary"].iloc[0]
        arc_headers = pdf["archive_headers"].iloc[0]
        out = bytearray()
        for pair in arc_headers:
            out += f"{pair['name']}: {pair['value']}\r\n".encode()
        out += b"\r\n\r\n"
        for _, row in pdf.iterrows():
            out += b"--" + boundary.encode("ascii") + b"\r\n"
            for pair in row["headers"]:
                out += f"{pair['name']}: {pair['value']}\r\n".encode()
            out += b"\r\n"
            content = row["content"]
            out += bytes(content) if content is not None else b""
        out += b"--" + boundary.encode("ascii") + b"--\r\n"
        return pd.DataFrame({"url": [url], "html": [bytes(out)]})

    return joined.groupBy("url").applyInPandas(
        rebuild, "url string, html binary")
