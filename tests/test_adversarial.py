"""Adversarial crawled-bytes robustness (SURVEY.md §2.8): one
malformed page must never kill a task, hang an executor, or be
silently indistinguishable from an empty page.

The reference itself crashes or hangs on these inputs, so handling
them changes nothing on valid-input parity (verified: the parity
suite runs the same kernels over well-formed fixtures).
"""

import pyspark.sql.functions as F
import pytest

from frontier.kernel import mime


def test_next_line_tab_fold_at_eof_no_indexerror():
    # CRLF ends exactly at EOF after a TAB continuation: previously
    # IndexError in the unfold loop (content[after] past the end)
    line, pos = mime.next_line(b"A: B\r\n\tX\r\n", 0)
    assert pos == -1
    assert line.startswith(b"A: B")


def test_next_line_trailing_crlf_tab_terminates():
    # buffer ending in CRLF+TAB with no further CRLF: previously an
    # infinite loop (find_next_linebreak returns -1, content[-1] == ?)
    line, pos = mime.next_line(b"A: B\r\n\t", 0)
    assert pos == -1


def test_parse_header_malformed_raises_not_hangs():
    with pytest.raises(Exception):
        mime.parse_header(b"A: B\r\n\tX\r\n", 0)  # no empty-line terminator


CORRUPT_PAGES = [
    b"",                       # empty
    b"\xff\xfe\x00garbage",    # binary junk
    b"A: B\r\n\tX\r\n",        # TAB fold at EOF (IndexError in kernel)
    b"A: B\r\n\t",             # unfold non-termination shape
    b"From: x\r\n\r\n\r\n",    # headers but no multipart boundary
]


@pytest.fixture(scope="module")
def corrupt_df(spark):
    rows = [(f"https://bad.example/p{i}.html", i * 1_000_000, blob)
            for i, blob in enumerate(CORRUPT_PAGES)]
    df = spark.createDataFrame(rows, "url string, ts bigint, html binary")
    return df.select("url", F.timestamp_micros("ts").alias("warc_ts"),
                     F.lit("en").alias("lang"), "html")


def test_parse_pages_survives_corrupt_pages(corrupt_df):
    from frontier.spark import parse
    # must not raise; corrupt pages are skipped (resources empty)
    assert parse.parse_pages(corrupt_df).count() == 0
    # header-only projection: pages whose header block raises are
    # skipped; the empty page and the headers-no-boundary page parse
    # to (empty) header structs and are legitimately emitted
    assert parse.archive_headers(corrupt_df).count() == 2


def test_extract_main_text_nulls_corrupt_pages(corrupt_df):
    from frontier.spark import parse
    rows = parse.extract_main_text(corrupt_df).collect()
    assert len(rows) == len(CORRUPT_PAGES)  # one row per page, kept
    assert all(r.text is None for r in rows)


def test_page_index_counts_parse_errors(spark, corrupt_df):
    """§2.8 contract: malformed pages become counted errors, not
    silent drops — the crawl metrics sink aggregates parse_error."""
    from frontier import synth
    from frontier.spark import parse

    good = synth.pages_from_documents(spark, "/root/testdata/sf0.001") \
        .limit(5)
    mixed = good.select("url", "warc_ts", "html") \
        .unionByName(corrupt_df.select("url", "warc_ts", "html"))
    idx = parse.page_index_arrow(mixed)
    rows = idx.collect()
    assert len(rows) == 5 + len(CORRUPT_PAGES)
    n_err = sum(1 for r in rows if r.parse_error is not None)
    # the empty page and junk pages that raise inside parse_mhtml are
    # counted; pages that parse to no parts have parse_error NULL but
    # text NULL (distinguishable: no exception, just no main part)
    assert n_err >= 1
    for r in rows:
        if r.parse_error is not None:
            assert r.text is None and list(r.links) == []


def test_parse_errors_sink(spark, corrupt_df, tmp_path):
    """The error relation is committed with per-partition (per-file)
    row counts in the manifest — malformed pages are counted in the
    metrics sink, never silently dropped (SURVEY.md §2.8)."""
    from frontier import synth
    from frontier.spark import crawl, parse
    from frontier.spark.snapshots import SnapshotStore

    good = synth.pages_from_documents(spark, "/root/testdata/sf0.001") \
        .limit(5)
    mixed = good.select("url", "warc_ts", "html") \
        .unionByName(corrupt_df.select("url", "warc_ts", "html"))
    idx = parse.page_index_arrow(mixed)
    store = SnapshotStore(str(tmp_path / "state"))
    n_errors = crawl.commit_parse_errors(store, idx)
    assert n_errors >= 1
    sidecar = SnapshotStore(str(tmp_path / "state" / "parse_errors"))
    man = sidecar.manifest()
    lin = man["lineage"]["parse_errors"]
    assert sum(lin["file_rows"].values()) == n_errors  # per-partition
    rows = sidecar.read(spark, "parse_errors").collect()
    assert all(r.parse_error for r in rows)
    assert len(rows) == n_errors


def test_location_empty_snapshot_falls_back():
    hdr = mime.ResourceHeader()
    hdr["Snapshot-Content-Location"] = ""
    hdr["Content-Location"] = "https://real.example/x"
    assert hdr.location == "https://real.example/x"  # truthiness rule


def test_get_all_returns_caller_default():
    hdr = mime.ResourceHeader()
    hdr["A"] = "1"
    assert hdr.get_all("missing") == []
    assert hdr.get_all("missing", ["fallback"]) == ["fallback"]
    assert hdr.get_all(None, ["d"]) == ["d"]
    assert hdr.get_all("A", ["d"]) == ["1"]


def test_is_main_uses_snapshot_location_not_url(spark):
    """A capture whose crawl url differs from the archive's
    Snapshot-Content-Location must still mark the main part
    (reference rule: extract_main.py:26-30 compares the header)."""
    from frontier.spark import extract, parse

    snap = "https://original.example/page.html"
    boundary = "b"
    html = (
        b"From: <x>\r\n"
        + f"Snapshot-Content-Location: {snap}\r\n".encode()
        + f'Content-Type: multipart/related;\r\n\tboundary="{boundary}"\r\n'
        .encode()
        + b"\r\n\r\n"
        + b"--b\r\nContent-Type: text/html\r\n"
        + b"Content-Transfer-Encoding: binary\r\n"
        + f"Content-Location: {snap}\r\n\r\nhello\r\n".encode()
        + b"--b--\r\n")
    df = spark.createDataFrame(
        [("https://mirror.example/copy.html", 0, "en", html)],
        "url string, ts bigint, lang string, html binary") \
        .select("url", F.timestamp_micros("ts").alias("warc_ts"),
                "lang", "html")
    res = parse.parse_pages(df)
    listing = extract.list_parts(res).collect()
    assert len(listing) == 1
    assert listing[0].is_main  # url != snapshot_location, still main


def test_parse_mhtml_fuzz_no_hang():
    """parse_mhtml on arbitrary bytes: parses or raises, never hangs,
    never returns out-of-range offsets (locks in the bounded
    TAB-unfold fix at the kernel surface)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=500))
    def run(blob):
        try:
            headers, parts = mime.parse_mhtml(blob)
        except Exception:
            return  # the Spark kernels catch per page
        for phdr, start, cstart, end in parts or []:
            assert 0 <= start <= len(blob)
            assert cstart == -1 or start <= cstart <= len(blob)
            assert end <= len(blob)

    run()


def test_parse_mhtml_fuzz_crlf_structured():
    """Structured fuzz: CRLF-joined header-ish lines with TABs and
    boundary markers — the shapes that previously hung or crashed."""
    from hypothesis import given, settings, strategies as st

    token = st.sampled_from(
        [b"A: B", b"\t", b"--b", b"--b--", b"", b"Content-Type: "
         b'multipart/related; boundary="b"', b"\tX", b"junk"])

    @settings(max_examples=300, deadline=None)
    @given(st.lists(token, max_size=12))
    def run(lines):
        blob = b"\r\n".join(lines)
        try:
            mime.parse_mhtml(blob)
        except Exception:
            pass

    run()


def test_terminator_with_trailing_junk_terminates():
    """Terminator boundary NOT at EOF (trailing junk after --b--):
    the reference loops forever appending parts (mhtml.py:682-686,
    verified) — we must terminate, keeping the parts before the
    terminator. Found by fuzzing (runaway 33 GB pytest process)."""
    doc = (
        b"From: <x>\r\n"
        b"Snapshot-Content-Location: https://h/p\r\n"
        b'Content-Type: multipart/related;\r\n\tboundary="b"\r\n'
        b"\r\n\r\n"
        b"--b\r\nContent-Type: text/html\r\n"
        b"Content-Location: https://h/p\r\n\r\nhello\r\n"
        b"--b--\r\n"
        b"TRAILING JUNK AFTER TERMINATOR")
    headers, parts = mime.parse_mhtml(doc)
    assert len(parts) == 1
    phdr, start, cstart, end = parts[0]
    assert doc[cstart:end].startswith(b"hello")


def test_default_driver_heap_fits_host(monkeypatch):
    """The default driver heap is half the host's memory, capped at
    48g: a fixed 48g let the one local JVM outgrow a 16 GB host."""
    import os

    from frontier.spark import session

    def host(gib):
        pages = {"SC_PHYS_PAGES": gib << 18, "SC_PAGE_SIZE": 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        return session.default_driver_mem()

    assert host(16) == "8192m"
    assert host(1024) == "49152m"
