"""Extraction pipelines — DataFrame forms of the reference CLIs
(SURVEY.md §2.6).

* S1 ``mhtml-extract``: the collision-free rename of U2 done
  relationally (row_number over identical filenames) instead of
  filesystem probing; ``sources.write_part_files`` writes the files.
* S4 ``mhtml-headers``: content-type glob filter (fnmatch → SQL LIKE)
  + header/offset projection.
* S5 ``mhtml-list``: per-part listing with the is-main marker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def glob_to_like(pattern: str) -> str:
    """fnmatch glob → SQL LIKE pattern (* ? → % _), escaping % and _.

    Mirrors show_headers.py:44-46 semantics for the subset fnmatch and
    LIKE share (no character classes — those fall back to rlike).
    """
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def filter_content_type(resources: DataFrame, glob: str) -> DataFrame:
    """S4 filter: case-sensitive glob over content_type, like the
    reference's fnmatch.fnmatchcase (show_headers.py:44-46)."""
    if "[" in glob:  # character classes: translate to a regex instead
        import fnmatch
        return resources.where(
            F.col("content_type").rlike(fnmatch.translate(glob)))
    return resources.where(F.col("content_type").like(glob_to_like(glob)))


def with_unique_filenames(resources: DataFrame,
                          pre_dup_str: str = "dup_") -> DataFrame:
    """U2 as a relational op: identical output filenames within a
    page get suffixed ``base.<pre>N.ext`` for the 2nd+ occurrence,
    deterministic by part order (mhtml.py:650-673 semantics without
    filesystem probing)."""
    w = Window.partitionBy("url", "filename").orderBy("part_index")
    dup_idx = F.row_number().over(w) - 1
    has_ext = F.col("filename").rlike(r"\.[^/.]+$")
    base = F.regexp_extract("filename", r"^(.*)\.[^/.]+$", 1)
    ext = F.regexp_extract("filename", r"(\.[^/.]+)$", 1)
    renamed = F.concat(
        F.when(has_ext, base).otherwise(F.col("filename")),
        F.lit("." + pre_dup_str), dup_idx.cast("string"),
        F.when(has_ext, ext).otherwise(F.lit("")))
    return resources.withColumn(
        "out_filename",
        F.when(dup_idx == 0, F.col("filename")).otherwise(renamed))


def list_parts(resources: DataFrame) -> DataFrame:
    """S5 listing: part inventory with the main-document marker
    (Content-Location == the archive's Snapshot-Content-Location and
    part_index == 0 — the reference's extract_main rule,
    extract_main.py:26-30). Compared against the ``snapshot_location``
    column the parse kernel carries from the archive header, NOT the
    crawl url — real captures frequently disagree between the two."""
    return resources.select(
        "url", "part_index", "content_type", "content_location",
        "encoding", "offset_start", "offset_content", "offset_end",
        ((F.col("part_index") == 0) &
         (F.col("content_location") ==
          F.col("snapshot_location"))).alias("is_main"))
