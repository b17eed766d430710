"""End-to-end Spark pipeline: byte identity, determinism, chunk ids."""

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    from ragflow_spark.corpus.gen import build_pages

    df = build_pages(spark, SF).cache()
    df.count()
    return df


def test_pages_schema_matches_input_hint(pages):
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    kinds = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert kinds["html"] == "binary"
    assert kinds["warc_ts"] == "timestamp"


def test_extraction_byte_identical_per_url(spark, pages):
    from ragflow_spark.corpus.gen import expected_extracted
    from ragflow_spark.job.extract import extract_pages

    got = extract_pages(pages).select("url", "extracted_text")
    exp = expected_extracted(spark, SF).select(
        "url", F.col("extracted_text").alias("expected")
    )
    joined = got.join(exp, "url", "full_outer")
    bad = joined.filter(
        (F.col("extracted_text") != F.col("expected"))
        | F.col("extracted_text").isNull() | F.col("expected").isNull()
    )
    assert bad.count() == 0


def test_extraction_deterministic_across_partitionings(spark, pages):
    from ragflow_spark.job.extract import extract_pages

    a = extract_pages(pages.repartition(2)).orderBy("url").collect()
    b = extract_pages(pages.repartition(16)).orderBy("url").collect()
    assert [r.extracted_text for r in a] == [r.extracted_text for r in b]


def test_chunk_concat_equals_section_concat(spark, pages):
    """naive chunks concatenated == non-empty sections concatenated."""
    from ragflow_spark.job.extract import chunk_pages, extract_pages

    chunks = (
        chunk_pages(pages, "naive")
        .groupBy("url")
        .agg(F.concat_ws("", F.sort_array(
            F.collect_list(F.struct("chunk_seq", "chunk_text"))
        ).getField("chunk_text")).alias("joined"))
    )
    sections = extract_pages(pages).select(
        "url",
        F.concat_ws(
            "", F.filter(F.split("extracted_text", "\n"),
                         lambda s: s != "")
        ).alias("expected"),
    )
    bad = chunks.join(sections, "url").filter(
        F.col("joined") != F.col("expected")
    )
    assert bad.count() == 0


def test_chunk_ids_content_addressed(spark, pages):
    from ragflow_spark.extractlib.xxh64 import chunk_id
    from ragflow_spark.job.extract import chunk_pages

    rows = chunk_pages(pages, "naive").limit(20).collect()
    assert rows
    for r in rows:
        assert r.chunk_id == chunk_id(r.chunk_text, r.url)


def test_book_template_modes(spark, pages):
    from ragflow_spark.job.extract import chunk_pages

    modes = dict(
        chunk_pages(pages, "book").groupBy("merge_mode").count().collect()
    )
    # family-4 docs (Section headings) take the hierarchical path
    assert modes.get("hierarchical", 0) > 0
    assert modes.get("naive", 0) > 0


def test_paper_template_html_only_pages_yield_no_chunks(pages):
    # paper chunks PDFs only: a batch of HTML pages yields an empty
    # frame, which must still convert to the chunk schema
    from ragflow_spark.job.extract import chunk_pages

    assert chunk_pages(pages, "paper").count() == 0


def test_host_skew_present(pages):
    hosts = (
        pages.groupBy(F.regexp_extract("url", r"https://([^/]+)/", 1)
                      .alias("host"))
        .count().orderBy(F.desc("count")).limit(1).collect()
    )
    total = pages.count()
    # host0 carries ~20% of rows by construction — skew to salt
    assert hosts[0]["count"] / total > 0.15


def test_chunk_spans_contiguous(spark, pages):
    from pyspark.sql import functions as F

    from ragflow_spark.job.extract import chunk_pages

    chunks = chunk_pages(pages, "naive")
    rows = chunks.select("url", "chunk_seq", "chunk_text", "span_start",
                         "span_end").collect()
    per = {}
    for r in rows:
        per.setdefault(r.url, []).append(r)
    for url, rs in per.items():
        rs.sort(key=lambda r: r.chunk_seq)
        offset = 0
        for r in rs:
            assert r.span_start == offset
            assert r.span_end == offset + len(r.chunk_text)
            offset = r.span_end
