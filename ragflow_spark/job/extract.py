"""Vectorized extraction operators: pages -> extracted / chunks.

The whole §2 operator chain (codec -> DOM -> readability -> html-text ->
template merge) runs *inside* Arrow-batched ``mapInPandas`` UDFs — one
Python invocation per batch of rows, no per-row Python UDFs, no driver-side
loops (BASELINE.json input_hint). A document is the atomicity unit, exactly
as in the reference where one task owns one page range
(rag/svr/task_executor.py:217-246): every pass is a per-document function
run by the one document-map loop, ``_map_documents``. The same loop, as
``map_documents(df, doc_fn, schema)``, serves the per-document operators
(ragflow_spark/operators) and registered queries (__spark_entry__.py), so a
per-document concern added to it covers every parser.

Physical plan shape (SURVEY.md §4.2):

    Scan parquet/iceberg (url, html[, lang])   <- column pruning: only the
      -> [optional salted Repartition]            columns the UDF declares
      -> MapInPandas(_extract_batches)         <- the one Python pass: parse
           (url, html, template literal)          and chunk each document
      -> persist                               <- run_job: one frame per wave
           -> drop chunks              -> extracted/
           -> select url, inline(chunks), chunk_id -> chunks/ (no second pass)
           -> groupBy bucket agg       -> lineage metrics (one collect)

The extraction is embarrassingly parallel: no shuffle is required at all
unless the caller wants host-salted balancing (job/salting.py) — at 100 TB
the scan partitioning (Iceberg split planning) is already the right unit,
and AQE coalesces small post-shuffle partitions when a repartition is used.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ragflow_spark.extractlib.xxh64 import chunk_id_col

EXTRACTED_SCHEMA = ("url string, title string, extracted_text string, "
                    "n_sections int, parser string")

# One chunk row of a document; after the inline, ``chunk_id`` is added
# and ``merge_mode`` dropped unless the template is book. Struct fields
# are joined without spaces so that the top-level schema still splits on ", ".
CHUNK_FIELDS = ("chunk_seq:int,chunk_text:string,"
                "span_start:long,span_end:long,page_nums:array<int>,"
                "merge_mode:string")

# The single pass: the extracted row plus the document's chunk rows
# (empty when no template is given).
DOCUMENT_SCHEMA = EXTRACTED_SCHEMA + f", chunks array<struct<{CHUNK_FIELDS}>>"

TABLES_SCHEMA = "url string, kind string, seq int, content string"

OFFICE_SCHEMA = "url string, seq int, kind string, text string"

TEMPLATES = ("naive", "book", "one", "paper", "laws")


def _map_documents(frames: Iterator[pd.DataFrame], doc_fn: Callable,
                   schema: str) -> Iterator[pd.DataFrame]:
    """The document-map loop of every pass: ``doc_fn(*row)`` returns the
    output rows (tuples in ``schema`` order) of one input row, and each
    Arrow batch comes back as one frame."""
    columns = [field.split()[0] for field in schema.split(", ")]
    for pdf in frames:
        rows = []
        for doc in zip(*(pdf[c] for c in pdf.columns)):
            rows.extend(doc_fn(*doc))
        yield pd.DataFrame.from_records(rows, columns=columns)


def map_documents(df: DataFrame, doc_fn: Callable, schema: str) -> DataFrame:
    """``df`` -> ``schema`` rows: ``doc_fn`` gets one row's columns in
    ``df``'s order and returns its output rows; the UDF of every
    per-document pass, operator and registered query."""
    def batches(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _map_documents(frames, doc_fn, schema)
    return df.mapInPandas(batches, schema=schema)


def _extract_document(url: str, blob: bytes, template: str | None
                      ) -> list[tuple]:
    """The extracted row of one document from one parse, with its chunk
    rows for ``template`` (none without a template)."""
    # imports inside the worker so the UDF pickles by reference cleanly
    from ragflow_spark.extractlib.codec import decode_blob
    from ragflow_spark.extractlib.htmlparse import parse_html_text
    from ragflow_spark.extractlib.templates import extract_pdf_text

    # content sniffing replaces the reference's filename-regex dispatch
    # (rag/app/naive.py:335-464) — a CC-style table has no filenames,
    # only bytes
    if blob.startswith(b"%PDF-"):
        title, text, n, sections = extract_pdf_text(blob)
        parser = "pdf"
    else:
        title, content = parse_html_text(decode_blob(blob))
        text = f"{title}\n{content}"
        n = len([s for s in text.split("\n") if s])
        # HTML sections are the lines of extracted_text
        parser, sections = "html", None
    chunks = (_chunk_rows(template, url, parser, text, sections)
              if template else [])
    return [(url, title, text, n, parser, chunks)]


def _extract_batches(frames: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
    return _map_documents(frames, _extract_document, DOCUMENT_SCHEMA)


def extract_documents(pages: DataFrame,
                      template: str | None = None) -> DataFrame:
    """pages(url, html, ...) -> one ``DOCUMENT_SCHEMA`` row per document,
    parsed and chunked in one pass. The template travels as a literal
    column, so the UDF is the module-level ``_extract_batches`` itself."""
    return pages.select(
        "url", "html", F.lit(template).cast("string").alias("template")
    ).mapInPandas(_extract_batches, schema=DOCUMENT_SCHEMA)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (url, title, extracted_text, n_sections,
    parser). The byte-identity invariant binds extracted_text per url."""
    return extract_documents(pages).drop("chunks")


def _table_rows(html: bool, url: str, blob: bytes) -> list[tuple]:
    from ragflow_spark.extractlib.pdftables import pdf_to_sections_tables

    if not blob.startswith(b"%PDF-"):
        return []
    _secs, tables, figures = pdf_to_sections_tables(blob, return_html=html)
    if html:
        rows = [(url, "table_html", ti, tbl) for ti, tbl in enumerate(tables)]
    else:
        rows = [(url, "table", ri, row)
                for tbl in tables for ri, row in enumerate(tbl)]
    return rows + [(url, "figure", fi, txt) for fi, txt in enumerate(figures)]


def extract_pdf_tables(pages: DataFrame, html: bool = False) -> DataFrame:
    """pages -> popped-out table/figure content rows: desc-row strings
    per table row (reference _render_desc) or one HTML string per table
    (``html=True``), plus caption+text per figure.  Same map-only plan
    shape as extract_pages — the whole table grid lives inside one
    document, so no shuffle ever carries cell boxes."""
    return map_documents(pages.select("url", "html"),
                         partial(_table_rows, html), TABLES_SCHEMA)


def _office_rows(url: str, blob: bytes) -> list[tuple]:
    from ragflow_spark.extractlib.officegen import sniff_office

    kind = sniff_office(blob)
    if kind == "docx":
        from ragflow_spark.extractlib.docxparse import docx_sections
        texts, lines = docx_sections(blob)
        return ([(url, i, "para", t) for i, t in enumerate(texts)]
                + [(url, i, "table", ln) for i, ln in enumerate(lines)])
    if kind == "xlsx":
        from ragflow_spark.extractlib.xlsxparse import xlsx_rows
        return [(url, i, "row", ln) for i, ln in enumerate(xlsx_rows(blob))]
    if kind == "doc":
        from ragflow_spark.extractlib.docparse import DocError, doc_lines
        # reference .doc branch (rag/app/naive.py:449-460): tika content
        # split to non-empty lines = sections; a malformed FIB degrades
        # to zero rows, never a crash
        try:
            lines = doc_lines(blob)
        except DocError:
            lines = []
        return [(url, i, "para", ln) for i, ln in enumerate(lines)]
    if kind == "pptx":
        from ragflow_spark.extractlib.pptxparse import parse_pptx
        # presentation template: one chunk per slide
        # (rag/app/presentation.py:96-128)
        slides = parse_pptx(blob)
    elif kind == "ppt":
        from ragflow_spark.extractlib.pptparse import PptError, parse_ppt
        # beyond-reference: legacy deck through the same
        # one-chunk-per-slide presentation shape
        try:
            slides = parse_ppt(blob)
        except PptError:
            slides = []
    else:
        return []
    return [(url, i, "slide", txt) for i, txt in enumerate(slides)
            if txt.strip()]


def chunk_office(pages: DataFrame) -> DataFrame:
    """pages with DOCX/XLSX byte payloads -> flat content rows
    (paragraphs + composed table lines / sheet row lines). Magic-byte
    dispatch replaces the reference's filename-extension dispatch
    (rag/app/naive.py:335-464), same map-only plan as extract_pages."""
    return map_documents(pages.select("url", "html"), _office_rows,
                         OFFICE_SCHEMA)


def _template_chunks(template: str, parser: str, text: str, sections
                     ) -> tuple[list[str], str]:
    """(raw chunks, merge_mode) of one parsed document; raw chunks keep
    the @@..## position tags where the path produces them."""
    from ragflow_spark.extractlib import templates as T

    if parser == "pdf":
        if template == "naive":
            return T.naive_pdf(sections, keep_tags=True), "naive"
        if template == "book":
            return T.naive_pdf(sections, 256, keep_tags=True), "naive"
        if template == "paper":
            return T.paper_pdf(sections, keep_tags=True), "paper"
        if template == "one":
            # the one chunk is the whole extracted text
            return T.one([text]), "one"
        return T.laws_pdf(sections), "laws"
    if template == "paper":
        # reference paper.chunk supports pdf only
        # (rag/app/paper.py:160-162): non-pdf rows yield no chunks
        return [], "paper"
    lines = text.split("\n")
    if template == "book":
        return T.book_html(lines)
    if template == "naive":
        return T.naive_html(lines), "naive"
    if template == "one":
        return T.one(lines), "one"
    return T.laws_html(lines), "laws"


def _chunk_rows(template: str, url: str, parser: str, text: str,
                sections) -> list[tuple]:
    """The chunk structs (``CHUNK_FIELDS`` order) of one document.
    chunk_seq is assigned here, per url, so no window function or
    global sort is needed (SURVEY.md §2.9)."""
    from ragflow_spark.extractlib.templates import kept_chunks
    from ragflow_spark.extractlib.pdfrules import parse_positions

    raw, mode = _template_chunks(template, parser, text, sections)
    # chunk spans: character offsets into the concatenated chunk stream
    # of this url (the north rule's span output); PDF chunks additionally
    # carry page numbers parsed from the position tags
    # (rag/nlp/__init__.py:321-333 add_positions semantics)
    rows = []
    offset = 0
    for seq, chunk in kept_chunks(raw):
        pages = sorted({p for pos in parse_positions(raw[seq])
                        for p in pos[0]})
        rows.append((seq, chunk, offset, offset + len(chunk), pages, mode))
        offset += len(chunk)
    return rows


def check_template(template: str) -> None:
    """Reject an unknown template before any Spark job runs."""
    if template not in TEMPLATES:
        raise ValueError(f"unknown template {template!r}, expected one "
                         f"of {', '.join(TEMPLATES)}")


def inline_chunks(docs: DataFrame, template: str, *keep: str) -> DataFrame:
    """extract_documents rows -> one row per chunk: url, the chunk fields
    plus chunk_id (merge_mode only under book) and the ``keep`` columns."""
    chunks = docs.select("url", F.inline("chunks"), *keep)
    cols = [c for c in chunks.columns
            if c != "merge_mode" or template == "book"]
    cid = chunk_id_col(F.col("chunk_text"), F.col("url")).alias("chunk_id")
    return chunks.select(*cols[:3], cid, *cols[3:])


def chunk_pages(pages: DataFrame, template: str = "naive") -> DataFrame:
    """pages -> exploded chunk rows for one template chunker."""
    check_template(template)
    return inline_chunks(extract_documents(pages, template), template)
