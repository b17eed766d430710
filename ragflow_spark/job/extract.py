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
      -> MapInPandas(_extract_batches)         <- the one parse per document
      -> persist                               <- run_job: one pass per wave
           -> drop sections       -> extracted/
           -> MapInPandas(chunk)  -> chunks/      (sections in, no parse)

The extraction is embarrassingly parallel: no shuffle is required at all
unless the caller wants host-salted balancing (job/salting.py) — at 100 TB
the scan partitioning (Iceberg split planning) is already the right unit,
and AQE coalesces small post-shuffle partitions when a repartition is used.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

EXTRACTED_SCHEMA = ("url string, title string, extracted_text string, "
                    "n_sections int, parser string")

# The extract pass: the extracted row plus its parse's sections for the
# chunkers. PDF rows carry pdf_to_sections' tagged texts and layout
# types; HTML rows leave both null, their sections being the lines of
# extracted_text (htmlparse.html_sections).
SECTION_COLUMNS = ("sections", "layouts")
PARSED_SCHEMA = (EXTRACTED_SCHEMA
                 + ", sections array<string>, layouts array<string>")

CHUNKS_SCHEMA = ("url string, chunk_seq int, chunk_text string, "
                 "chunk_id string, span_start long, span_end long, "
                 "page_nums array<int>")

BOOK_CHUNKS_SCHEMA = CHUNKS_SCHEMA + ", merge_mode string"

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


def _parse_document(url: str, blob: bytes) -> list[tuple]:
    # imports inside the worker so the UDF pickles by reference cleanly
    from ragflow_spark.extractlib.codec import decode_blob
    from ragflow_spark.extractlib.htmlparse import parse_html_text
    from ragflow_spark.extractlib.templates import extract_pdf_text

    # content sniffing replaces the reference's filename-regex dispatch
    # (rag/app/naive.py:335-464) — a CC-style table has no filenames,
    # only bytes
    if blob.startswith(b"%PDF-"):
        title, text, n, sections = extract_pdf_text(blob)
        return [(url, title, text, n, "pdf", [t for t, _ in sections],
                 [layout for _, layout in sections])]
    title, content = parse_html_text(decode_blob(blob))
    text = f"{title}\n{content}"
    n = len([s for s in text.split("\n") if s])
    return [(url, title, text, n, "html", None, None)]


def _extract_batches(frames: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
    return _map_documents(frames, _parse_document, PARSED_SCHEMA)


def parse_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> the extract pass: the extract_pages row
    plus ``SECTION_COLUMNS``, all that a chunker needs."""
    return pages.select("url", "html").mapInPandas(
        _extract_batches, schema=PARSED_SCHEMA
    )


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (url, title, extracted_text, n_sections,
    parser). The byte-identity invariant binds extracted_text per url."""
    return parse_pages(pages).drop(*SECTION_COLUMNS)


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


def _template_chunks(template: str, parser: str, text: str, sections,
                     layouts) -> tuple[list[str], str]:
    """(raw chunks, merge_mode) of one parsed document; raw chunks keep
    the @@..## position tags where the path produces them."""
    from ragflow_spark.extractlib import templates as T

    if parser == "pdf":
        pairs = list(zip(sections, layouts))
        if template == "naive":
            return T.naive_pdf(pairs, keep_tags=True), "naive"
        if template == "book":
            return T.naive_pdf(pairs, 256, keep_tags=True), "naive"
        if template == "paper":
            return T.paper_pdf(pairs, keep_tags=True), "paper"
        if template == "one":
            # the one chunk is the whole extracted text
            return T.one([text]), "one"
        return T.laws_pdf(pairs), "laws"
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


def _chunk_document(template: str, url: str, parser: str, text: str,
                    sections, layouts) -> list[tuple]:
    from ragflow_spark.extractlib.templates import chunks_with_ids
    from ragflow_spark.extractlib.pdfrules import parse_positions

    raw, mode = _template_chunks(template, parser, text, sections, layouts)
    # chunk spans: character offsets into the concatenated chunk stream
    # of this url (the north rule's span output); PDF chunks additionally
    # carry page numbers parsed from the position tags
    # (rag/nlp/__init__.py:321-333 add_positions semantics)
    rows = []
    offset = 0
    for seq, chunk, cid in chunks_with_ids(raw, url):
        pages = sorted({p for pos in parse_positions(raw[seq])
                        for p in pos[0]})
        row = (url, seq, chunk, cid, offset, offset + len(chunk), pages)
        rows.append(row + (mode,) if template == "book" else row)
        offset += len(chunk)
    return rows


def check_template(template: str) -> None:
    """Reject an unknown template before any Spark job runs."""
    if template not in TEMPLATES:
        raise ValueError(f"unknown template {template!r}, expected one "
                         f"of {', '.join(TEMPLATES)}")


def chunk_parsed(parsed: DataFrame, template: str) -> DataFrame:
    """parse_pages rows -> exploded chunk rows for one template chunker,
    without parsing again.

    chunk_seq is assigned inside the UDF (per-url order carried by the
    column, no window function / global sort needed — SURVEY.md §2.9)."""
    check_template(template)
    schema = BOOK_CHUNKS_SCHEMA if template == "book" else CHUNKS_SCHEMA
    return map_documents(parsed.select("url", "parser", "extracted_text",
                                       *SECTION_COLUMNS),
                         partial(_chunk_document, template), schema)


def chunk_pages(pages: DataFrame, template: str = "naive") -> DataFrame:
    """pages -> exploded chunk rows for one template chunker."""
    return chunk_parsed(parse_pages(pages), template)
