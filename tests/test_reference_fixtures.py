"""Frozen-snapshot goldens over the reference repo's own test fixtures
(/root/reference/sdk/python/test/test_sdk_api/test_data/) — hostile,
irregular real-world inputs the synthetic corpus cannot produce (nested
framework HTML, Flate-compressed PDF with ToUnicode CMap subset fonts,
CJK JSON, mixed-delimiter txt).

The twin-oracle strategy proves self-consistency; these goldens pin the
extractors against drift on real bytes. If an intentional behavior
change moves a hash, regenerate with the snippet in tests/goldens/
reference_fixtures.json's git history (the hash is of the full output,
previews aid debugging).

Fixtures docx/xlsx/ppt/jpg are out of scope v1 (SURVEY.md §2.3).
"""

import hashlib
import json
import os

import pytest

BASE = "/root/reference/sdk/python/test/test_sdk_api/test_data/"
GOLDENS = os.path.join(os.path.dirname(__file__), "goldens",
                       "reference_fixtures.json")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(BASE), reason="reference fixtures not present")

with open(GOLDENS) as fh:
    GOLD = json.load(fh)


def _h(x) -> str:
    if not isinstance(x, str):
        x = json.dumps(x, ensure_ascii=False, default=list)
    return hashlib.sha256(x.encode("utf-8")).hexdigest()


def _blob(name: str) -> bytes:
    with open(BASE + name, "rb") as fh:
        return fh.read()


def test_html_fixture_extract_and_chunkers():
    from ragflow_spark.extractlib.htmlparse import (extract_html,
                                                    html_sections)
    from ragflow_spark.extractlib.templates import (book_html,
                                                    chunk_naive_html, one)

    blob = _blob("test.html")
    g = GOLD["test.html"]
    text = extract_html(blob)
    assert text.startswith(g["preview"])
    assert _h(text) == g["extract_html"]
    assert _h(chunk_naive_html(blob)) == g["chunk_naive"]
    assert _h(one(html_sections(blob))) == g["chunk_one"]
    assert _h(list(book_html(html_sections(blob))[0])) == g["chunk_book"]


@pytest.mark.parametrize("name", ["test.txt", "ragflow.txt",
                                  "ragflow_test.txt"])
def test_txt_fixtures(name):
    from ragflow_spark.extractlib.txtparse import txt_sections

    secs = txt_sections(_blob(name))
    assert len(secs) == GOLD[name]["n"]
    assert _h(secs) == GOLD[name]["txt_sections"]


def test_json_fixture():
    from ragflow_spark.extractlib.jsonparse import json_sections

    secs = json_sections(_blob("test.json"))
    assert len(secs) == GOLD["test.json"]["n"]
    assert _h(secs) == GOLD["test.json"]["json_sections"]


def test_md_fixture():
    from ragflow_spark.extractlib.mdparse import markdown_sections

    secs = markdown_sections(_blob("test.md"))
    assert len(secs) == GOLD["test.md"]["n"]
    assert _h(secs) == GOLD["test.md"]["md_sections"]


def test_docx_fixture():
    from ragflow_spark.extractlib.docxparse import parse_docx

    secs, tbls = parse_docx(_blob("test.docx"))
    g = GOLD["test.docx"]
    assert len(secs) == g["n_paras"] and len(tbls) == g["n_tables"]
    assert secs[0] == (g["first_para"], g["first_style"])
    assert _h([list(s) for s in secs]) == g["secs"]
    assert _h(tbls) == g["tbls"]


def test_xlsx_fixture():
    from ragflow_spark.extractlib.xlsxparse import (xlsx_html, xlsx_rows,
                                                    xlsx_row_number)

    blob = _blob("test.xlsx")
    rows = xlsx_rows(blob)
    g = GOLD["test.xlsx"]
    assert len(rows) == g["n_rows"]
    assert xlsx_row_number(blob) == g["row_number"]
    assert _h(rows) == g["rows"]
    assert _h(xlsx_html(blob)) == g["html"]


def test_pdf_fixture_real_world_streams():
    """Flate streams, indirect /Length, ToUnicode CMaps, hex TJ arrays,
    q/Q + rg color state — the full real-world content-stream path."""
    from ragflow_spark.extractlib.pdfrules import pdf_to_sections
    from ragflow_spark.extractlib.templates import chunk_naive_pdf, pdf_text

    blob = _blob("test.pdf")
    title, text, n = pdf_text(pdf_to_sections(blob))
    assert title == GOLD["test.pdf"]["title"]
    assert n == GOLD["test.pdf"]["n_sections"]
    assert _h(text) == GOLD["test.pdf"]["extract_pdf"]
    assert _h(chunk_naive_pdf(blob)) == GOLD["test.pdf"]["chunk_naive_pdf"]


def test_docx_fixture_round2_branches():
    """The round-2 docx template branches pinned on the real fixture —
    heading outlines, QA stacks, colspan tables, nearest-title chains
    all exercise a hostile Word document the synthetic corpus cannot
    produce."""
    from ragflow_spark.extractlib.docxparse import (table_title_context,
                                                    tables_html)
    from ragflow_spark.extractlib.qa import (manual_sections_from_docx,
                                             qa_pairs_from_docx)
    from ragflow_spark.extractlib.templates import (chunk_book_docx,
                                                    chunk_laws_docx)

    blob = _blob("test.docx")
    g = GOLD["test.docx.r2"]
    laws = chunk_laws_docx(blob)
    assert len(laws) == g["laws_n"] and _h(laws) == g["laws"]
    book = chunk_book_docx(blob)
    assert len(book) == g["book_n"] and _h(book) == g["book"]
    qa = qa_pairs_from_docx(blob)
    assert len(qa) == g["qa_n"] and _h(qa) == g["qa"]
    assert _h(manual_sections_from_docx(blob)) == g["manual"]
    assert _h(tables_html(blob)) == g["tables_html"]
    assert table_title_context(blob, "test") == g["table_titles"]


def test_retrieval_machinery_on_real_text():
    """Trie tokenization (Porter path), Dealer weights, and
    fine-grained re-segmentation pinned over the real RagFlow intro
    text — 592 real-world tokens through the full pipeline."""
    from ragflow_spark.extractlib.huqie import (default_tokenizer,
                                                tokenize)
    from ragflow_spark.extractlib.termweight import TermWeightDealer

    txt = open(BASE + "ragflow_test.txt", encoding="utf-8").read()
    g = GOLD["ragflow_test.txt.retrieval"]
    tks = tokenize(txt).split()
    assert len(tks) == g["n_tokens"]
    assert _h(tks) == g["tokens_hash"]
    tw = TermWeightDealer().weights(tks[:200], preprocess=False)
    assert _h([[t, round(w, 9)] for t, w in tw]) == g["weights_hash"]
    assert _h(default_tokenizer().fine_grained_tokenize(
        " ".join(tks[:100]))) == g["fine_hash"]
