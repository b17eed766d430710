"""PDF path: content-stream extractor, geometry rules, paper template."""

import pytest

from ragflow_spark.extractlib.pdfgen import build_pdf
from ragflow_spark.extractlib.pdfplain import (parse_pdf_boxes,
                                               total_page_number)
from ragflow_spark.extractlib.pdfrules import (filter_forpages, line_tag,
                                               merge_with_same_bullet,
                                               parse_positions, pdf_to_sections,
                                               remove_tag, sort_y_firstly)
from ragflow_spark.extractlib.templates import (chunk_naive_pdf,
                                                chunk_paper_pdf,
                                                extract_pdf_text, one,
                                                pdf_text)

VOCAB = ("key agg row scan slow fast table value part hash merge batch "
         "spark line sort window the a").split()


def _doc(n_paras=6, words=40, title="Paper 9"):
    paras = [" ".join(VOCAB[(i + j) % len(VOCAB)] for j in range(words))
             for i in range(n_paras)]
    sections = [(f"{i + 1} Part {i + 1}", p) for i, p in enumerate(paras)]
    return build_pdf(title, sections), title, paras


def test_pdf_boxes_have_geometry():
    blob, _, _ = _doc()
    boxes = parse_pdf_boxes(blob)
    assert boxes
    assert all(b["x1"] > b["x0"] and b["bottom"] > b["top"] for b in boxes)
    # cumulative Y: strictly increasing in reading order per construction
    tops = [b["top"] for b in boxes]
    assert tops == sorted(tops)


def test_multi_page_byte_identity():
    blob, title, paras = _doc(n_paras=25, words=60)
    assert total_page_number(blob) > 1
    t, text, n = pdf_text(pdf_to_sections(blob))
    expected = title + "\n" + "\n".join(
        f"{i + 1} Part {i + 1}\n{p}" for i, p in enumerate(paras))
    assert t == title
    assert text == expected
    assert n == 1 + 2 * len(paras)


def test_paper_chunks_one_per_section():
    blob, title, paras = _doc()
    chunks = chunk_paper_pdf(blob)
    assert chunks == [title] + [
        f"{i + 1} Part {i + 1}\n{p}" for i, p in enumerate(paras)]


def test_naive_and_one_pdf_cover_all_text():
    blob, title, paras = _doc()
    sections = [title] + [x for i, p in enumerate(paras)
                          for x in (f"{i + 1} Part {i + 1}", p)]
    assert one([remove_tag(t) for t, _ in pdf_to_sections(blob)]) == [
        "\n".join(sections)]
    assert "".join(chunk_naive_pdf(blob)) == "".join(sections)


def test_line_tag_roundtrip():
    bx = {"page_number": 2, "x0": 72.0, "x1": 300.5, "top": 900.0,
          "bottom": 912.0}
    tag = line_tag(bx, [792.0, 792.0])
    assert tag.startswith("@@2\t72.0\t300.5\t108.0\t120.0##")
    [(pages, x0, x1, top, bottom)] = parse_positions("hello" + tag)
    assert pages == [2] and x0 == 72.0 and x1 == 300.5
    assert remove_tag("hello" + tag) == "hello"


def test_line_tag_multi_page_span():
    bx = {"page_number": 1, "x0": 0.0, "x1": 10.0, "top": 700.0,
          "bottom": 850.0}
    tag = line_tag(bx, [792.0, 792.0])
    [(pages, *_)] = parse_positions(tag)
    assert pages == [1, 2]


def test_sort_y_firstly_fuzzy_threshold():
    a = {"top": 100.0, "x0": 200.0}
    b = {"top": 101.0, "x0": 50.0}
    c = {"top": 130.0, "x0": 0.0}
    assert sort_y_firstly([a, b, c], 5.0) == [b, a, c]
    assert sort_y_firstly([a, b, c], 0.5) == [a, b, c]


def test_filter_forpages_removes_toc_run():
    boxes = [
        {"text": "Contents", "page_number": 1},
        {"text": "1 Part 1 ........ 2", "page_number": 1},
        {"text": "2 Part 2 ........ 3", "page_number": 1},
        {"text": "1 Part 1 body starts", "page_number": 2},
    ]
    out = filter_forpages(boxes)
    assert [b["text"] for b in out] == ["1 Part 1 body starts"]


def test_merge_with_same_bullet():
    boxes = [
        {"text": "• alpha", "x0": 0, "x1": 10, "top": 0, "bottom": 10},
        {"text": "• beta", "x0": 0, "x1": 10, "top": 12, "bottom": 22},
        {"text": "gamma", "x0": 0, "x1": 10, "top": 24, "bottom": 34},
    ]
    out = merge_with_same_bullet(boxes)
    assert [b["text"] for b in out] == ["• alpha\n• beta", "gamma"]


def test_hostile_pdf_inputs_never_raise():
    for blob in (b"", b"%PDF-", b"%PDF-1.4 garbage", bytes(range(256)),
                 b"%PDF-1.4\n1 0 obj\n<< /Kids [9 0 R] >>\nendobj\n"):
        parse_pdf_boxes(blob)
        total_page_number(blob)
        extract_pdf_text(blob)
        chunk_paper_pdf(blob)
        chunk_naive_pdf(blob)


@pytest.mark.parametrize("n_paras,words", [(1, 3), (2, 8), (12, 80)])
def test_byte_identity_across_shapes(n_paras, words):
    blob, title, paras = _doc(n_paras=n_paras, words=words)
    _, text, _ = pdf_text(pdf_to_sections(blob))
    assert text == title + "\n" + "\n".join(
        f"{i + 1} Part {i + 1}\n{p}" for i, p in enumerate(paras))


def test_chunk_spans_and_page_nums(spark_maybe=None):
    """Span/page columns: contiguity and page coverage (no Spark needed —
    the same logic drives the UDF via templates + pdfrules)."""
    from ragflow_spark.extractlib.pdfrules import parse_positions, remove_tag
    from ragflow_spark.extractlib.templates import chunk_paper_pdf

    blob, title, paras = _doc(n_paras=25, words=60)
    raw = chunk_paper_pdf(blob, keep_tags=True)
    total = total_page_number(blob)
    seen_pages = set()
    offset = 0
    for tagged in raw:
        text = remove_tag(tagged)
        pages = sorted({p for pos in parse_positions(tagged)
                        for p in pos[0]})
        assert pages, "every pdf chunk carries page numbers"
        assert all(1 <= p <= total for p in pages)
        seen_pages.update(pages)
        offset += len(text)
    assert seen_pages == set(range(1, total + 1))


def test_two_column_reading_order_reconstruction():
    """Row-interleaved 2-column stream -> column sort -> byte identity."""
    from ragflow_spark.extractlib.pdfgen import build_pdf_two_col
    from ragflow_spark.extractlib.pdfrules import (pdf_to_sections_two_col,
                                                   remove_tag)

    for n_paras, words in ((1, 3), (6, 18), (24, 20)):
        paras = [" ".join(VOCAB[(i + j) % len(VOCAB)]
                          for j in range(words)) for i in range(n_paras)]
        blob = build_pdf_two_col(
            "Paper 4", [(f"{i + 1} Part {i + 1}", p)
                        for i, p in enumerate(paras)])
        secs = [remove_tag(t) for t, _ in pdf_to_sections_two_col(blob)]
        expected = ["Paper 4"] + [
            x for i, p in enumerate(paras)
            for x in (f"{i + 1} Part {i + 1}", p)]
        assert secs == expected, (n_paras, words)


def test_two_column_stream_is_actually_interleaved():
    """The corpus must exercise the sort: stream order != reading order."""
    from ragflow_spark.extractlib.pdfgen import build_pdf_two_col

    paras = [" ".join(VOCAB[(i + j) % len(VOCAB)] for j in range(20))
             for i in range(10)]
    blob = build_pdf_two_col(
        "Paper 5", [(f"{i + 1} Part {i + 1}", p)
                    for i, p in enumerate(paras)])
    boxes = parse_pdf_boxes(blob)
    xs = [b["x0"] for b in boxes]
    assert 320.0 in xs and 72.0 in xs
    # interleaved: some right-column box appears before a left-column one
    first_right = xs.index(320.0)
    assert any(x == 72.0 for x in xs[first_right:])


def test_two_column_hostile_inputs():
    from ragflow_spark.extractlib.pdfrules import pdf_to_sections_two_col

    for blob in (b"", b"%PDF-", bytes(range(256))):
        pdf_to_sections_two_col(blob)


def test_stream_data_indirect_length_and_fallbacks():
    # /Length as an indirect reference resolves through the object map
    from ragflow_spark.extractlib.pdfplain import _stream_data

    body = b"<< /Length 7 0 R >>stream\nABCDEFGHIJ\nendstream"
    assert _stream_data({7: b"4"}, body) == b"ABCD"
    # direct length
    body = b"<< /Length 3 >>stream\nXYZQQQ endstream"
    assert _stream_data({}, body) == b"XYZ"
    # no parseable length: lazy slice up to the LAST endstream
    body = b"<< >>stream\nPAYLOAD\nendstream"
    assert _stream_data({}, body) == b"PAYLOAD\n"
    body = b"<< >>stream\nPAYLOAD\nendstream junk endstream"
    assert _stream_data({}, body) == b"PAYLOAD\nendstream junk "
    # no stream keyword at all
    assert _stream_data({}, b"<< /Length 3 >>") == b""
    # undecodable Flate degrades to b''
    body = b"<< /Length 4 /Filter /FlateDecode >>stream\nnotz\nendstream"
    assert _stream_data({}, body) == b""


def test_tounicode_bfrange_array_and_base_forms():
    from ragflow_spark.extractlib.pdfplain import _parse_tounicode

    data = (b"/CIDInit begincmap\n"
            b"1 begincodespacerange <00> <FF> endcodespacerange\n"
            b"2 beginbfchar <01> <0041> <02> <0042> endbfchar\n"
            b"1 beginbfrange <10> <12> [<0058> <0059> <005A>] endbfrange\n"
            b"1 beginbfrange <20> <22> <0061> endbfrange\n"
            b"endcmap")
    cmap, _n = _parse_tounicode(data)
    assert cmap[0x01] == "A" and cmap[0x02] == "B"
    # array form maps positionally
    assert (cmap[0x10], cmap[0x11], cmap[0x12]) == ("X", "Y", "Z")
    # base form increments from the destination
    assert (cmap[0x20], cmap[0x21], cmap[0x22]) == ("a", "b", "c")


def test_naive_vertical_merge_pops_page_number_and_blank_lines():
    from ragflow_spark.extractlib.pdfrules import naive_vertical_merge

    assert naive_vertical_merge([], []) == []
    # tops are cumulative page positions (the parser offsets them), so
    # a bare page-number line before a page break is adjacent to the
    # next page's first line and gets dropped; blank lines drop too
    boxes = [
        {"text": "3", "page_number": 1, "x0": 0, "x1": 10,
         "top": 780, "bottom": 790, "layout_no": 0,
         "layout_type": "text"},
        {"text": "   ", "page_number": 2, "x0": 0, "x1": 100,
         "top": 820, "bottom": 830, "layout_no": 0,
         "layout_type": "text"},
        {"text": "body continues here", "page_number": 2, "x0": 0,
         "x1": 100, "top": 832, "bottom": 844, "layout_no": 0,
         "layout_type": "text"},
    ]
    out = naive_vertical_merge(boxes, [12.0, 12.0])
    assert [b["text"] for b in out] == ["body continues here"]


def test_merge_with_same_bullet_skips_blank_boxes():
    boxes = [
        {"text": "  ", "x0": 0, "x1": 10, "top": 0, "bottom": 10},
        {"text": "• a", "x0": 0, "x1": 10, "top": 12, "bottom": 22},
        {"text": " ", "x0": 0, "x1": 10, "top": 24, "bottom": 34},
        {"text": "• b", "x0": 0, "x1": 10, "top": 36, "bottom": 46},
    ]
    out = merge_with_same_bullet(boxes)
    assert [b["text"] for b in out] == ["• a\n• b"]


def test_ocr_char_merge_empty():
    from ragflow_spark.extractlib.pdfrules import ocr_char_merge

    assert ocr_char_merge([]) == []


def test_detect_two_column_rejects_single_column():
    from ragflow_spark.extractlib.pdfrules import detect_two_column

    boxes = [{"text": "wide single column line", "x0": 72, "x1": 540,
              "top": 100 + 20 * i, "bottom": 112 + 20 * i,
              "page_number": 1} for i in range(6)]
    assert detect_two_column(boxes) is False


def test_chunk_laws_pdf_hierarchical_chains():
    # laws PDF branch: rule-chain sections through bullets_category +
    # hierarchical_merge — each Article chunk carries its Chapter chain
    from ragflow_spark.extractlib.templates import laws_pdf

    secs = [("Chapter I", "preamble words about scope and purpose here"),
            ("Article 1", "the first article body text sits here"),
            ("Article 2", "the second article body text and more")]
    out = laws_pdf(pdf_to_sections(build_pdf("Law 1", secs)))
    assert out[0] == "Law 1"
    assert out[2].startswith("Chapter I\nArticle 1\n")
    assert out[3].startswith("Chapter I\nArticle 2\n")


def test_content_stream_array_tm_and_tj_forms():
    # hand-written PDF: /Contents array of two streams, an indirect
    # /Length whose target is not an integer (degrades to the lazy
    # endstream slice), a Tm position set, an odd-length hex show
    # (zero-padded), and a TJ array mixing literal and hex parts —
    # all with no /Font anywhere (latin-1 path)
    pdf = b"""%PDF-1.4
1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >> endobj
3 0 obj << /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >> endobj
4 0 obj << /Length 9 0 R >> stream
BT 1 0 0 1 100 700 Tm (Hello \\(World\\)) Tj ET
endstream endobj
5 0 obj << /Length 64 >> stream
BT 1 0 0 1 100 650 Tm <414> Tj [(ab) <4142> (cd) <434>] TJ ET
endstream endobj
9 0 obj (notanint) endobj
"""
    boxes = parse_pdf_boxes(pdf)
    assert [b["text"] for b in boxes] == \
        ["Hello (World)", "A@", "abABcdC@"]
    assert boxes[0]["x0"] == 100.0
    assert boxes[0]["top"] < boxes[1]["top"]    # y=700 above y=650


def test_tounicode_odd_hex_destination_degrades():
    # a bfchar destination with odd hex digits cannot fromhex; the
    # CMap entry becomes '' and the mapped text vanishes
    pdf = b"""%PDF-1.4
2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R /Font << /F1 7 0 R >> >> endobj
4 0 obj << /Length 44 >> stream
BT /F1 12 Tf 1 0 0 1 100 700 Tm <41> Tj ET
endstream endobj
7 0 obj << /ToUnicode 8 0 R >> endobj
8 0 obj << /Length 90 >> stream
begincodespacerange <00> endcodespacerange
beginbfchar <41> <004> endbfchar
endstream endobj
"""
    assert parse_pdf_boxes(pdf) == []


def test_manual_pdf_token_budget_fold():
    from ragflow_spark.extractlib.templates import manual_pdf
    long_body = "alpha beta gamma delta " * 12        # ~48 tokens
    secs = [("Section 1", long_body), ("Section 2", long_body),
            ("Section 3", long_body)]
    blob = build_pdf("Manual 9", secs)
    out = manual_pdf(pdf_to_sections(blob))
    # each >32-token section starts a new chunk; the title folds into
    # the first (it is under the 32-token floor when appended)
    assert len(out) == 3
    assert out[0].startswith("Manual 9\nSection 1\n")
    assert out[1].startswith("Section 2\n")
    # short sections keep appending under the 32-token floor
    tiny = [(f"{i} Part", "word word") for i in range(1, 5)]
    assert len(manual_pdf(pdf_to_sections(build_pdf("T", tiny)))) == 1
