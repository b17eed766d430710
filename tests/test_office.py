"""DOCX/XLSX writers + from-scratch parsers (officegen / docxparse /
xlsxparse) — behavior pinned to deepdoc/parser/{docx,excel}_parser.py."""

from ragflow_spark.extractlib.docxparse import (compose_table_content,
                                                docx_sections, parse_docx)
from ragflow_spark.extractlib.officegen import (build_docx, build_xlsx,
                                                sniff_office)
from ragflow_spark.extractlib.xlsxparse import (load_sheets, xlsx_html,
                                                xlsx_rows,
                                                xlsx_row_number)

PARAS = [("Paper 7", "Heading1"), ("1 Part 1", "Heading2"),
         ("alpha beta gamma", None)]
T3 = [["metric", "value", "delta"], ["50", "92", "38"],
      ["51", "95", "69"]]
T4 = [["metric", "value", "delta", "code"],
      ["50", "92", "38", "A1"], ["51", "95", "69", "A2"]]


def test_sniff():
    assert sniff_office(build_docx(PARAS)) == "docx"
    assert sniff_office(build_xlsx([("S", [[1]])])) == "xlsx"
    assert sniff_office(b"%PDF-") is None
    assert sniff_office(b"PK\x03\x04garbage") is None


def test_docx_roundtrip_styles():
    secs, _ = parse_docx(build_docx(PARAS))
    assert secs == [("Paper 7", "heading 1"), ("1 Part 1", "heading 2"),
                    ("alpha beta gamma", "Normal")]


def test_compose_table_3col_collapses():
    out = compose_table_content(T3)
    assert out == ["metric: 50;value: 92;delta: 38\n"
                   "metric: 51;value: 95;delta: 69"]


def test_compose_table_4col_line_per_row():
    out = compose_table_content(T4)
    assert out == ["metric: 50;value: 92;delta: 38;code: A1",
                   "metric: 51;value: 95;delta: 69;code: A2"]


def test_compose_table_numeric_header_promotion():
    # a non-numeric mid-table row becomes an extra header row when
    # numbers dominate; only the nearest CONSECUTIVE header run applies
    # to a data row (docx_parser.py:76-96)
    rows = [["a", "b", "c", "d"], ["1", "2", "3", "4"],
            ["x", "y", "z", "w"], ["5", "6", "7", "8"]]
    out = compose_table_content(rows)
    assert out == ["a: 1;b: 2;c: 3;d: 4",
                   "x: 5;y: 6;z: 7;w: 8"]


def test_compose_table_adjacent_headers_concatenate():
    # two adjacent header rows join comma-separated per column
    rows = [["aa", "bb", "cc", "dd"], ["xx", "yy", "zz", "ww"],
            ["1", "2", "3", "4"], ["5", "6", "7", "8"]]
    out = compose_table_content(rows)
    assert out == ["aa,xx: 1;bb,yy: 2;cc,zz: 3;dd,ww: 4",
                   "aa,xx: 5;bb,yy: 6;cc,zz: 7;dd,ww: 8"]


def test_compose_table_single_row_empty():
    assert compose_table_content([["only"]]) == []


def test_docx_sections_flat():
    texts, lines = docx_sections(build_docx(PARAS, [T3]))
    assert texts == ["Paper 7", "1 Part 1", "alpha beta gamma"]
    assert len(lines) == 1


def test_xlsx_rows_and_suffix():
    blob = build_xlsx([("metrics", [["m", "v"], [1, 2]]),
                       ("Sheet1", [["a"], [9]])])
    assert xlsx_rows(blob) == ["m：1; v：2 ——metrics", "a：9"]
    assert xlsx_row_number(blob) == 4


def test_xlsx_zero_cell_skipped():
    blob = build_xlsx([("Sheet1", [["m", "v"], [0, 5]])])
    assert xlsx_rows(blob) == ["v：5"]


def test_xlsx_none_cells_html():
    blob = build_xlsx([("Sheet1", [["m", "v"], [1, None]])])
    html = xlsx_html(blob)[0]
    assert "<td>1</td><td></td>" in html
    assert html.startswith("<table><caption>Sheet1</caption>"
                           "<tr><th>m</th><th>v</th></tr>")


def test_xlsx_html_chunking():
    rows = [["h"]] + [[i] for i in range(5)]
    blob = build_xlsx([("Sheet1", rows)])
    chunks = xlsx_html(blob, chunk_rows=2)
    assert len(chunks) == 3
    assert all(c.count("<th>h</th>") == 1 for c in chunks)


def test_csv_fallback():
    assert xlsx_rows(b"name,qty\nalpha,3\nbeta,5") == \
        ["name：alpha; qty：3 ——Data", "name：beta; qty：5 ——Data"]


def test_pptx_roundtrip_bullets_and_table():
    from ragflow_spark.extractlib.officegen import build_pptx
    from ragflow_spark.extractlib.pptxparse import parse_pptx

    slides = [
        [{"kind": "text", "top": 0, "left": 0,
          "paras": [("1 Part 1", False, 0)]},
         {"kind": "text", "top": 100000, "left": 0,
          "paras": [("alpha beta", True, 0), ("gamma", True, 1)]}],
        [{"kind": "text", "top": 0, "left": 0,
          "paras": [("Data", False, 0)]},
         {"kind": "table", "top": 100000, "left": 0,
          "rows": [["metric", "value"], ["50", "92"], ["51", "95"]]}],
    ]
    blob = build_pptx(slides)
    assert sniff_office(blob) == "pptx"
    txts = parse_pptx(blob)
    assert txts == [
        "1 Part 1\n.alpha beta\n  .gamma",
        "Data\nmetric: 50; value: 92\nmetric: 51; value: 95",
    ]
    # page window
    assert parse_pptx(blob, from_page=1) == [txts[1]]
    assert parse_pptx(blob, to_page=1) == [txts[0]]


def test_pptx_shape_sort_and_empty_paras():
    from ragflow_spark.extractlib.officegen import build_pptx
    from ragflow_spark.extractlib.pptxparse import parse_pptx

    # shapes emitted out of order sort by (top//10, left); empty
    # paragraphs are skipped
    slides = [[
        {"kind": "text", "top": 500000, "left": 0,
         "paras": [("below", False, 0)]},
        {"kind": "text", "top": 0, "left": 0,
         "paras": [("above", False, 0), ("  ", False, 0)]},
    ]]
    assert parse_pptx(build_pptx(slides)) == ["above\nbelow"]


def test_pptx_reference_fixture():
    # test.ppt is PresentationML in a zip despite its extension —
    # content sniffing (not filename dispatch) is what catches this
    blob = open("/root/reference/sdk/python/test/test_sdk_api/"
                "test_data/test.ppt", "rb").read()
    assert sniff_office(blob) == "pptx"
    from ragflow_spark.extractlib.pptxparse import parse_pptx
    assert parse_pptx(blob) == ["hello"]


def test_malformed_inputs():
    assert parse_docx(b"") == ([], [])
    assert parse_docx(b"PK\x03\x04junk") == ([], [])
    assert load_sheets(b"PK\x03\x04junk") == []


def test_chunk_laws_docx_outline_walk():
    from ragflow_spark.extractlib.officegen import build_docx
    from ragflow_spark.extractlib.templates import chunk_laws_docx

    paras = [("My Title", "Heading1"),
             ("1 Part 1", "Heading2"), ("alpha beta gamma", None),
             ("2 Part 2", "Heading2"), ("delta words", None)]
    out = chunk_laws_docx(build_docx(paras, []))
    # title collects the headings (first populated deeper level);
    # each heading collects its body; visited bodies vanish
    assert out == ["My Title\n1 Part 1\n2 Part 2",
                   "1 Part 1\nalpha beta gamma",
                   "2 Part 2\ndelta words"]


def test_chunk_laws_docx_bullet_levels_without_styles():
    from ragflow_spark.extractlib.officegen import build_docx
    from ragflow_spark.extractlib.templates import chunk_laws_docx

    # all Normal paragraphs: levels come from the voted bullet family
    # (group 3: Chapter=2, Section=3, Article=4)
    paras = [("Chapter I", None),
             ("Section 1", None), ("Article 1 first rule", None),
             ("Section 2", None), ("Article 2 second rule", None)]
    out = chunk_laws_docx(build_docx(paras, []))
    assert out[0] == "Chapter I\nSection 1\nSection 2"
    assert "Section 1\nArticle 1 first rule" in out
    assert "Section 2\nArticle 2 second rule" in out


def test_qa_pairs_from_docx_stack_semantics():
    from ragflow_spark.extractlib.officegen import build_docx
    from ragflow_spark.extractlib.qa import qa_pairs_from_docx

    paras = [("My Title", "Heading1"),
             ("1 Part 1", "Heading2"), ("alpha beta", None),
             ("Sub A", "Heading3"), ("deep answer", None),
             ("2 Part 2", "Heading2"), ("delta words", None)]
    out = qa_pairs_from_docx(build_docx(paras, []))
    # deeper heading stacks under its parent; a same-level heading
    # pops back to the parent; answers keep the leading-newline quirk
    assert out == [("My Title\n1 Part 1", "\nalpha beta"),
                   ("My Title\n1 Part 1\nSub A", "\ndeep answer"),
                   ("My Title\n2 Part 2", "\ndelta words")]


def test_qa_pairs_from_docx_no_heading_no_pairs():
    from ragflow_spark.extractlib.officegen import build_docx
    from ragflow_spark.extractlib.qa import qa_pairs_from_docx

    out = qa_pairs_from_docx(build_docx(
        [("just text", None), ("more text", None)], []))
    assert out == []


def test_tables_html_colspan_merge_and_skip_quirk():
    from ragflow_spark.extractlib.docxparse import tables_html
    from ragflow_spark.extractlib.officegen import build_docx

    tbl = [["h1", "h2", "h3"],
           ["7", "7", "9"],     # adjacent pair -> colspan 2
           ["5", "5", "5"],     # full run -> colspan 3
           ["4", "8", "4"],     # non-adjacent equal: middle NEVER rendered
           ["1", "2", "2"],     # tail pair
           ["1", "2", "3"]]     # distinct
    out = tables_html(build_docx([("t", None)], [tbl]))
    assert len(out) == 1
    html = out[0]
    assert "<tr><td>h1</td><td>h2</td><td>h3</td></tr>" in html
    assert "<tr><td colspan='2'>7</td><td>9</td></tr>" in html
    assert "<tr><td colspan='3'>5</td></tr>" in html
    assert "<tr><td colspan='2'>4</td></tr>" in html  # '8' skipped
    assert "<tr><td>1</td><td colspan='2'>2</td></tr>" in html
    assert "<tr><td>1</td><td>2</td><td>3</td></tr>" in html


def test_manual_sections_from_docx():
    from ragflow_spark.extractlib.officegen import build_docx
    from ragflow_spark.extractlib.qa import manual_sections_from_docx

    paras = [("My Title", "Heading1"),
             ("1 Part 1", "Heading2"), ("alpha beta", None)]
    out = manual_sections_from_docx(build_docx(paras, []))
    # question stack joined, then '\n', then the leading-newline answer
    assert out == ["My Title\n1 Part 1\n\nalpha beta"]


def test_chunk_book_docx_hierarchical_and_orphan_heading():
    from ragflow_spark.extractlib.officegen import build_docx
    from ragflow_spark.extractlib.templates import chunk_book_docx

    paras = [("My Title", "Heading1"),
             ("1 Part 1", "Heading2"), ("alpha beta gamma", None),
             ("2 Part 2", "Heading2"), ("a", None)]  # one-char body
    out = [c for c in chunk_book_docx(build_docx(paras, [])) if c.strip()]
    # heading 1 groups with its body; heading 2's body fails the
    # len>1 section filter, so the heading is never seeded (orphan)
    assert "1 Part 1\nalpha beta gamma" in out
    assert all("2 Part 2" not in c for c in out)
    assert "My Title" in out


def test_table_title_context_parent_chain_and_fallbacks():
    from ragflow_spark.extractlib.docxparse import table_title_context
    from ragflow_spark.extractlib.officegen import build_docx

    tbl = [[["h", "h2"], ["1", "2"]]]
    # deep chain: H1 -> H3 (cross-level parent search skips missing H2)
    paras = [("Top", "Heading1"), ("Deep", "Heading3"), ("body", None)]
    out = table_title_context(build_docx(paras, tbl), "doc")
    assert out == ["doc > Top > Deep"]
    # no heading before the table -> ''
    out2 = table_title_context(
        build_docx([("just text", None)], tbl), "doc")
    assert out2 == [""]
    # empty doc name falls back
    out3 = table_title_context(build_docx(paras, tbl), "")
    assert out3 == ["Untitled Document > Top > Deep"]


def test_hostile_office_inputs_never_raise():
    """Every round-2 office entry point must degrade, not raise, on
    malformed bytes (the extraction job feeds them raw crawl payloads).
    """
    import zipfile
    import io

    from ragflow_spark.extractlib.docxparse import (parse_docx,
                                                    table_title_context,
                                                    tables_html)
    from ragflow_spark.extractlib.qa import (manual_sections_from_docx,
                                             qa_pairs_from_docx)
    from ragflow_spark.extractlib.templates import (chunk_book_docx,
                                                    chunk_laws_docx)
    from ragflow_spark.extractlib.xlsxparse import xlsx_html, xlsx_rows

    # a zip that is not OOXML at all
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("hello.txt", "not office")
    evil_zip = buf.getvalue()

    payloads = [b"", b"PK\x03\x04", bytes(range(256)) * 4, evil_zip,
                b"<html><p>not a zip</p></html>"]
    for blob in payloads:
        assert parse_docx(blob) == ([], [])
        assert tables_html(blob) == []
        assert table_title_context(blob, "d") == []
        assert qa_pairs_from_docx(blob) == []
        assert manual_sections_from_docx(blob) == []
        assert chunk_laws_docx(blob) == []
        assert chunk_book_docx(blob) == []
        # xlsx keeps the reference's CSV fallback: plain text bytes
        # parse as a 'Data' sheet rather than erroring — only assert
        # no-raise plus emptiness for the zip-shaped payloads
        xh, xr = xlsx_html(blob), xlsx_rows(blob)
        if blob[:2] == b"PK" or not blob:
            assert xh == [] and xr == []


def test_csv_fallback_zero_cells_skip_like_reference():
    from ragflow_spark.extractlib.xlsxparse import xlsx_rows

    # pandas-typed parity: numeric '0' is falsy and drops its field
    assert xlsx_rows(b"qty,delta\n0,5\n3,0") == \
        ["delta：5 ——Data", "qty：3 ——Data"]


# ---- naive.Docx image attachment (rag/app/naive.py:180-211) -------


def test_attach_images_caption_pops_previous():
    from ragflow_spark.extractlib.docxparse import attach_paragraph_images

    lines = attach_paragraph_images([
        ("intro", "Normal", [(100, 80)]),
        ("", "Normal", [(60, 40)]),          # appends to intro
        ("Figure 1", "Caption", []),         # pops the appended pic
    ])
    assert lines == [("intro", (100, 80)), ("Figure 1", (60, 40))]


def test_attach_images_caption_takes_carry():
    from ragflow_spark.extractlib.docxparse import attach_paragraph_images

    # pic before any line -> carry; first caption adopts it
    lines = attach_paragraph_images([
        ("", "Normal", [(31, 7)]),
        ("First figure", "Caption", []),
    ])
    assert lines == [("First figure", (31, 7))]


def test_attach_images_caption_after_caption_no_pop():
    from ragflow_spark.extractlib.docxparse import attach_paragraph_images

    lines = attach_paragraph_images([
        ("Figure a", "Caption", []),
        ("Figure b", "Caption", []),
    ])
    assert lines == [("Figure a", None), ("Figure b", None)]


def test_attach_images_carry_prepends_to_text_line():
    from ragflow_spark.extractlib.docxparse import attach_paragraph_images

    lines = attach_paragraph_images([
        ("", "Normal", [(70, 5)]),
        ("intro", "Normal", [(100, 80)]),
    ])
    # vertical fold: max width, summed height, carry first
    assert lines == [("intro", (100, 85))]


def test_attach_images_first_pic_only_and_clean():
    from ragflow_spark.extractlib.docxparse import attach_paragraph_images

    # get_picture keeps only the paragraph's FIRST pic; the ideographic
    # space folds to ASCII and strips
    lines = attach_paragraph_images([
        ("　x　", "Normal", [(10, 1), (99, 99)]),
    ])
    assert lines == [("x", (10, 1))]


def _pptx_with_slide_xml(slide_body: str) -> bytes:
    """Assemble a one-slide pptx around raw spTree content."""
    import re as _re

    from ragflow_spark.extractlib.officegen import build_pptx

    blob = build_pptx([[{"kind": "text", "top": 0, "left": 0,
                         "paras": [("placeholder", False, 0)]}]])
    import io
    import zipfile
    zin = zipfile.ZipFile(io.BytesIO(blob))
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as zout:
        for name in zin.namelist():
            data = zin.read(name)
            if name == "ppt/slides/slide1.xml":
                data = _re.sub(
                    rb"<p:spTree>.*</p:spTree>",
                    b"<p:spTree>" + slide_body.encode() + b"</p:spTree>",
                    data, flags=_re.S)
            zout.writestr(name, data)
    return out.getvalue()


def test_pptx_group_shape_recurses_in_position_order():
    # ppt_parser.py __extract shape_type 6: group members sort by
    # (top // 10, left) and join with newlines
    from ragflow_spark.extractlib.pptxparse import parse_pptx

    def sp(top, left, text):
        return (f'<p:sp><p:spPr><a:xfrm><a:off x="{left}" y="{top}"/>'
                f'</a:xfrm></p:spPr><p:txBody><a:p><a:r><a:t>{text}'
                f'</a:t></a:r></a:p></p:txBody></p:sp>')

    body = ('<p:grpSp><p:grpSpPr><a:xfrm><a:off x="0" y="0"/></a:xfrm>'
            '</p:grpSpPr>' + sp(500, 900, "second") + sp(400, 100, "first")
            + '</p:grpSp>')
    slides = parse_pptx(_pptx_with_slide_xml(body))
    assert slides == ["first\nsecond"]


def test_pptx_autonum_bullet_prefix_and_empty_slide():
    from ragflow_spark.extractlib.pptxparse import parse_pptx

    body = ('<p:sp><p:spPr><a:xfrm><a:off x="0" y="0"/></a:xfrm></p:spPr>'
            '<p:txBody><a:p><a:pPr lvl="1"><a:buAutoNum type="arabic"/>'
            '</a:pPr><a:r><a:t>numbered item</a:t></a:r></a:p>'
            '</p:txBody></p:sp>')
    slides = parse_pptx(_pptx_with_slide_xml(body))
    assert slides == ["  .numbered item"]
    # a slide whose spTree is empty still emits its "" placeholder
    assert parse_pptx(_pptx_with_slide_xml("")) == [""]


def test_pptx_malformed_inputs_degrade_to_empty():
    from ragflow_spark.extractlib.pptxparse import parse_pptx

    assert parse_pptx(b"not a zip") == []
    assert parse_pptx(b"") == []


def test_xlsx_cell_value_type_branches():
    from xml.etree import ElementTree

    from ragflow_spark.extractlib.xlsxparse import _cell_value

    S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

    def cell(xml):
        return ElementTree.fromstring(xml.replace("xmlns!", f'xmlns="{S}"'))

    shared = ["zero", "one"]
    # inlineStr with and without <is>
    assert _cell_value(cell('<c xmlns! t="inlineStr"><is><t>a</t>'
                            '<t>b</t></is></c>'), shared) == "ab"
    assert _cell_value(cell('<c xmlns! t="inlineStr"/>'), shared) is None
    # shared string: valid, out-of-range, non-numeric
    assert _cell_value(cell('<c xmlns! t="s"><v>1</v></c>'),
                       shared) == "one"
    assert _cell_value(cell('<c xmlns! t="s"><v>9</v></c>'),
                       shared) is None
    assert _cell_value(cell('<c xmlns! t="s"><v>x</v></c>'),
                       shared) is None
    # formula-string, boolean, int, float, and unparseable numerics
    assert _cell_value(cell('<c xmlns! t="str"><v>=SUM</v></c>'),
                       shared) == "=SUM"
    assert _cell_value(cell('<c xmlns! t="b"><v>1</v></c>'),
                       shared) is True
    assert _cell_value(cell('<c xmlns! t="b"><v>0</v></c>'),
                       shared) is False
    assert _cell_value(cell('<c xmlns!><v>-3</v></c>'), shared) == -3
    assert _cell_value(cell('<c xmlns!><v>2.5</v></c>'), shared) == 2.5
    assert _cell_value(cell('<c xmlns!><v>1e</v></c>'), shared) == "1e"
    assert _cell_value(cell('<c xmlns!/>'), shared) is None


def test_xlsx_cells_without_refs_advance_sequentially():
    import io
    import zipfile

    from ragflow_spark.extractlib.officegen import build_xlsx
    from ragflow_spark.extractlib.xlsxparse import load_sheets

    blob = build_xlsx([("s1", [["a", "b"]])])
    zin = zipfile.ZipFile(io.BytesIO(blob))
    out = io.BytesIO()
    S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (f'<?xml version="1.0"?><worksheet xmlns="{S}"><sheetData>'
             '<row><c t="str"><v>p</v></c><c t="str"><v>q</v></c></row>'
             '</sheetData></worksheet>')
    with zipfile.ZipFile(out, "w") as zout:
        for name in zin.namelist():
            data = zin.read(name)
            if name.endswith("sheet1.xml"):
                data = sheet.encode()
            zout.writestr(name, data)
    sheets = load_sheets(out.getvalue())
    assert sheets[0][1] == [["p", "q"]]


def test_csv_float_coercion():
    from ragflow_spark.extractlib.xlsxparse import _load_csv

    assert _load_csv(b"a,1,2.5\n") == [("Data", [["a", 1, 2.5]])]


def test_sniff_unknown_zip_returns_none():
    import io
    import zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("meta.xml", "")
    assert sniff_office(buf.getvalue()) is None


def _zip_of(names):
    import io
    import zipfile
    b = io.BytesIO()
    with zipfile.ZipFile(b, "w") as z:
        for n, c in names:
            z.writestr(n, c)
    return b.getvalue()


_XLNS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_RNS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PRNS = "http://schemas.openxmlformats.org/package/2006/relationships"
_WNS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"


def test_xlsx_degrade_arms():
    from ragflow_spark.extractlib.xlsxparse import (load_sheets,
                                                    xlsx_html,
                                                    xlsx_rows)
    # invalid cell ref falls back to the running index; an absolute
    # rel Target has its leading slash stripped; a rel pointing at a
    # missing part is skipped
    xl = _zip_of([
        ("xl/workbook.xml",
         f'<workbook xmlns="{_XLNS}" xmlns:r="{_RNS}"><sheets>'
         '<sheet name="S1" sheetId="1" r:id="rid1"/>'
         '<sheet name="S2" sheetId="2" r:id="rid2"/></sheets>'
         '</workbook>'),
        ("xl/_rels/workbook.xml.rels",
         f'<Relationships xmlns="{_PRNS}">'
         '<Relationship Id="rid1" Target="/xl/worksheets/sheet1.xml"/>'
         '<Relationship Id="rid2" Target="worksheets/none.xml"/>'
         '</Relationships>'),
        ("xl/worksheets/sheet1.xml",
         f'<worksheet xmlns="{_XLNS}"><sheetData>'
         '<row><c r="@@"><v>7</v></c></row></sheetData></worksheet>'),
    ])
    assert load_sheets(xl) == [("S1", [[7]])]
    # a sheet with zero rows contributes nothing to either renderer
    empty = _zip_of([
        ("xl/workbook.xml",
         f'<workbook xmlns="{_XLNS}" xmlns:r="{_RNS}"><sheets>'
         '<sheet name="Empty" sheetId="1" r:id="rid1"/></sheets>'
         '</workbook>'),
        ("xl/_rels/workbook.xml.rels",
         f'<Relationships xmlns="{_PRNS}">'
         '<Relationship Id="rid1" Target="worksheets/sheet1.xml"/>'
         '</Relationships>'),
        ("xl/worksheets/sheet1.xml",
         f'<worksheet xmlns="{_XLNS}"><sheetData/></worksheet>'),
    ])
    assert xlsx_rows(empty) == [] and xlsx_html(empty) == []


def test_docx_bodyless_and_missing_styles_degrade():
    from ragflow_spark.extractlib.docxparse import (parse_docx,
                                                    table_title_context,
                                                    tables_html)
    doc = _zip_of([("word/document.xml",
                    f'<w:document xmlns:w="{_WNS}"></w:document>')])
    assert parse_docx(doc) == ([], [])
    assert tables_html(doc) == []
    assert table_title_context(doc, "d") == []


def test_docx_block_type_nr_via_dict_tag():
    import ragflow_spark.extractlib.huqie as H
    from ragflow_spark.extractlib.docxparse import _block_type
    old = H._DEFAULT
    H._DEFAULT = H.HuqieTokenizer("张三 100 nr\n")
    try:
        assert _block_type("张三") == "Nr"
    finally:
        H._DEFAULT = old


def test_docx_table_repeated_header_rows_dedup():
    from ragflow_spark.extractlib.docxparse import compose_table_content
    out = compose_table_content([["Name", "Qty"], ["Name", "Qty"],
                                 ["12", "13"], ["14", "15"]])
    assert out == ["Name: 12;Qty: 13\nName: 14;Qty: 15"]


_ANS = "http://schemas.openxmlformats.org/drawingml/2006/main"
_PNS = "http://schemas.openxmlformats.org/presentationml/2006/main"


def test_pptx_shape_degrade_arms():
    from xml.etree import ElementTree
    from ragflow_spark.extractlib.pptxparse import (_bulleted_text,
                                                    _extract_shape,
                                                    _shape_pos)
    el = ElementTree.fromstring
    # non-numeric offset -> (0, 0)
    assert _shape_pos(el(
        f'<x xmlns:a="{_ANS}"><a:off x="abc" y="1"/></x>')) == (0, 0)
    # buBlip (picture bullet) triggers the bullet prefix like buChar
    assert _bulleted_text(el(
        f'<a:p xmlns:a="{_ANS}"><a:pPr lvl="1"><a:buBlip/></a:pPr>'
        '<a:r><a:t>pic bullet</a:t></a:r></a:p>')) == "  .pic bullet"
    # graphicFrame without a table / single-row table / sp without
    # txBody / unknown shape kind
    assert _extract_shape(el(
        f'<p:graphicFrame xmlns:p="{_PNS}"/>')) is None
    one_row = (f'<p:graphicFrame xmlns:p="{_PNS}" xmlns:a="{_ANS}">'
               '<a:tbl><a:tr><a:tc><a:p><a:r><a:t>only</a:t></a:r>'
               '</a:p></a:tc></a:tr></a:tbl></p:graphicFrame>')
    assert _extract_shape(el(one_row)) == ""
    assert _extract_shape(el(f'<p:sp xmlns:p="{_PNS}"/>')) is None
    assert _extract_shape(el(f'<p:pic xmlns:p="{_PNS}"/>')) is None


def test_pptx_slide_resolution_arms():
    from ragflow_spark.extractlib.pptxparse import parse_pptx
    _R = "http://schemas.openxmlformats.org/officeDocument/2006/" \
        "relationships"
    pres = (f'<p:presentation xmlns:p="{_PNS}" xmlns:r="{_R}">'
            '<p:sldIdLst><p:sldId id="256" r:id="rid1"/>'
            '<p:sldId id="257" r:id="rid2"/>'
            '<p:sldId id="258" r:id="rid3"/></p:sldIdLst>'
            '</p:presentation>')
    rels = (f'<Relationships xmlns="{_PRNS}">'
            '<Relationship Id="rid1" Target="/ppt/slides/slide1.xml"/>'
            '<Relationship Id="rid2" Target="slides/missing.xml"/>'
            '<Relationship Id="rid3" Target="slides/slide3.xml"/>'
            '</Relationships>')
    blob = _zip_of([
        ("ppt/presentation.xml", pres),
        ("ppt/_rels/presentation.xml.rels", rels),
        # slide1: absolute Target, no spTree -> "" entry
        ("ppt/slides/slide1.xml", f'<p:sld xmlns:p="{_PNS}"></p:sld>'),
        # rid2 target missing from the zip -> skipped entirely
        ("ppt/slides/slide3.xml",
         f'<p:sld xmlns:p="{_PNS}"><p:cSld><p:spTree></p:spTree>'
         '</p:cSld></p:sld>'),
    ])
    assert parse_pptx(blob) == ["", ""]
    bad_rels = _zip_of([("ppt/presentation.xml", pres),
                        ("ppt/_rels/presentation.xml.rels", "<not-xml")])
    assert parse_pptx(bad_rels) == []


def test_chunk_table_txt_end_to_end():
    from ragflow_spark.extractlib.tableparse import chunk_table_txt
    out = chunk_table_txt("name\tage\nbob\t3\nsue\t4\n".encode())
    assert len(out) == 2 and "bob" in out[0] and "sue" in out[1]


def test_office_batch_corrupt_legacy_payloads_degrade():
    # the Arrow batch walker must swallow DocError/PptError per
    # document — one bad crawl payload cannot kill the whole batch
    import pandas as pd
    from ragflow_spark.extractlib.cfb import build_cfb
    from ragflow_spark.job.extract import (OFFICE_SCHEMA, _map_documents,
                                           _office_rows)
    bad_doc = build_cfb([("WordDocument", b"\x00" * 600)])
    bad_ppt = build_cfb([("PowerPoint Document",
                          b"\x0f\x00\x00\x00\xff\xff\xff\x7f")])
    pdf = pd.DataFrame({"url": ["a", "b"], "html": [bad_doc, bad_ppt]})
    out = list(_map_documents(iter([pdf]), _office_rows, OFFICE_SCHEMA))
    assert len(out) == 1 and len(out[0]) == 0


def test_docx_page_window_breaks():
    # lastRenderedPageBreak advances the page counter; paragraphs and
    # runs past to_page stop the walk
    from ragflow_spark.extractlib.docxparse import parse_docx
    doc = (f'<w:document xmlns:w="{_WNS}"><w:body>'
           '<w:p><w:r><w:t>first</w:t><w:lastRenderedPageBreak/></w:r>'
           '<w:r><w:t>after break</w:t></w:r></w:p>'
           '<w:p><w:r><w:t>second page</w:t></w:r></w:p>'
           '</w:body></w:document>')
    blob = _zip_of([("word/document.xml", doc)])
    secs, _tbls = parse_docx(blob, to_page=1)
    assert [s for s, _ in secs] == ["first", ""]
    secs0, _ = parse_docx(blob, to_page=0)
    assert [s for s, _ in secs0] == [""]


def test_docx_table_title_stops_without_higher_heading():
    # a Heading2 with no Heading1 above it: the upward chain walk
    # stops and the context is just the one heading
    from ragflow_spark.extractlib.docxparse import table_title_context
    blob = build_docx([("Deep section", "Heading2"), ("text", None)],
                      tables=[[["a", "b"], ["1", "2"]]])
    assert table_title_context(blob, "doc") == ["doc > Deep section"]


def test_docx_block_type_token_count_bands():
    from ragflow_spark.extractlib.docxparse import _block_type
    # 4-11 tokens -> Tx, 12+ -> Lx (CJK tokens avoid the En pattern)
    assert _block_type("数据 分析 管道 研究 模型") == "Tx"
    assert _block_type(" ".join(["数据"] * 13)) == "Lx"


def test_docx_table_empty_cell_skipped_in_row_render():
    from ragflow_spark.extractlib.docxparse import compose_table_content
    out = compose_table_content([["Name", "Qty"], ["x", ""],
                                 ["y", "2"]])
    assert out == ["Name: x\nName: y;Qty: 2"]


def test_pdf_table_batch_skips_non_pdf_payloads():
    import pandas as pd
    from functools import partial

    from ragflow_spark.job.extract import (TABLES_SCHEMA, _map_documents,
                                           _table_rows)
    pdf = pd.DataFrame({"url": ["a"], "html": [b"<html>not pdf</html>"]})
    out = list(_map_documents(iter([pdf]), partial(_table_rows, False),
                              TABLES_SCHEMA))
    assert len(out) == 1 and len(out[0]) == 0
