"""Table/figure extraction chain (pdftables.py), _text_merge, and the
invisible-text filter — unit level (the Spark/oracle layer covers the
same paths end-to-end via extract_pdf_{frag,hidden,tbody,tables})."""

import pytest

from ragflow_spark.extractlib.pdfgen import (
    build_pdf,
    build_pdf_table,
)
from ragflow_spark.extractlib.pdfplain import parse_pdf_boxes
from ragflow_spark.extractlib.pdfrules import (detect_two_column,
                                               pdf_to_sections, text_merge)
from ragflow_spark.extractlib.pdftables import (
    extract_table_figure,
    has_table_caption,
    pdf_to_sections_tables,
    tag_layouts_with_tables,
)
from ragflow_spark.extractlib.templates import pdf_text

SECS = [
    ("1 Part 1", "alpha beta gamma delta epsilon zeta eta theta "
                 "iota kappa lam mu"),
    ("2 Part 2", "one two three four five six seven eight nine ten "
                 "eleven twelve"),
]
ROWS = [["50", "92", "38"], ["51", "95", "69"], ["52", "100", "0"],
        ["53", "107", "31"]]


def _table_blob(split=False):
    return build_pdf_table("Paper 7", SECS, ["metric", "value", "delta"],
                           ROWS, "Table 1 Paper 7", "[chart 7]",
                           "Figure 1 Paper 7", split=split)


def test_text_merge_stitches_fragments_byte_identical():
    plain = pdf_text(pdf_to_sections(build_pdf("Paper 7", SECS)))
    frag = pdf_text(pdf_to_sections(
        build_pdf("Paper 7", SECS, fragment=True)))
    assert frag == plain


def test_text_merge_skips_table_regions():
    boxes = [
        {"text": "a ", "x0": 0, "x1": 10, "top": 0, "bottom": 10,
         "page_number": 1, "layoutno": "table-1", "layout_type": "table"},
        {"text": "b", "x0": 10, "x1": 20, "top": 0, "bottom": 10,
         "page_number": 1, "layoutno": "table-1", "layout_type": "table"},
    ]
    assert len(text_merge(boxes, [10.0])) == 2


def test_hidden_text_dropped_byte_identical():
    plain = pdf_text(pdf_to_sections(build_pdf("Paper 7", SECS)))
    hidden = pdf_text(pdf_to_sections(
        build_pdf("Paper 7", SECS, hidden=True)))
    assert hidden == plain
    # the hidden line really is in the bytes
    assert b"hidden" in build_pdf("Paper 7", SECS, hidden=True)


def test_visible_white_stroke_only_is_kept():
    # only BOTH gray==1 hides (reference _has_color, pdf_parser.py:197)
    from ragflow_spark.extractlib.pdfplain import _has_color
    assert _has_color(1.0, 0.0, "abc")
    assert _has_color(0.0, 1.0, "abc")
    assert not _has_color(1.0, 1.0, "abc")
    # anchored-prefix quirk: uppercase-led text is never hidden
    assert _has_color(1.0, 1.0, "ABC")


def test_fragmented_doc_is_not_two_column():
    boxes = parse_pdf_boxes(build_pdf("Paper 7", SECS, fragment=True))
    assert not detect_two_column(boxes)


def test_table_caption_routing_gate():
    assert has_table_caption(parse_pdf_boxes(_table_blob()))
    assert not has_table_caption(
        parse_pdf_boxes(build_pdf("Paper 7", SECS)))


def test_tag_layouts_with_tables_types():
    boxes = tag_layouts_with_tables(parse_pdf_boxes(_table_blob()))
    types = {b["layout_type"] for b in boxes}
    assert {"table", "table caption", "figure",
            "figure caption", "title", "text"} <= types
    cells = [b for b in boxes if b["layout_type"] == "table"]
    # one contiguous region: 5 rows x 3 cols on one page
    assert len(cells) == 15
    assert len({b["layoutno"] for b in cells}) == 1


def test_extract_table_figure_desc_rows():
    _secs, tables, figures = pdf_to_sections_tables(_table_blob())
    assert figures == ["Figure 1 Paper 7\n[chart 7]"]
    assert len(tables) == 1
    assert tables[0] == [
        "metric：50; value：92; delta：38\t—— in “Table 1 Paper 7”",
        "metric：51; value：95; delta：69\t—— in “Table 1 Paper 7”",
        "metric：52; value：100; delta：0\t—— in “Table 1 Paper 7”",
        "metric：53; value：107; delta：31\t—— in “Table 1 Paper 7”",
    ]


def test_cross_page_table_merges_to_same_output():
    whole = pdf_to_sections_tables(_table_blob(split=False))
    split = pdf_to_sections_tables(_table_blob(split=True))
    assert split[1] == whole[1]
    assert split[2] == whole[2]


def test_table_html_rendering():
    tables = pdf_to_sections_tables(_table_blob(), return_html=True)[1]
    assert len(tables) == 1
    html = tables[0]
    assert html.startswith("<table><caption>Table 1 Paper 7</caption>")
    assert "<tr><th  >metric</th><th  >value</th><th  >delta</th></tr>" \
        in html
    assert html.count("<tr>") == 5
    assert html.endswith("\n</table>")


def test_body_text_unchanged_by_table_popout():
    plain = pdf_text(pdf_to_sections(build_pdf("Paper 7", SECS)))
    with_table = pdf_text(pdf_to_sections(_table_blob()))
    assert with_table == plain


def test_source_note_lines_dropped():
    boxes = tag_layouts_with_tables(parse_pdf_boxes(_table_blob()))
    # inject a source-note box into the table region
    note = dict(boxes[0])
    note.update(text="数据来源: somewhere", layout_type="table",
                layoutno=next(b["layoutno"] for b in boxes
                              if b["layout_type"] == "table"))
    boxes.append(note)
    _rem, tables, _figs = extract_table_figure(boxes, [10.0] * 10)
    assert all("来源" not in r for t in tables for r in t)


def test_header_footer_dropped_byte_identical():
    plain = pdf_text(pdf_to_sections(build_pdf("Paper 7", SECS)))
    hf = pdf_text(pdf_to_sections(
        build_pdf("Paper 7", SECS, header_footer=True)))
    assert hf == plain
    assert b"preprint" in build_pdf("Paper 7", SECS, header_footer=True)


def test_layout_keep_rules_drop_and_counter():
    from ragflow_spark.extractlib.pdfrules import layout_keep_rules

    def box(text, top, bottom, pn=1):
        return {"text": text, "x0": 72, "x1": 172, "top": top,
                "bottom": bottom, "page_number": pn}

    boxes = [
        box("Running Head", 5, 13),          # header band -> dropped
        box("Running Head", 20, 28),         # header band -> dropped
        box("Body line", 300, 310),
        box("Running Head", 400, 410),       # body, Counter-dropped
        box("Page 1", 770, 778),             # footer band -> dropped
    ]
    out = layout_keep_rules(boxes)
    assert [b["text"] for b in out] == ["Body line"]


def test_layout_keep_rules_keep_feats():
    """Reference keep feats (layout_recognizer.py:113-118): a 'header'
    region box whose top is below 10% of the page survives, a 'footer'
    region box whose bottom is above 90% survives. Exercised with a
    wider detection band (the model-overreach scenario)."""
    from ragflow_spark.extractlib.pdfrules import layout_keep_rules

    boxes = [
        # 11% of 792 = 87.1 -> inside a 12% band, but top > 10% -> keep
        {"text": "kept head", "x0": 0, "x1": 10, "top": 88,
         "bottom": 98, "page_number": 1},
        # bottom 705 < 90% of 792 (712.8) but inside 12% footer band
        # (top >= 697) -> keep
        {"text": "kept foot", "x0": 0, "x1": 10, "top": 699,
         "bottom": 705, "page_number": 1},
        # genuinely at the edge -> dropped even with the wide band
        {"text": "dropped", "x0": 0, "x1": 10, "top": 2,
         "bottom": 10, "page_number": 1},
    ]
    out = layout_keep_rules(boxes, band=0.12)
    assert [b["text"] for b in out] == ["kept head", "kept foot"]


def test_char_merge_byte_identical():
    plain = pdf_text(pdf_to_sections(build_pdf("Paper 7", SECS)))
    chars = pdf_text(pdf_to_sections(
        build_pdf("Paper 7", SECS, char_level=True)))
    assert chars == plain


def test_ocr_char_merge_rules():
    from ragflow_spark.extractlib.pdfrules import (is_char_level,
                                                   ocr_char_merge)

    def ch(text, x, top, h=10.0, pn=1):
        return {"text": text, "x0": x, "x1": x + 5, "top": top,
                "bottom": top + h, "page_number": pn, "height": h}

    chars = [ch(c, 72 + 5 * i, 100) for i, c in enumerate("ab cd")]
    assert is_char_level(chars)
    out = ocr_char_merge(chars)
    assert [b["text"] for b in out] == ["ab cd"]

    # the space rule gates only spaces after EXISTING text (reference
    # quirk: a space into an empty rect falls through the else branch
    # and is kept); space after ',' (in the class) appends
    chars = [ch(" ", 72, 100), ch("a", 77, 100), ch(",", 82, 100),
             ch(" ", 87, 100), ch("b", 92, 100)]
    assert ocr_char_merge(chars)[0]["text"] == " a, b"

    # height-mismatch chars fall out (>= 0.7 relative difference from
    # their rect — here the tall glyphs own the row rect and the small
    # one is evicted to the leftovers)
    chars = [ch("A", 72, 100, h=40.0), ch("B", 92, 100, h=40.0),
             ch("x", 112, 100, h=10.0)]
    assert [b["text"] for b in ocr_char_merge(chars)] == ["AB"]

    # two baselines -> two line rects in reading order
    chars = [ch("a", 72, 100), ch("b", 77, 100),
             ch("c", 72, 114), ch("d", 77, 114)]
    assert [b["text"] for b in ocr_char_merge(chars)] == ["ab", "cd"]


def test_line_level_not_char_detected():
    from ragflow_spark.extractlib.pdfrules import is_char_level
    boxes = parse_pdf_boxes(build_pdf("Paper 7", SECS))
    assert not is_char_level(boxes)


def test_empty_and_garbage_blobs():
    assert pdf_to_sections_tables(b"") == ([], [], [])
    assert pdf_to_sections_tables(b"%PDF-1.4 garbage") == ([], [], [])


def _tbox(text, top, pn=1, lt=None, lno=None, h=12, **kw):
    b = dict(text=text, x0=72.0, x1=400.0, top=float(top),
             bottom=float(top) + h, page_number=pn, height=h)
    if lt is not None:
        b["layout_type"] = lt
    if lno is not None:
        b["layoutno"] = lno
    b.update(kw)
    return b


def test_tag_layouts_drops_garbage_lines():
    from ragflow_spark.extractlib.pdftables import tag_layouts_with_tables
    out = tag_layouts_with_tables([_tbox("1 / 12", 100),
                                   _tbox("body text", 130)])
    assert [b["text"] for b in out] == ["body text"]


def test_extract_table_figure_pop_and_merge_guards():
    from ragflow_spark.extractlib.pdftables import extract_table_figure
    boxes = [
        _tbox("plain", 50),                                 # no layoutno
        _tbox("来源：wind", 100, lt="table", lno="t-1"),
        _tbox("图表来源: wind", 105, lt="figure", lno="f-0"),
        _tbox("r1", 120, lt="table", lno="t-1", R=0, C=0),
        _tbox("", 500, lt="figure", lno="f-1"),             # empty figure
    ]
    rem, tbls, figs = extract_table_figure(boxes, [10.0])
    # both source notes popped, the empty figure renders nothing
    assert figs == []
    assert len(tbls) == 1
    assert [b["text"] for b in rem] == ["plain"]


def test_table_merge_same_page_and_far_gap_stay_separate():
    from ragflow_spark.extractlib.pdftables import extract_table_figure
    boxes = [
        _tbox("a", 100, lt="table", lno="t-1", R=0, C=0),
        _tbox("b", 200, lt="table", lno="t-2", R=0, C=0),   # same page
        _tbox("c", 5000, pn=2, lt="table", lno="t-3", R=0, C=0),  # far y
    ]
    _rem, tbls, _figs = extract_table_figure(boxes, [10.0, 10.0])
    assert len(tbls) == 3


def test_table_merge_caption_and_page_distance_guards():
    from ragflow_spark.extractlib.pdftables import extract_table_figure
    boxes = [
        _tbox("a", 100, lt="table", lno="t-1", R=0, C=0),
        # caption right after t-1 marks it no-merge
        _tbox("Table 2 next", 150, lt="table caption", lno="tc-1"),
        _tbox("b", 300, pn=2, lt="table", lno="t-2", R=0, C=0),
        # two pages further on: the <=1-page-apart gate drops the pair
        _tbox("c", 320, pn=4, lt="table", lno="t-3", R=0, C=0),
    ]
    _rem, tbls, _figs = extract_table_figure(boxes,
                                             [10.0, 10.0, 10.0, 10.0])
    assert len(tbls) == 3
