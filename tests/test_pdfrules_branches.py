"""Pin pdfrules rare-geometry arms the main suite never fired.

Covers: the char-merge leftover path (chars the detector rect can't
claim), the TOC filter's edge positions and its raw-regex prefix
semantics (pdf_parser.py:609 — the prefix is used as a PATTERN, so
'.' wildcards; an invalid-regex prefix crashes the reference and
degrades to a no-op here), layouts_cleanup's sub-threshold and
score-pop arms, filterout_scraps' usefull/page-break/y-break/DFS-blowup
arms, two updown-concat feature arms, concat_downward's blank-up
guard, and tag_layouts_columns' garbage drop.

Known parity-dead arm not covered: concat_downward's intra-block
``if not c["text"]: continue`` — every block tail passed the
non-blank gate at the DFS candidate check, in both trees
(pdf_parser.py:968-972).
"""

import pytest

from ragflow_spark.extractlib.pdfgen import build_pdf
from ragflow_spark.extractlib.pdfrules import (concat_downward,
                                               detect_two_column,
                                               filter_forpages,
                                               filterout_scraps,
                                               layouts_cleanup,
                                               ocr_char_merge,
                                               pdf_to_sections,
                                               tag_layouts_columns,
                                               updown_concat_features)


def _box(text, x0=72.0, x1=400.0, top=100.0, h=10.0, pn=1, **kw):
    return dict(text=text, x0=x0, x1=x1, top=top, bottom=top + h,
                page_number=pn, **kw)


def _t(boxes):
    return [b["text"] for b in boxes]


# ---- ocr_char_merge leftovers -------------------------------------


def test_char_merge_zero_width_char_left_out():
    chars = [
        _box("A", x0=72, x1=80, top=100),
        _box("B", x0=80, x1=88, top=100),
        # zero-width mark on its own baseline: zero overlap area with
        # every rect (including its own) -> leftovers, like the
        # reference's unclaimed chars bound for the recognizer model
        _box("́", x0=72, x1=72, top=300),
    ]
    out = ocr_char_merge(chars)
    assert _t(out) == ["AB"]


# ---- TOC filter edges ---------------------------------------------


def test_toc_header_as_last_box():
    boxes = [_box("intro text"), _box("目录")]
    assert _t(filter_forpages(boxes)) == ["intro text"]


def test_toc_skips_blank_lines_before_first_entry():
    boxes = [_box("目录"), _box("   "), _box(""),
             _box("1.2 Intro"), _box("toc body line"),
             _box("1.2 Intro"), _box("tail")]
    assert _t(filter_forpages(boxes)) == ["1.2 Intro", "tail"]


def test_toc_english_prefix_after_blank_lines():
    boxes = [_box("Contents"), _box("  "),
             _box("chapter one intro"), _box("toc junk"),
             _box("chapter one intro"), _box("tail")]
    assert _t(filter_forpages(boxes)) == ["chapter one intro", "tail"]


def test_toc_blank_run_to_end_crashes_like_reference():
    # pdf_parser.py:601-607 pops past the end identically: the inner
    # blank-skip loop exhausts the list, then the unconditional pop
    # raises IndexError in both trees
    with pytest.raises(IndexError):
        filter_forpages([_box("目录"), _box("  ")])


def test_toc_single_entry_then_end():
    boxes = [_box("目录"), _box("A.1")]
    assert _t(filter_forpages(boxes)) == []


def test_toc_prefix_matches_as_raw_regex():
    # '.' in the prefix wildcards, so "1.2" claims "1x2 heading" as
    # the TOC's end marker — reference semantics (raw re.match)
    boxes = [_box("目录"), _box("1.2 first entry"),
             _box("toc junk"), _box("1x2 heading"), _box("tail")]
    assert _t(filter_forpages(boxes)) == ["1x2 heading", "tail"]


def test_toc_invalid_regex_prefix_degrades():
    # the reference crashes compiling "(((" — we stop the TOC pass
    boxes = [_box("目录"), _box("((( entry"),
             _box("body"), _box("((x"), _box("end")]
    assert _t(filter_forpages(boxes)) == ["body", "((x", "end"]


# ---- detect_two_column --------------------------------------------


def test_detect_two_column_empty():
    assert detect_two_column([]) is False


# ---- pdf_to_sections chain route ----------------------------------


def test_chain_merge_matches_vertical_on_single_column():
    secs = [("1 Part 1", "alpha beta gamma delta " * 8),
            ("2 Part 2", "epsilon zeta eta theta " * 8)]
    blob = build_pdf("Paper X", secs)
    assert pdf_to_sections(blob, merge="chain") == \
        pdf_to_sections(blob, merge="vertical")


# ---- layouts_cleanup ----------------------------------------------


def _layout(x0, x1, top, bottom, type="text", **kw):
    return dict(x0=x0, x1=x1, top=top, bottom=bottom, type=type, **kw)


def test_layouts_cleanup_subthreshold_overlap_keeps_both():
    layouts = [_layout(0, 100, 0, 100), _layout(90, 190, 0, 100)]
    assert len(layouts_cleanup([], list(layouts))) == 2


def test_layouts_cleanup_score_pops_lower():
    lo = _layout(0, 100, 0, 100, score=0.4)
    hi = _layout(2, 102, 0, 100, score=0.9)
    out = layouts_cleanup([], [lo, hi])
    assert out == [hi]
    out = layouts_cleanup([], [hi, lo])
    assert out == [hi]


# ---- filterout_scraps ---------------------------------------------


def test_scraps_layout_typed_title_kept():
    b = _box("3.1 概述", x0=72, x1=120, h=8, layout_type="title")
    out = filterout_scraps([b], [612.0], [10.0])
    assert "3.1 概述" in out


def test_scraps_tall_narrow_box_useful_but_dropped():
    # taller than the page mean -> usefull, but the group's mean
    # width fails the 0.35*pw / 200pt keep rule
    b = _box("x", x0=72, x1=120, h=10)
    assert filterout_scraps([b], [612.0], [5.0]) == ""


def test_scraps_chain_breaks_at_page_boundary():
    b1 = _box("first page line one two three", x0=72, x1=400, top=700)
    b2 = _box("second page line one two three", x0=72, x1=400, top=100,
              pn=2)
    out = filterout_scraps([b1, b2], [612.0, 612.0], [10.0, 10.0])
    assert out.count("\n\n") == 1           # two separate groups


def test_scraps_chain_breaks_on_far_short_line():
    b1 = _box("short line one two three four", x0=72, x1=400, top=100)
    b2 = _box("far away line five six seven", x0=72, x1=400, top=200)
    out = filterout_scraps([b1, b2], [612.0], [10.0])
    assert out.count("\n\n") == 1


def test_scraps_dfs_blowup_swallowed():
    boxes = [_box(f"wide line number {i} with plenty of words",
                  x0=72, x1=400, top=i * 25.0, h=20)
             for i in range(1500)]
    out = filterout_scraps(boxes, [612.0], [10.0])
    assert "wide line number 0" in out      # partial chain survives


# ---- updown features ----------------------------------------------


def test_feature_unclosed_paren_continuation():
    up = _box("see (figure")
    down = _box("3) shows", top=114)
    assert updown_concat_features(up, down)[14] is True
    down2 = _box("unrelated", top=114)
    assert updown_concat_features(up, down2)[14] is False


def test_feature_tail_equality_needs_two_chars():
    up = _box("A")
    down = _box("xy", top=114)
    assert updown_concat_features(up, down)[20] is False


# ---- concat_downward blank-up guard -------------------------------


def test_concat_blank_up_never_chains():
    boxes = [_box("  ", top=100, R="r1", layoutno="text-1",
                  layout_type="text"),
             _box("hello world", top=114, R="r1", layoutno="text-1",
                  layout_type="text")]
    out = concat_downward(boxes, [10.0], [5.0])
    assert sorted(_t(out)) == ["  ", "hello world"]


# ---- tag_layouts_columns garbage ----------------------------------


def test_columns_tagger_drops_garbage():
    boxes = [_box("1 / 12"), _box("real body text", top=120)]
    out = tag_layouts_columns(boxes)
    assert _t(out) == ["real body text"]


@pytest.mark.parametrize("i, positive, negatives", [
    (0, "••", ["• •", "•x", ""]),
    (1, "3 / 12", ["3 /12x", "123 / 4", "3 - 12"]),
    (2, "1 of 10", ["1 of 100", "x1 of 10", "one of 10"]),
    (3, "http://example.org/x", ["http://short", "https://example.org/x",
                                 " http://example.org/x"]),
    (4, "(cid : 12 )", ["(cid:)", "(cid:12) x", "cid:12"]),
])
def test_compiled_garbage_gate_decides_like_the_pattern_list(
        i, positive, negatives):
    import re

    from ragflow_spark.extractlib.pdfrules import GARBAGE_RES, _GARBAGE

    assert re.search(GARBAGE_RES[i], positive)
    for txt in [positive, *negatives]:
        listed = any(re.search(p, txt) for p in GARBAGE_RES)
        assert bool(_GARBAGE.search(txt)) == listed, txt
    assert not any(re.search(p, t) for p in GARBAGE_RES for t in negatives)
