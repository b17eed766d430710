"""PDF table/figure extraction: box pop-out -> cross-page merge ->
caption attach -> TSR grid assembly.

Behavioral re-expression of ``_extract_table_figure``
(/root/reference/deepdoc/parser/pdf_parser.py:656-867) wired into the
existing table-structure rules (tablerules.construct_table).  The image
cropping half of the reference function (``cropout``, PIL page crops) is
dropped per the v1 position contract (SURVEY.md §2.4: crop dropped, text
and positions kept); tables render through construct_table and figures
through the caption+text join, exactly as the reference feeds
``tokenize_table`` (rag/nlp/__init__.py:346-375).

The ONNX layout model that assigns ``table`` / ``figure`` /
``* caption`` layout types is a model seam (SURVEY.md §2.4); its
deterministic rule stand-in here:

- a visual row holding >= 2 boxes is a table row; contiguous table rows
  form one table region (the grid geometry the model would box);
- ``Table <n>`` / ``Figure <n>`` leading text marks a caption box
  (the caption *classifier* role of the model; tablerules.is_caption
  then recognizes these downstream exactly as in the reference);
- a bracketed placeholder line ``[...]`` is a figure body (textless
  figures carry synthetic text boxes in the reference too,
  layout_recognizer.py:126-150).
"""

from __future__ import annotations

import re

from .pdfrules import (
    mean_heights,
    naive_vertical_merge,
    filter_forpages,
    layout_keep_rules,
    line_tag,
    sort_y_firstly,
    text_merge,
    x_dis,
    y_dis,
    _GARBAGE,
)
from .tablerules import construct_table, is_caption

_TABLE_CAPTION_RE = re.compile(r"^Table\s+[0-9]")
_FIGURE_CAPTION_RE = re.compile(r"^Figure\s+[0-9]")
_FIGURE_BODY_RE = re.compile(r"^\[.*\]$")
# pdf_parser.py:675/686: drop "(数据|资料|图表)来源:" source-note lines
_SOURCE_NOTE_RE = re.compile(r"(数据|资料|图表)*来源[:： ]")


def has_table_caption(boxes: list[dict]) -> bool:
    """Routing gate for the auto path: a document carrying an explicit
    ``Table n`` / ``Figure n`` caption line goes through the
    table-extraction chain (the layout model plays this routing role in
    the reference; caption text is the deterministic signal v1 keys on)."""
    return any(_TABLE_CAPTION_RE.match(b["text"].strip())
               or _FIGURE_CAPTION_RE.match(b["text"].strip())
               for b in boxes)


def tag_layouts_with_tables(boxes: list[dict]) -> list[dict]:
    """Rule stand-in for the layout model on table-bearing documents:
    same title/text height rules and garbage gates as
    pdfrules.tag_layouts, plus table/figure/caption types per the module
    docstring. Table cells in one contiguous run share a ``layoutno``
    (the region id the reference model would emit), so the pop-out scan
    keys them into one ``page-layoutno`` bucket per page."""
    # visual rows: boxes sharing (page, top) — grid rows have >= 2 cells
    row_counts: dict[tuple, int] = {}
    for b in boxes:
        key = (b["page_number"], round(b["top"], 1))
        row_counts[key] = row_counts.get(key, 0) + 1

    out: list[dict] = []
    layoutno = -1
    last_type: str | None = None
    for b in boxes:
        txt = b["text"].strip()
        if _GARBAGE.search(txt):
            continue
        if _TABLE_CAPTION_RE.match(txt):
            ltype = "table caption"
        elif _FIGURE_CAPTION_RE.match(txt):
            ltype = "figure caption"
        elif _FIGURE_BODY_RE.match(txt):
            ltype = "figure"
        elif row_counts[(b["page_number"], round(b["top"], 1))] >= 2:
            ltype = "table"
        else:
            ltype = "title" if b.get("height", 10) >= 13 else "text"
        if ltype == "title" or "caption" in ltype or last_type != ltype:
            layoutno += 1
        b = dict(b)
        b["layout_type"] = ltype
        b["layoutno"] = f"{ltype}-{layoutno}"
        last_type = ltype
        out.append(b)
    return out


def extract_table_figure(boxes: list[dict], mh: list[float],
                         return_html: bool = False,
                         is_english: bool = True):
    """pdf_parser.py:656-867 minus image crops.

    Returns ``(remaining_boxes, tables, figures)`` where each table is
    construct_table's rendering (list of desc-row strings, or one HTML
    string when ``return_html``) and each figure is its caption+text
    join. ``boxes`` must already carry layout types/regions.
    """
    boxes = [dict(b) for b in boxes]
    tables: dict[str, list[dict]] = {}
    figures: dict[str, list[dict]] = {}

    # pop table/figure boxes by layout region (ref :660-694)
    i = 0
    lst_lout_no = ""
    nomerge_lout_no: list[str] = []
    while i < len(boxes):
        if "layoutno" not in boxes[i]:
            i += 1
            continue
        lout_no = f"{boxes[i]['page_number']}-{boxes[i]['layoutno']}"
        if is_caption(boxes[i]) or boxes[i]["layout_type"] in (
                "table caption", "title", "figure caption", "reference"):
            nomerge_lout_no.append(lst_lout_no)
        if boxes[i]["layout_type"] == "table":
            if _SOURCE_NOTE_RE.match(boxes[i]["text"]):
                boxes.pop(i)
                continue
            tables.setdefault(lout_no, []).append(boxes[i])
            boxes.pop(i)
            lst_lout_no = lout_no
            continue
        if boxes[i]["layout_type"] == "figure":
            if _SOURCE_NOTE_RE.match(boxes[i]["text"]):
                boxes.pop(i)
                continue
            figures.setdefault(lout_no, []).append(boxes[i])
            boxes.pop(i)
            lst_lout_no = lout_no
            continue
        i += 1

    # merge continuation tables across pages (ref :696-716): <= 1 page
    # apart, vertical gap under 23x the later page's mean line height,
    # and no caption/title intervened after the earlier part
    nomerge = set(nomerge_lout_no)
    tbls = sorted(tables.items(),
                  key=lambda x: (x[1][0]["top"], x[1][0]["x0"]))
    i = len(tbls) - 1
    while i - 1 >= 0:
        k0, bxs0 = tbls[i - 1]
        k, bxs = tbls[i]
        i -= 1
        if k0 in nomerge:
            continue
        if bxs[0]["page_number"] == bxs0[0]["page_number"]:
            continue
        if bxs[0]["page_number"] - bxs0[0]["page_number"] > 1:
            continue
        pg = bxs[0]["page_number"] - 1
        pmh = mh[pg] if mh and 0 <= pg < len(mh) else 10.0
        if y_dis(bxs0[-1], bxs[0]) > pmh * 23:
            continue
        tables[k0].extend(tables[k])
        del tables[k]

    def x_overlapped(a: dict, b: dict) -> bool:
        return not any([a["x1"] < b["x0"], a["x0"] > b["x1"]])

    # attach each caption box to the nearest table/figure (ref :722-769)
    i = 0
    while i < len(boxes):
        c = boxes[i]
        if not is_caption(c):
            i += 1
            continue

        def nearest(regions: dict[str, list[dict]]):
            mink, minv = "", 1000000000.0
            for k, bxs in regions.items():
                for b in bxs:
                    if b.get("layout_type", "").find("caption") >= 0:
                        continue
                    ydis = y_dis(c, b)
                    xdis = x_dis(c, b) if not x_overlapped(c, b) else 0
                    dis = ydis * ydis + xdis * xdis
                    if dis < minv:
                        mink, minv = k, dis
            return mink, minv

        tk, tv = nearest(tables)
        fk, fv = nearest(figures)
        if tv < fv and tk:
            tables[tk].insert(0, c)
        elif fk:
            figures[fk].insert(0, c)
        boxes.pop(i)

    # render (ref :824-848, image crops dropped)
    figs_out = []
    for _, bxs in figures.items():
        txt = "\n".join(b["text"] for b in bxs)
        if not txt:
            continue
        figs_out.append(txt)

    tbls_out = []
    for _, bxs in tables.items():
        if not bxs:
            continue
        bxs = sort_y_firstly(
            bxs, sum((b["bottom"] - b["top"]) / 2 for b in bxs) / len(bxs))
        tbls_out.append(construct_table(bxs, is_english=is_english,
                                        html=return_html))
    return boxes, tbls_out, figs_out


def pdf_to_sections_tables(blob: bytes, return_html: bool = False,
                           boxes: list[dict] | None = None):
    """Full table-aware rule chain: parse -> table-aware layout tagging
    -> _text_merge -> _extract_table_figure -> TOC filter -> vertical
    merge. Returns ``(sections, tables, figures)`` — sections in the
    same (tagged_text, layout_type) shape as pdfrules.pdf_to_sections,
    mirroring the reference book/naive call order
    (rag/app/book.py:49-62). ``boxes`` skips the re-parse when the
    caller already extracted them (the auto-routing path)."""
    from .pdfplain import total_page_number
    from .pdfrules import parse_boxes_normalized

    if boxes is None:
        boxes = parse_boxes_normalized(blob)
    if not boxes:
        return [], [], []
    n_pages = total_page_number(blob)
    boxes = layout_keep_rules(boxes)
    boxes = tag_layouts_with_tables(boxes)
    mh = mean_heights(boxes, n_pages)
    boxes = text_merge(boxes, mh)
    boxes, tables, figures = extract_table_figure(
        boxes, mh, return_html=return_html)
    boxes = filter_forpages(boxes)
    boxes = naive_vertical_merge(boxes, mh)
    sections = [
        (b["text"].rstrip() + line_tag(b), b["layout_type"])
        for b in boxes if b["text"].strip()
    ]
    return sections, tables, figures
