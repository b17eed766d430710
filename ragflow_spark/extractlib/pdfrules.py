"""DeepDOC-style geometric box rules over extracted PDF text boxes.

Behavioral re-expressions of the reference's per-document rule chain
(everything here runs *inside* one document, i.e. inside an Arrow batch
in the Spark job — the rules are sequential per doc by design, exactly
like the reference where one task owns a page range):

- fuzzy sorts           /root/reference/deepdoc/vision/recognizer.py:54-72
- layout tagging (stub) /root/reference/deepdoc/vision/layout_recognizer.py:60-157
- vertical merge        /root/reference/deepdoc/parser/pdf_parser.py:421-470
- TOC / dirty filter    pdf_parser.py:581-630
- same-bullet merge     pdf_parser.py:632-654
- position-tag codec    pdf_parser.py:893-908 (_line_tag), :905 format
                        kept verbatim — the tags are part of the span
                        output contract; rag/nlp/__init__.py:321-333
                        (add_positions) parses them back.

Model-inference seams (ONNX layout detector, TSR, xgb concat) are
replaced by deterministic rules per SURVEY.md §2.4: layout type comes
from font height + garbage regexes (the reference's own post-model
keep/drop rules), and the concat decision uses the rule fallback only.
"""

from __future__ import annotations

import re
from functools import cmp_to_key
from statistics import median

from .pdfplain import PAGE_H

PAGE_W = 612.0  # US-Letter width, the synthetic corpus media box

GARBAGE_RES = [
    r"^•+$",
    r"^[0-9]{1,2} / ?[0-9]{1,2}$",
    r"^[0-9]{1,2} of [0-9]{1,2}$",
    r"^http://[^ ]{12,}",
    r"^\(cid *: *[0-9]+ *\)$",
]
# the reference gates as one search: a box is garbage iff any matches
_GARBAGE = re.compile("|".join(f"(?:{p})" for p in GARBAGE_RES))


def sort_y_firstly(arr: list[dict], threshold: float) -> list[dict]:
    """(top fuzzy, x0) comparator sort (recognizer.py:54-63)."""
    def cmp(c1, c2):
        diff = c1["top"] - c2["top"]
        if abs(diff) < threshold:
            diff = c1["x0"] - c2["x0"]
        return diff
    return sorted(arr, key=cmp_to_key(cmp))


def sort_x_firstly(arr: list[dict], threshold: float) -> list[dict]:
    """(x0 fuzzy, top) comparator sort (recognizer.py:65-72)."""
    def cmp(c1, c2):
        diff = c1["x0"] - c2["x0"]
        if abs(diff) < threshold:
            diff = c1["top"] - c2["top"]
        return diff
    return sorted(arr, key=cmp_to_key(cmp))


def tag_layouts(boxes: list[dict]) -> list[dict]:
    """Rule-based stand-in for the layout model: title/text from font
    height, garbage filtered by the reference's own regex gates
    (layout_recognizer.py:103-124). Assigns ``layoutno`` so that each
    title box and each run of body lines under it form distinct layout
    regions (the property downstream merge rules depend on)."""
    out = []
    layoutno = -1
    last_type = None
    for b in boxes:
        txt = b["text"].strip()
        if _GARBAGE.search(txt):
            continue
        ltype = "title" if b.get("height", 10) >= 13 else "text"
        if ltype == "title" or last_type != ltype:
            layoutno += 1
        b = dict(b)
        b["layout_type"] = ltype
        b["layoutno"] = f"{ltype}-{layoutno}"
        last_type = ltype
        out.append(b)
    return out


def mean_heights(boxes: list[dict], n_pages: int) -> list[float]:
    """Per-page median box height (pdf_parser.py:1074-1078 semantics)."""
    heights = [[] for _ in range(max(n_pages, 1))]
    for b in boxes:
        pn = b["page_number"] - 1
        if 0 <= pn < len(heights):
            heights[pn].append(b["bottom"] - b["top"])
    return [median(h) if h else 10.0 for h in heights]


def naive_vertical_merge(boxes: list[dict], mh: list[float],
                         is_english: bool = True) -> list[dict]:
    """Merge-down pass (pdf_parser.py:421-470 live semantics: text is
    concatenated with NO separator — the corpus/extractor contract makes
    line text carry its own trailing space)."""
    if not boxes:
        return []
    overall = median([m for m in mh]) if mh else 10.0
    bxs = sort_y_firstly(boxes, overall / 3)
    i = 0
    while i + 1 < len(bxs):
        b, b_ = bxs[i], bxs[i + 1]
        if b["page_number"] < b_["page_number"] and re.match(
                r"[0-9  •一—-]+$", b["text"]):
            bxs.pop(i)
            continue
        if not b["text"].strip():
            bxs.pop(i)
            continue
        concatting_feats = [
            b["text"].strip()[-1] in ",;:'\"，、‘“；：-",
            len(b["text"].strip()) > 1
            and b["text"].strip()[-2] in ",;:'\"，‘“、；：",
            bool(b_["text"].strip())
            and b_["text"].strip()[0] in "。；？！?”）),，、：",
        ]
        feats = [
            b.get("layoutno", 0) != b_.get("layoutno", 0),
            b["text"].strip()[-1] in "。？！?",
            is_english and b["text"].strip()[-1] in ".!?",
            b["page_number"] == b_["page_number"]
            and b_["top"] - b["bottom"] > mh[b["page_number"] - 1] * 1.5,
            b["page_number"] < b_["page_number"]
            and abs(b["x0"] - b_["x0"]) > 4 * 10.0,
        ]
        detach_feats = [b["x1"] < b_["x0"], b["x0"] > b_["x1"]]
        if (any(feats) and not any(concatting_feats)) or any(detach_feats):
            i += 1
            continue
        b["bottom"] = b_["bottom"]
        b["text"] += b_["text"]
        b["x0"] = min(b["x0"], b_["x0"])
        b["x1"] = max(b["x1"], b_["x1"])
        bxs.pop(i + 1)
    return bxs


def is_char_level(boxes: list[dict]) -> bool:
    """True when the extractor yielded character soup rather than whole
    lines (a scanned/char-positioned PDF): >= 80% of boxes hold at most
    one non-space character. Plays the granularity-detection role that
    is implicit in the reference (pdfplumber always yields chars; the
    OCR detector always yields line rects)."""
    if not boxes:
        return False
    short = sum(1 for b in boxes if len(b["text"].strip()) <= 1)
    return short / len(boxes) >= 0.8


def ocr_char_merge(chars: list[dict]) -> list[dict]:
    """Char -> line-rect merge (pdf_parser.py:296-352 ``__ocr``, minus
    the two model calls): the OCR *detector*'s line rects are stood in
    by the char rows themselves (one rect per (page, baseline), the
    geometry a detector would box on a born-digital page); the merge
    rules then run verbatim — chars Y-first-sorted at mean_height//4,
    assigned to their most-overlapping rect (find_overlapped), dropped
    to the leftovers when char/rect heights disagree by >= 0.7, and a
    space char appends only after `[0-9a-zA-Zа-яА-Я,.?;:!%]` (the
    space-insertion rule at :325-327). Rects that end up with no text
    would go to the OCR *recognizer* in the reference — with the model
    seam stubbed they drop out."""
    if not chars:
        return []
    heights = [c["bottom"] - c["top"] for c in chars]
    mh = median(heights)

    rects_map: dict[tuple, dict] = {}
    for c in chars:
        key = (c["page_number"], round(c["top"], 1))
        r = rects_map.get(key)
        if r is None:
            rects_map[key] = {
                "x0": c["x0"], "x1": c["x1"], "top": c["top"],
                "bottom": c["bottom"], "text": "",
                "page_number": c["page_number"],
                "height": c.get("height", c["bottom"] - c["top"]),
            }
        else:
            r["x0"] = min(r["x0"], c["x0"])
            r["x1"] = max(r["x1"], c["x1"])
            r["top"] = min(r["top"], c["top"])
            r["bottom"] = max(r["bottom"], c["bottom"])
    rects = sort_y_firstly(list(rects_map.values()), mh / 3)

    lefted = []
    for c in sort_y_firstly(chars, mh // 4):
        ii = find_overlapped(c, rects)
        if ii is None:
            lefted.append(c)
            continue
        ch = c["bottom"] - c["top"]
        bh = rects[ii]["bottom"] - rects[ii]["top"]
        if abs(ch - bh) / max(ch, bh) >= 0.7 and c["text"] != " ":
            lefted.append(c)
            continue
        if c["text"] == " " and rects[ii]["text"]:
            if re.match(r"[0-9a-zA-Zа-яА-Я,.?;:!%]",
                        rects[ii]["text"][-1]):
                rects[ii]["text"] += " "
        else:
            rects[ii]["text"] += c["text"]
    return [r for r in rects if r["text"].strip()]


def parse_boxes_normalized(blob: bytes) -> list[dict]:
    """Parse + granularity normalization: char-level documents go
    through the __ocr char->line merge; line-level documents just shed
    whitespace-only boxes (the pre-round-2 behavior)."""
    from .pdfplain import parse_pdf_boxes

    boxes = parse_pdf_boxes(blob, keep_spaces=True)
    if is_char_level(boxes):
        return ocr_char_merge(boxes)
    return [b for b in boxes if b["text"].strip()]


def layout_keep_rules(boxes: list[dict],
                      page_heights: list[float] | None = None,
                      drop: bool = True,
                      band: float = 0.05) -> list[dict]:
    """Header/footer drop + repeated-garbage Counter
    (layout_recognizer.py:103-157).

    The ONNX layout model's header/footer region proposals are a model
    seam; the deterministic stand-in tags a box header/footer when it
    sits in the page's top/bottom 5% edge band (running heads/folios
    live there; body text at normal margins cannot).  The reference's
    keep feats then apply verbatim — a "footer" whose bottom is above
    90% of the page, or a "header" whose top is below 10%, survives
    (guards against region overreach; with the precise 5% band they are
    provably inactive in this pipeline, kept for parity and unit-tested
    with synthetic regions).  Texts dropped more than once anywhere are
    then dropped everywhere (the repeated-garbage Counter at :151-157 —
    this is what removes a running head that also leaked into the body
    flow)."""
    from collections import Counter

    ph_list = page_heights or []

    def page_h(p: int) -> float:
        return ph_list[p - 1] if 0 <= p - 1 < len(ph_list) else PAGE_H

    garbages: list[str] = []
    out: list[dict] = []
    for b in boxes:
        pn = b["page_number"]
        ph = page_h(pn)
        cum = sum(page_h(p) for p in range(1, pn))
        rel_top = b["top"] - cum
        rel_bottom = b["bottom"] - cum
        region = None
        if rel_top < band * ph:
            region = "header"
        elif rel_bottom > (1.0 - band) * ph:
            region = "footer"
        if region and drop:
            keep_feats = [
                region == "footer" and rel_bottom < ph * 0.9,
                region == "header" and rel_top > ph * 0.1,
            ]
            if not any(keep_feats):
                garbages.append(b["text"].strip())
                continue
        out.append(b)
    counts = Counter(garbages)
    garbage_set = {t for t, c in counts.items() if c > 1}
    if not garbage_set:
        return out
    return [b for b in out if b["text"].strip() not in garbage_set]


def text_merge(boxes: list[dict], mh: list[float]) -> list[dict]:
    """Horizontal merge of adjacent same-layout boxes BEFORE any vertical
    merging (pdf_parser.py:365-397 live semantics: everything after the
    unconditional ``continue`` at :397 is dead code and is not mirrored).

    Merges bxs[i] <- bxs[i+1] when they share a layout region, the region
    is not table/figure/equation, and their vertical centers are within a
    third of the page's mean line height — i.e. fragments of one visual
    line that the extractor produced as separate rects. Text concatenates
    with no separator (the fragment carries its own trailing space, same
    contract as the vertical merge)."""
    bxs = [dict(b) for b in boxes]
    i = 0
    while i < len(bxs) - 1:
        b, b_ = bxs[i], bxs[i + 1]
        if b.get("layoutno", "0") != b_.get("layoutno", "1") or \
                b.get("layout_type", "") in ("table", "figure", "equation"):
            i += 1
            continue
        pmh = mh[b["page_number"] - 1] if (
            mh and 0 <= b["page_number"] - 1 < len(mh)) else 10.0
        if abs(y_dis(b, b_)) < pmh / 3:
            b["x1"] = b_["x1"]
            b["top"] = (b["top"] + b_["top"]) / 2
            b["bottom"] = (b["bottom"] + b_["bottom"]) / 2
            b["text"] += b_["text"]
            bxs.pop(i + 1)
            continue
        i += 1
    return bxs


def filter_forpages(boxes: list[dict]) -> list[dict]:
    """TOC-run removal (pdf_parser.py:581-630, list-in/list-out)."""
    boxes = list(boxes)
    i = 0
    while i < len(boxes):
        if not re.match(
                r"(contents|目录|目次|table of contents|致谢|acknowledge)$",
                re.sub(r"( | |　)+", "",
                       boxes[i]["text"].lower())):
            i += 1
            continue
        eng = re.match(r"[0-9a-zA-Z :'.-]{5,}", boxes[i]["text"].strip())
        boxes.pop(i)
        if i >= len(boxes):
            break
        prefix = (boxes[i]["text"].strip()[:3] if not eng
                  else " ".join(boxes[i]["text"].strip().split()[:2]))
        while not prefix:
            boxes.pop(i)
            if i >= len(boxes):
                break
            prefix = (boxes[i]["text"].strip()[:3] if not eng
                      else " ".join(boxes[i]["text"].strip().split()[:2]))
        boxes.pop(i)
        if i >= len(boxes) or not prefix:
            break
        # the raw prefix is the pattern (pdf_parser.py:609): '.' in a
        # TOC entry like "1.2" wildcards; an invalid-regex prefix
        # crashes the reference — degrade to removing nothing
        try:
            prefix_re = re.compile(prefix)
        except re.error:
            break
        for j in range(i, min(i + 128, len(boxes))):
            if not prefix_re.match(boxes[j]["text"]):
                continue
            for _ in range(i, j):
                boxes.pop(i)
            break
    return boxes


def merge_with_same_bullet(boxes: list[dict]) -> list[dict]:
    """Merge consecutive boxes opening with the same bullet char
    (pdf_parser.py:632-654)."""
    boxes = [dict(b) for b in boxes]
    i = 0
    while i + 1 < len(boxes):
        b, b_ = boxes[i], boxes[i + 1]
        if not b["text"].strip():
            boxes.pop(i)
            continue
        if not b_["text"].strip():
            boxes.pop(i + 1)
            continue
        c0, c1 = b["text"].strip()[0], b_["text"].strip()[0]
        if (c0 != c1 or c0.lower() in set("qwertyuopasdfghjklzxcvbnm")
                or "一" <= c0 <= "鿿" or b["top"] > b_["bottom"]):
            i += 1
            continue
        b_["text"] = b["text"] + "\n" + b_["text"]
        b_["x0"] = min(b["x0"], b_["x0"])
        b_["x1"] = max(b["x1"], b_["x1"])
        b_["top"] = b["top"]
        boxes.pop(i)
    return boxes


def line_tag(bx: dict, page_heights: list[float] | None = None) -> str:
    """Position tag codec (pdf_parser.py:893-908, format verbatim).
    ``top`` in the tag is page-relative; multi-page spans list pages
    joined by '-'."""
    pn = [bx["page_number"]]
    ph = page_heights or []

    def page_h(p: int) -> float:
        return ph[p - 1] if 0 <= p - 1 < len(ph) else PAGE_H

    cum = sum(page_h(p) for p in range(1, pn[0]))
    top = bx["top"] - cum
    bott = bx["bottom"] - cum
    while bott > page_h(pn[-1]):
        bott -= page_h(pn[-1])
        pn.append(pn[-1] + 1)
    return "@@{}\t{:.1f}\t{:.1f}\t{:.1f}\t{:.1f}##".format(
        "-".join(str(p) for p in pn), bx["x0"], bx["x1"], top, bott)


_TAG_RE = re.compile(r"@@[0-9-]+\t[0-9.\t]+##")


def remove_tag(txt: str) -> str:
    """pdf_parser.py:1126-1127."""
    return _TAG_RE.sub("", txt)


def parse_positions(txt: str) -> list[tuple[list[int], float, float,
                                            float, float]]:
    """Parse @@..## tags back into (pages, x0, x1, top, bottom)
    (add_positions input shape, rag/nlp/__init__.py:321-333)."""
    out = []
    for m in re.finditer(r"@@([0-9-]+)\t([0-9.]+)\t([0-9.]+)\t([0-9.]+)"
                         r"\t([0-9.]+)##", txt):
        pages = [int(p) for p in m.group(1).split("-")]
        out.append((pages, float(m.group(2)), float(m.group(3)),
                    float(m.group(4)), float(m.group(5))))
    return out


def _has_gutter(boxes: list[dict], gap: float = 20.0,
                tol: float = 2.0) -> bool:
    """True when some visual row holds two boxes separated by a real
    horizontal gutter — the structural signature of a multi-column page.
    Abutting same-baseline fragments (gap 0, the _text_merge case) do
    NOT count, which is what keeps fragmented single-column lines from
    masquerading as columns."""
    arr = sorted(boxes, key=lambda b: (b["page_number"], b["top"],
                                       b["x0"]))
    for a, c in zip(arr, arr[1:]):
        if a["page_number"] == c["page_number"] \
                and abs(c["top"] - a["top"]) < tol \
                and c["x0"] - a["x1"] > gap:
            return True
    return False


def detect_two_column(boxes: list[dict],
                      page_w: float = 612.0) -> bool:
    """Reference width gate (rag/app/paper.py:58-67: median box width
    under half the page) plus a structural check that some row really
    holds two gutter-separated boxes (a narrow single-column doc, or a
    single-column doc whose lines split into abutting fragments, is not
    two-column)."""
    if not boxes:
        return False
    widths = sorted(b["x1"] - b["x0"] for b in boxes)
    column_width = widths[len(widths) // 2]
    return column_width < page_w / 2 and _has_gutter(boxes)


def pdf_to_sections(blob: bytes,
                    merge: str = "auto") -> list[tuple[str, str]]:
    """Full rule chain: PDF bytes -> [(text_with_tag, layout_type)].

    Mirrors the DeepDOC pipeline shape (pdf_parser.__call__ minus models):
    parse boxes -> layout tagging -> TOC filter -> merge pass ->
    position-tag append. ``merge`` picks the pass: "auto" (default)
    routes two-column documents (detect_two_column) through the
    column-aware chain and everything else through "vertical";
    "vertical" = _naive_vertical_merge (the book/plain path,
    pdf_parser.py:421-470); "chain" = _concat_downward DFS (the DeepDOC
    naive path, pdf_parser.py:472-579, rule fallback for the xgb seam).
    Vertical and chain produce identical bytes on well-formed
    single-column documents — the chain query reuses the vertical
    oracle on that basis.
    """
    from .pdfplain import total_page_number

    boxes = parse_boxes_normalized(blob)
    if not boxes:
        return []
    if merge == "auto":
        from .pdftables import has_table_caption, pdf_to_sections_tables
        if has_table_caption(boxes):
            # caption-marked table/figure documents route through the
            # table-extraction chain (the layout model's routing role;
            # see pdftables module docstring); body sections come back
            # in the same shape, tables/figures are popped out
            sections, _tables, _figures = pdf_to_sections_tables(
                blob, boxes=boxes)
            return sections
        if detect_two_column(boxes):
            return pdf_to_sections_two_col(blob)
        merge = "vertical"
    n_pages = total_page_number(blob)
    boxes = layout_keep_rules(boxes)
    boxes = tag_layouts(boxes)
    mh = mean_heights(boxes, n_pages)
    # horizontal fragment merge always precedes the vertical pass
    # (reference call order, e.g. rag/app/book.py:54)
    boxes = text_merge(boxes, mh)
    boxes = filter_forpages(boxes)
    if merge == "chain":
        boxes = concat_downward(boxes, mh, [10.0] * len(mh))
    else:
        boxes = naive_vertical_merge(boxes, mh)
    return [
        (b["text"].rstrip() + line_tag(b), b["layout_type"])
        for b in boxes if b["text"].strip()
    ]


# ---------------------------------------------------------------------------
# box <-> region assignment primitives (recognizer.py:113-281) and the
# column-aware page sort used by 2-column papers (pdf_parser.py:182-195)
# ---------------------------------------------------------------------------

def overlapped_area(a: dict, b: dict, ratio: bool = True) -> float:
    """Intersection area, optionally as a fraction of a's area
    (recognizer.py:113-132)."""
    tp, btm, x0, x1 = a["top"], a["bottom"], a["x0"], a["x1"]
    if b["x0"] > x1 or b["x1"] < x0:
        return 0
    if b["bottom"] < tp or b["top"] > btm:
        return 0
    x0_, x1_ = max(b["x0"], x0), min(b["x1"], x1)
    tp_, btm_ = max(b["top"], tp), min(b["bottom"], btm)
    ov = ((btm_ - tp_) * (x1_ - x0_)
          if x1 - x0 != 0 and btm - tp != 0 else 0)
    if ov > 0 and ratio:
        ov /= (x1 - x0) * (btm - tp)
    return ov


def _not_overlapped(a: dict, b: dict) -> bool:
    return any([a["x1"] < b["x0"], a["x0"] > b["x1"],
                a["bottom"] < b["top"], a["top"] > b["bottom"]])


def layouts_cleanup(boxes: list[dict], layouts: list[dict], far: int = 2,
                    thr: float = 0.7) -> list[dict]:
    """Near-duplicate layout suppression by mutual overlap: keep the
    higher score, else the region covering more text area
    (recognizer.py:134-176)."""
    i = 0
    while i + 1 < len(layouts):
        j = i + 1
        while j < min(i + far, len(layouts)) and (
                layouts[i].get("type", "") != layouts[j].get("type", "")
                or _not_overlapped(layouts[i], layouts[j])):
            j += 1
        if j >= min(i + far, len(layouts)):
            i += 1
            continue
        if overlapped_area(layouts[i], layouts[j]) < thr \
                and overlapped_area(layouts[j], layouts[i]) < thr:
            i += 1
            continue
        if layouts[i].get("score") and layouts[j].get("score"):
            layouts.pop(j if layouts[i]["score"] > layouts[j]["score"]
                        else i)
            continue
        area_i = sum(overlapped_area(b, layouts[i], False) for b in boxes
                     if not _not_overlapped(b, layouts[i]))
        area_j = sum(overlapped_area(b, layouts[j], False) for b in boxes
                     if not _not_overlapped(b, layouts[j]))
        layouts.pop(j if area_i > area_j else i)
    return layouts


def find_overlapped(box: dict, boxes_sorted_by_y: list[dict],
                    naive: bool = False):
    """Index of the most-overlapping box, y-binary-search narrowed
    (recognizer.py:217-249; the one-shot while loops at :233-240 are a
    reference quirk kept as-is: they adjust the range at most once)."""
    if not boxes_sorted_by_y:
        return None
    bxs = boxes_sorted_by_y
    s, e, ii = 0, len(bxs), 0
    while s < e and not naive:
        ii = (e + s) // 2
        pv = bxs[ii]
        if box["bottom"] < pv["top"]:
            e = ii
            continue
        if box["top"] > pv["bottom"]:
            s = ii + 1
            continue
        break
    while s < ii:
        if box["top"] > bxs[s]["bottom"]:
            s += 1
        break
    while e - 1 > ii:
        if box["bottom"] < bxs[e - 1]["top"]:
            e -= 1
        break
    best_i, best = None, 0
    for i in range(s, e):
        ov = overlapped_area(bxs[i], box)
        if ov <= best:
            continue
        best_i, best = i, ov
    return best_i


def find_overlapped_with_threshold(box: dict, boxes: list[dict],
                                   thr: float = 0.3):
    """recognizer.py:266-281 (tuple-compare update rule kept)."""
    if not boxes:
        return None
    best_i, best, _best = None, thr, 0
    for i in range(len(boxes)):
        ov = overlapped_area(box, boxes[i])
        _ov = overlapped_area(boxes[i], box)
        if (ov, _ov) < (best, _best):
            continue
        best_i, best, _best = i, ov, _ov
    return best_i


def find_horizontally_tightest_fit(box: dict, boxes: list[dict]):
    """recognizer.py:251-263: nearest box of the same layout region by
    min of left-edge / right-edge / center distance."""
    if not boxes:
        return None
    min_dis, min_i = 1000000, None
    for i, b in enumerate(boxes):
        if box.get("layoutno", "0") != b.get("layoutno", "0"):
            continue
        dis = min(abs(box["x0"] - b["x0"]), abs(box["x1"] - b["x1"]),
                  abs(box["x0"] + box["x1"] - b["x1"] - b["x0"]) / 2)
        if dis < min_dis:
            min_i, min_dis = i, dis
    return min_i


def sort_x_by_page(arr: list[dict], threshold: float) -> list[dict]:
    """Column-aware re-sort for 2-column pages (pdf_parser.py:182-195):
    (page, x0, top) sort then bubble boxes of the same column
    (|x0 diff| < threshold) back into top order."""
    arr = sorted(arr, key=lambda r: (r["page_number"], r["x0"], r["top"]))
    for i in range(len(arr) - 1):
        for j in range(i, -1, -1):
            if abs(arr[j + 1]["x0"] - arr[j]["x0"]) < threshold \
                    and arr[j + 1]["top"] < arr[j]["top"] \
                    and arr[j + 1]["page_number"] == arr[j]["page_number"]:
                arr[j], arr[j + 1] = arr[j + 1], arr[j]
    return arr


# ---------------------------------------------------------------------------
# cross-row concat chain (pdf_parser.py:95-180, 472-579) with the xgb
# decision seam replaced by a deterministic rule fallback
# ---------------------------------------------------------------------------

PROJ_PATTERNS = [
    r"第[零一二三四五六七八九十百]+章",
    r"第[零一二三四五六七八九十百]+[条节]",
    r"[零一二三四五六七八九十百]+[、是 　]",
    r"[\(（][零一二三四五六七八九十百]+[）\)]",
    r"[\(（][0-9]+[）\)]",
    r"[0-9]+(、|\.[　 ]|）|\.[^0-9./a-zA-Z_%><-]{4,})",
    r"[0-9]+\.[0-9.]+(、|\.[ 　])",
    r"[⚫•➢①② ]",
]


def char_width(c: dict) -> float:
    """pdf_parser.py:97-98 (floor division kept)."""
    return (c["x1"] - c["x0"]) // max(len(c["text"]), 1)


def box_height(c: dict) -> float:
    return c["bottom"] - c["top"]


def x_dis(a: dict, b: dict) -> float:
    return min(abs(a["x1"] - b["x0"]), abs(a["x0"] - b["x1"]),
               abs(a["x0"] + a["x1"] - b["x0"] - b["x1"]) / 2)


def y_dis(a: dict, b: dict) -> float:
    return (b["top"] + b["bottom"] - a["top"] - a["bottom"]) / 2


def match_proj(b: dict) -> bool:
    """Bullet/heading projection patterns (pdf_parser.py:112-124)."""
    return any(re.match(p, b["text"]) for p in PROJ_PATTERNS)


# the LEVELLED projection classifier used by the scrap filter — a
# different pattern list from PROJ_PATTERNS (pdf_parser.py:868-892)
PROJ_LEVEL_PATTERNS = [
    (r"第[零一二三四五六七八九十百]+章", 1),
    (r"第[零一二三四五六七八九十百]+[条节]", 2),
    (r"[零一二三四五六七八九十百]+[、 　]", 3),
    (r"[\(（][零一二三四五六七八九十百]+[）\)]", 4),
    (r"[0-9]+(、|\.[　 ]|\.[^0-9])", 5),
    (r"[0-9]+\.[0-9]+(、|[. 　]|[^0-9])", 6),
    (r"[0-9]+\.[0-9]+\.[0-9]+(、|[ 　]|[^0-9])", 7),
    (r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+(、|[ 　]|[^0-9])", 8),
    (r".{,48}[：:?？]$", 9),
    (r"[0-9]+）", 10),
    (r"[\(（][0-9]+[）\)]", 11),
    (r"[零一二三四五六七八九十百]+是", 12),
    (r"[⚫•➢✓]", 12),
]

_NUMERIC_JUNK_RE = re.compile(r"[0-9 ().,%+/-]+$")


def proj_match_level(line: str):
    """Levelled bullet classifier (pdf_parser.py:868-892): ``None`` for
    short/unmatched lines, ``False`` for numeric-junk lines (both falsy
    to the callers), else the outline level 1-12."""
    if len(line) <= 2:
        return None
    if _NUMERIC_JUNK_RE.match(line):
        return False
    for p, j in PROJ_LEVEL_PATTERNS:
        if re.match(p, line):
            return j
    return None


def filterout_scraps(boxes: list[dict], page_widths: list[float],
                     mean_h: list[float],
                     page_heights: list[float] | None = None) -> str:
    """The bare-``__call__`` tail (pdf_parser.py:910-981): group boxes
    by a bounded look-ahead DFS (bullet/title boxes chain
    unconditionally, plain boxes only when x-aligned within pw/10),
    then drop groups that are neither bullet-led nor wide enough
    (mean width < 0.35*pw and <= 200pt).  Output is the reference's
    display string: tag-suffixed lines joined by ``\\n`` within a
    group, groups joined by ``\\n\\n``.  Quirk kept: a bullet-led box
    that fails ``usefull`` contributes an empty group (the reference
    appends ``"\\n".join([])``)."""
    boxes = [dict(b) for b in boxes]  # the reference deepcopies

    def pw_of(pn: int) -> float:
        return (page_widths[pn - 1]
                if 0 <= pn - 1 < len(page_widths) else PAGE_W)

    def usefull(b: dict) -> bool:
        if b.get("layout_type"):
            return True
        if b["x1"] - b["x0"] > pw_of(b["page_number"]) / 3:
            return True
        if b["bottom"] - b["top"] > mean_h[b["page_number"] - 1]:
            return True
        return False

    res = []
    while boxes:
        lines: list[dict] = []
        widths: list[float] = []
        pw = pw_of(boxes[0]["page_number"])
        mh = mean_h[boxes[0]["page_number"] - 1]
        mj = (proj_match_level(boxes[0]["text"])
              or boxes[0].get("layout_type", "") == "title")

        def dfs(line: dict, st: int) -> None:
            lines.append(line)
            widths.append(line["x1"] - line["x0"])
            mmj = (proj_match_level(line["text"])
                   or line.get("layout_type", "") == "title")
            for i in range(st + 1, min(st + 20, len(boxes))):
                if (boxes[i]["page_number"] - line["page_number"]) > 0:
                    break
                if (not mmj and y_dis(line, boxes[i]) >= 3 * mh
                        and box_height(line) < 1.5 * mh):
                    break
                if not usefull(boxes[i]):
                    continue
                if mmj or x_dis(boxes[i], line) < pw / 10:
                    dfs(boxes[i], i)
                    boxes.pop(i)
                    break

        try:
            if usefull(boxes[0]):
                dfs(boxes[0], 0)
        except Exception:  # the reference swallows DFS blowups
            pass
        boxes.pop(0)
        mw = sum(widths) / len(widths) if widths else float("nan")
        if mj or mw / pw >= 0.35 or mw > 200:
            res.append("\n".join(
                c["text"] + line_tag(c, page_heights) for c in lines))
    return "\n\n".join(res)


def updown_concat_features(up: dict, down: dict) -> list:
    """The 32-feature concat vector (pdf_parser.py:125-180).

    Tokenizer-dependent entries use ragtok (SURVEY §2.7 divergence); the
    two trailing name-tag features are always False (the reference's
    ``rag_tokenizer.tag`` needs the downloaded trie dictionary).
    """
    from .ragtok import tokenize

    w = max(char_width(up), char_width(down))
    h = max(box_height(up), box_height(down))
    ydis = y_dis(up, down)
    LEN = 6
    tks_down = tokenize(down["text"][:LEN]).split()
    tks_up = tokenize(up["text"][-LEN:]).split()
    tks_all = (up["text"][-LEN:].strip()
               + (" " if re.match(r"[a-zA-Z0-9]+",
                                  up["text"][-1] + down["text"][0])
                  else "")
               + down["text"][:LEN].strip())
    tks_all = tokenize(tks_all).split()
    return [
        up.get("R", -1) == down.get("R", -1),
        ydis / max(h, 1e-6),
        down["page_number"] - up["page_number"],
        up.get("layout_type") == down.get("layout_type"),
        up.get("layout_type") == "text",
        down.get("layout_type") == "text",
        up.get("layout_type") == "table",
        down.get("layout_type") == "table",
        bool(re.search(r"([。？！；!?;+)）]|[a-z]\.)$", up["text"])),
        bool(re.search(r"[，：‘“、0-9（+-]$", up["text"])),
        bool(re.search(r"(^.?[/,?;:\]，。；：’”？！》】）-])", down["text"])),
        bool(re.match(r"[\(（][^\(\)（）]+[）\)]$", up["text"])),
        bool(re.search(r"[，,][^。.]+$", up["text"])),
        bool(re.search(r"[，,][^。.]+$", up["text"])),  # quirk: duplicated
        bool(re.search(r"[\(（][^\)）]+$", up["text"])
             and re.search(r"[\)）]", down["text"])),
        match_proj(down),
        bool(re.match(r"[A-Z]", down["text"])),
        bool(re.match(r"[A-Z]", up["text"][-1])),
        bool(re.match(r"[a-z0-9]", up["text"][-1])),
        bool(re.match(r"[0-9.%,-]+$", down["text"])),
        (up["text"].strip()[-2:] == down["text"].strip()[-2:]
         if len(up["text"].strip()) > 1 and len(down["text"].strip()) > 1
         else False),
        up["x0"] > down["x1"],
        abs(box_height(up) - box_height(down))
        / max(min(box_height(up), box_height(down)), 1e-6),
        x_dis(up, down) / max(w, 0.000001),
        (len(up["text"]) - len(down["text"]))
        / max(len(up["text"]), len(down["text"])),
        len(tks_all) - len(tks_up) - len(tks_down),
        len(tks_down) - len(tks_up),
        tks_down[-1] == tks_up[-1] if tks_down and tks_up else False,
        max(down.get("in_row", 0), up.get("in_row", 0)),
        abs(down.get("in_row", 0) - up.get("in_row", 0)),
        False,  # name-tag(down) — trie unavailable, SURVEY §2.7
        False,  # name-tag(up)
    ]


def rule_concat_decision(fea: list) -> bool:
    """Deterministic stand-in for the xgb model at pdf_parser.py:540-542
    (the weights are model parameters, not rules — SURVEY §2.4 keeps the
    seam and substitutes thresholds): concat when the up-line does not
    end a sentence, the pair shares a text layout, the vertical gap is
    under two line heights, and the down-line is not a fresh bullet."""
    sentence_end = fea[8]
    same_layout, up_text, down_text = fea[3], fea[4], fea[5]
    ydis_h = fea[1]
    down_bullet = fea[15]
    return (not sentence_end and same_layout and up_text and down_text
            and 0 <= ydis_h < 2 and not down_bullet)


def concat_downward(boxes: list[dict], mh: list[float], mw: list[float],
                    concat_between_pages: bool = True,
                    decide=rule_concat_decision) -> list[dict]:
    """DFS chain-building concat (pdf_parser.py:472-579): in_row counts,
    layout gate for near candidates, ``decide`` for far ones, then
    intra-block join with space insertion between alnum edges."""
    import copy

    boxes = [dict(b) for b in boxes]
    for i in range(len(boxes)):
        pmh = mh[boxes[i]["page_number"] - 1] if mh else 10.0
        boxes[i]["in_row"] = 0
        j = max(0, i - 12)
        while j < min(i + 12, len(boxes)):
            if j == i:
                j += 1
                continue
            ydis = y_dis(boxes[i], boxes[j]) / max(pmh, 1e-6)
            if abs(ydis) < 1:
                boxes[i]["in_row"] += 1
            elif ydis > 0:
                break
            j += 1

    blocks: list[list[dict]] = []
    while boxes:
        chunks: list[dict] = []

        def dfs(up, dp):
            chunks.append(up)
            i = dp
            while i < min(dp + 12, len(boxes)):
                ydis = y_dis(up, boxes[i])
                smpg = up["page_number"] == boxes[i]["page_number"]
                pmh = mh[up["page_number"] - 1] if mh else 10.0
                pmw = mw[up["page_number"] - 1] if mw else 10.0
                if smpg and ydis > pmh * 4:
                    break
                if not smpg and ydis > pmh * 16:
                    break
                down = boxes[i]
                if not concat_between_pages and \
                        down["page_number"] > up["page_number"]:
                    break
                if up.get("R", "") != down.get("R", "") \
                        and up["text"][-1] != "，":
                    i += 1
                    continue
                if re.match(r"[0-9]{2,3}/[0-9]{3}$", up["text"]) \
                        or re.match(r"[0-9]{2,3}/[0-9]{3}$",
                                    down["text"]) \
                        or not down["text"].strip():
                    i += 1
                    continue
                if not down["text"].strip() or not up["text"].strip():
                    i += 1
                    continue
                if up["x1"] < down["x0"] - 10 * pmw \
                        or up["x0"] > down["x1"] + 10 * pmw:
                    i += 1
                    continue
                if i - dp < 5 and up.get("layout_type") == "text":
                    if up.get("layoutno", "1") == down.get("layoutno",
                                                           "2"):
                        dfs(down, i + 1)
                        boxes.pop(i)
                        return
                    i += 1
                    continue
                if not decide(updown_concat_features(up, down)):
                    i += 1
                    continue
                dfs(down, i + 1)
                boxes.pop(i)
                return

        dfs(boxes[0], 1)
        boxes.pop(0)
        if chunks:
            blocks.append(chunks)

    out: list[dict] = []
    for blk in blocks:
        if len(blk) == 1:
            out.append(blk[0])
            continue
        t = blk[0]
        for c in blk[1:]:
            t["text"] = t["text"].strip()
            c["text"] = c["text"].strip()
            if not c["text"]:
                continue
            if t["text"] and re.match(r"[0-9\.a-zA-Z]+$",
                                      t["text"][-1] + c["text"][-1]):
                t["text"] += " "
            t["text"] += c["text"]
            t["x0"] = min(t["x0"], c["x0"])
            t["x1"] = max(t["x1"], c["x1"])
            t["page_number"] = min(t["page_number"], c["page_number"])
            t["bottom"] = c["bottom"]
            if not t.get("layout_type") and c.get("layout_type"):
                t["layout_type"] = c["layout_type"]
        out.append(t)
    return sort_y_firstly(out, 0)


# ---------------------------------------------------------------------------
# two-column path: column-aware region proposals + sort_X_by_page
# (reference gate at rag/app/paper.py:58-67: median box width < page/2)
# ---------------------------------------------------------------------------

def tag_layouts_columns(boxes: list[dict],
                        col_bucket: float = 50.0) -> list[dict]:
    """Column-aware region stub: same height/garbage rules as
    ``tag_layouts``, but body-run regions are tracked per (page, column)
    so interleaved stream order cannot fuse text across columns — the
    property the concat chain's layoutno gate depends on. The column id
    is the x0 bucket (the layout model's region proposals play this role
    in the reference)."""
    out = []
    region = 0
    last_region: dict[tuple, tuple] = {}
    for b in boxes:
        txt = b["text"].strip()
        if _GARBAGE.search(txt):
            continue
        ltype = "title" if b.get("height", 10) >= 13 else "text"
        key = (b["page_number"], int(b["x0"] // col_bucket))
        prev = last_region.get(key)
        if ltype == "title" or prev is None or prev[0] != "text":
            region += 1
            cur = (ltype, region)
        else:
            cur = prev
        last_region[key] = ("text", cur[1]) if ltype == "text" else \
            (ltype, cur[1])
        b = dict(b)
        b["layout_type"] = ltype
        b["layoutno"] = f"{ltype}-{cur[1]}"
        out.append(b)
    return out


def pdf_to_sections_two_col(blob: bytes) -> list[tuple[str, str]]:
    """Two-column rule chain: parse -> column-aware regions -> concat
    chain (order-robust across the interleaved stream) -> column-width
    gate -> sort_X_by_page -> tagged sections in reading order."""
    from statistics import median as _median

    from .pdfplain import PAGE_H, total_page_number

    boxes = parse_boxes_normalized(blob)
    if not boxes:
        return []
    n_pages = total_page_number(blob)
    boxes = layout_keep_rules(boxes)
    boxes = tag_layouts_columns(boxes)
    mh = mean_heights(boxes, n_pages)
    boxes = text_merge(boxes, mh)
    boxes = filter_forpages(boxes)
    boxes = concat_downward(boxes, mh, [10.0] * len(mh))
    widths = [b["x1"] - b["x0"] for b in boxes]
    column_width = _median(widths) if widths else 0.0
    page_w = 612.0
    if column_width < page_w / 2:
        boxes = sort_x_by_page(boxes, column_width / 2)
    return [
        (b["text"].rstrip() + line_tag(b), b["layout_type"])
        for b in boxes if b["text"].strip()
    ]
