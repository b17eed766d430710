"""Arc90 readability main-content scoring, reimplemented from scratch.

The reference pipeline pins ``readability-lxml==0.8.1``
(/root/reference/pyproject.toml:84) and calls it from
/root/reference/deepdoc/parser/html_parser.py:41-50::

    html_doc = readability.Document(txt)
    title = html_doc.title()
    content = html_text.extract_text(html_doc.summary(html_partial=True))

This module re-expresses the published Arc90 algorithm (as shipped in
readability-lxml 0.8.1) over ``dom.Node`` trees parsed by libxml2:

  * strip <script>/<style>;
  * ruthless pass: remove "unlikely candidate" elements by class/id regex;
  * convert <div>s without block-level children into <p>s; lift stray
    div text/tails into synthetic <p>s; drop <br>s;
  * score every <p>/<pre>/<td> with >=25 chars of text:
    ``1 + count(',')+1 + min(len/100, 3)`` credited to the parent (full)
    and grandparent (half); candidate base score from tag type and
    +/-25 class/id keyword weight; final score scaled by
    ``(1 - link_density)``;
  * pick the best candidate, pull in qualifying siblings
    (score >= max(10, 0.2*best) or "good <p>" tests);
  * sanitize: drop bad headers, forms, low-score/link-heavy blocks;
  * retry un-ruthlessly when the result is shorter than ``retry_length``.

No code was taken from readability-lxml or the reference repo; regex
keyword sets and thresholds are the published Arc90 constants.
"""

from __future__ import annotations

import re
from typing import Optional

from .dom import Node, parse_html, find_first, drop_tags
from .htmlser import clean_attributes, serialize_html

REGEXES = {
    "unlikelyCandidatesRe": re.compile(
        r"combx|comment|community|disqus|extra|foot|header|menu|remark|rss|"
        r"shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup|"
        r"tweet|twitter",
        re.I,
    ),
    "okMaybeItsACandidateRe": re.compile(
        r"and|article|body|column|main|shadow", re.I
    ),
    "positiveRe": re.compile(
        r"article|body|content|entry|hentry|main|page|pagination|post|text|"
        r"blog|story",
        re.I,
    ),
    "negativeRe": re.compile(
        r"combx|comment|com-|contact|foot|footer|footnote|masthead|media|"
        r"meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|"
        r"shopping|tags|tool|widget",
        re.I,
    ),
    "divToPElementsRe": re.compile(
        r"<(a|blockquote|dl|div|img|ol|p|pre|table|ul)", re.I
    ),
    "videoRe": re.compile(r"https?:\/\/(www\.)?(youtube|vimeo)\.com", re.I),
}

# divToPElementsRe runs against the SERIALIZED children of the div
# (transform_misused_divs_into_paragraphs: b"".join(map(tostring,
# list(elem)))), and "<(a|...)" matches tag PREFIXES — "<article",
# "<address", "<aside", "<param", "<picture" all block conversion, not
# just the exact names.  Serialization escapes "<" in text, tails and
# attribute values, so a descendant-tag prefix test is match-equivalent
# (our parser keeps no comments/PIs, the only other raw "<" sources);
# tests/test_readability_parity.py proves the equivalence against the
# regex over serialize_html output on random trees.
_DIV_TO_P_PREFIXES = (
    "a", "blockquote", "dl", "div", "img", "ol", "p", "table", "ul",
)

# lxml defs.link_attrs — the attributes Cleaner(javascript=True)
# rewrites through _remove_javascript_link
_LINK_ATTRS = frozenset({
    "action", "archive", "background", "cite", "classid", "codebase",
    "data", "href", "longdesc", "profile", "src", "usemap", "dynsrc",
    "lowsrc",
})
_JS_SCHEME = re.compile(
    r"\s*(?:javascript|jscript|livescript|vbscript|data|about|mocha):",
    re.I)
_WS_SUB = re.compile(r"[\s\x00-\x08\x0B\x0C\x0E-\x19]+").sub


def _remove_javascript_link(link: str) -> str:
    from urllib.parse import unquote_plus
    new = _WS_SUB("", unquote_plus(link))
    if _JS_SCHEME.search(new):
        return ""
    return link


def _clean_doc_attrs(root: Node) -> None:
    """The attribute half of readability's parse-time Cleaner:
    style=True deletes every style attribute, javascript=True deletes
    on* handlers and blanks javascript:-scheme link values."""
    for el in root.iter_list():
        attrib = el.attrib
        if not attrib:
            continue
        drop = [a for a in attrib if a == "style" or a.startswith("on")]
        for a in drop:
            del attrib[a]
        for a in attrib:
            if a in _LINK_ATTRS:
                v = attrib[a]
                # no ":" precheck: unquote_plus may decode %3A into the
                # scheme separator, exactly what the lxml regex hunts
                if v:
                    nv = _remove_javascript_link(v)
                    if nv != v:
                        attrib[a] = nv


_CLEAN_LONG = re.compile(r"\s{255,}")
_CLEAN_NL = re.compile(r"\s*\n\s*")
_CLEAN_TAB = re.compile(r"\t|[ \t]{2,}")
# any input all three subs would touch (a 255+ whitespace run necessarily
# contains a double space / newline / tab)
_CLEAN_NEEDED = re.compile(r"[\n\t]|\s\s")


def _clean(text: str) -> str:
    """Whitespace normalization used for all scoring lengths."""
    if _CLEAN_NEEDED.search(text) is None:
        return text.strip()
    text = _CLEAN_LONG.sub(" " * 255, text)
    text = _CLEAN_NL.sub("\n", text)
    text = _CLEAN_TAB.sub(" ", text)
    return text.strip()


def _text_length(node: Node) -> int:
    return len(_clean(node.text_content() or ""))


# htmls.py normalize_entities — applied AFTER normalize_spaces, so the
# \xa0 rule is mostly shadowed (str.split() already eats \xa0); the
# dash / guillemet / literal-reference rules are live
_TITLE_ENTITIES = (
    ("\u2014", "-"),
    ("\u2013", "-"),
    ("&mdash;", "-"),
    ("&ndash;", "-"),
    ("\u00a0", " "),
    ("\u00ab", '"'),
    ("\u00bb", '"'),
    ("&quot;", '"'),
)


def _norm_title(title: str) -> str:
    """htmls.py ``norm_title``: normalize_spaces (split/join on unicode
    whitespace) then normalize_entities."""
    title = " ".join(title.split()) if title else ""
    for c, r in _TITLE_ENTITIES:
        if c in title:
            title = title.replace(c, r)
    return title


class Document:
    """readability.Document equivalent over our DOM.

    ``summary_node(html_partial=True)`` returns the article container Node
    (instead of an HTML string); the caller renders it with
    ``htmltext.extract_text_from_node`` — equivalent to the reference's
    serialize-then-reparse round trip, minus the round trip.
    """

    def __init__(self, source: str, min_text_length: int = 25,
                 retry_length: int = 250):
        self.source = source
        self.min_text_length = min_text_length
        self.retry_length = retry_length
        # one parsed tree is shared between title() and the first
        # summary pass (title only reads; summary consumes + mutates) —
        # halves the dominant per-doc cost (the parse and tree copy)
        self._fresh_root: Node | None = None

    def _parse(self) -> Node:
        """Parse + the observable part of readability's parse-time
        ``html_cleaner`` (lxml Cleaner flags at readability.py top):
        comments/PIs are already dropped by the dom walk;
        ``style`` and ``on*`` attributes are deleted
        (style=True/javascript=True) and link attributes carrying a
        javascript:-family scheme are blanked (rewrite_links with
        _remove_javascript_link).  <script>/<style>/<link> subtree
        drops (scripts/style/links=True) happen in ``summary_node`` —
        same trees by the time anything is scored or serialized."""
        root = parse_html(self.source)
        _clean_doc_attrs(root)
        return root

    def _take_root(self) -> Node:
        root = self._fresh_root
        if root is not None:
            self._fresh_root = None
            return root
        return self._parse()

    # ------------------------------------------------------------------
    def title(self) -> str:
        """htmls.py ``get_title``: the <title> element's DIRECT text
        (``.text``, not text_content), with the [no-title] fallback
        decided on the RAW text — a whitespace-only title therefore
        normalizes to "" and is returned as "", not "[no-title]"."""
        root = self._fresh_root
        if root is None:
            root = self._parse()
            self._fresh_root = root
        t = find_first(root, "title")
        if t is None or t.text is None or len(t.text) == 0:
            return "[no-title]"
        return _norm_title(t.text)

    # ------------------------------------------------------------------
    def summary_node(self, html_partial: bool = True) -> Node:
        ruthless = True
        while True:
            root = self._take_root()
            drop_tags(root, ("script", "style", "link"))
            # readability.py summary(): every <body> gets
            # id="readabilityBody" (overwriting any source id) BEFORE
            # scoring — positiveRe matches "body", so a body candidate
            # carries +25 class weight from here on
            for b in root.iter_list("body"):
                b.set("id", "readabilityBody")
            if ruthless:
                self._remove_unlikely_candidates(root)
            self._transform_misused_divs(root)
            candidates = self._score_paragraphs(root)
            best = self._select_best_candidate(candidates)
            if best is not None:
                article = self._get_article(candidates, best, html_partial)
            else:
                if ruthless:
                    ruthless = False
                    continue
                body = find_first(root, "body")
                article = body if body is not None else root
            cleaned = self._sanitize(article, candidates)
            # the reference retries when the SERIALIZED article —
            # clean_attributes(tounicode(node, method="html")) — is
            # shorter than retry_length (readability.py summary():
            # article_length = len(cleaned_article or ""));
            # serialize_html is libxml2-pinned so the byte count is the
            # reference's own
            if ruthless and len(clean_attributes(
                    serialize_html(cleaned))) < self.retry_length:
                ruthless = False
                continue
            return cleaned

    # ------------------------------------------------------------------
    def _remove_unlikely_candidates(self, root: Node) -> None:
        for elem in root.iter_list():
            s = "%s %s" % (elem.get("class", ""), elem.get("id", ""))
            if len(s) < 2:
                continue
            if (
                REGEXES["unlikelyCandidatesRe"].search(s)
                and not REGEXES["okMaybeItsACandidateRe"].search(s)
                and elem.tag not in ("html", "body", "#root")
            ):
                elem.drop_tree()

    def _transform_misused_divs(self, root: Node) -> None:
        for elem in root.iter_list("div"):
            # blocker check covers descendants only (the reference regex
            # runs on the div's serialized children, not the div tag
            # itself) and matches tag-name PREFIXES — see
            # _DIV_TO_P_PREFIXES
            if not any(n is not elem and n.tag.startswith(_DIV_TO_P_PREFIXES)
                       for n in elem.iter()):
                elem.tag = "p"
        for elem in root.iter_list("div"):
            if elem.text and elem.text.strip():
                p = Node("p")
                p.text = elem.text
                elem.text = None
                elem.insert(0, p)
            for pos in range(len(elem.children) - 1, -1, -1):
                child = elem.children[pos]
                if child.tail and child.tail.strip():
                    p = Node("p")
                    p.text = child.tail
                    child.tail = None
                    elem.insert(pos + 1, p)
                if child.tag == "br":
                    child.drop_tree()

    # ------------------------------------------------------------------
    def _class_weight(self, e: Node) -> int:
        weight = 0
        for feature in (e.get("class"), e.get("id")):
            if feature:
                if REGEXES["negativeRe"].search(feature):
                    weight -= 25
                if REGEXES["positiveRe"].search(feature):
                    weight += 25
        return weight

    def _score_node(self, elem: Node) -> dict:
        score = self._class_weight(elem)
        name = elem.tag.lower()
        if name in ("div", "article"):
            score += 5
        elif name in ("pre", "td", "blockquote"):
            score += 3
        elif name in ("address", "ol", "ul", "dl", "dd", "dt", "li",
                      "form", "aside"):
            score -= 3
        elif name in ("h1", "h2", "h3", "h4", "h5", "h6", "th", "header",
                      "footer", "nav"):
            score -= 5
        return {"content_score": score, "elem": elem}

    def _link_density(self, elem: Node) -> float:
        # the library sums findall(".//a") — descendants only, so an
        # <a> elem contributes nested links but never itself (our
        # iter() includes self, hence the guard)
        link_length = 0
        for a in elem.iter_list("a"):
            if a is elem:
                continue
            link_length += _text_length(a)
        total = _text_length(elem) or 1
        return float(link_length) / total

    def _score_paragraphs(self, root: Node) -> dict:
        min_len = self.min_text_length
        candidates: dict[int, dict] = {}
        ordered: list[Node] = []

        def cand_key(n: Node) -> int:
            return id(n)

        # the library's self.tags() iterates PER TAG NAME (findall .//p,
        # then .//pre, then .//td) — not interleaved document order; the
        # insertion order of `candidates` decides best-candidate
        # tie-breaks, so the grouping is load-bearing
        scorable = [e for t in ("p", "pre", "td")
                    for e in root.iter_list(t) if e is not root]
        for elem in scorable:
            parent = elem.getparent()
            if parent is None:
                continue
            grand = parent.getparent()
            inner_text = _clean(elem.text_content() or "")
            if len(inner_text) < min_len:
                continue
            if cand_key(parent) not in candidates:
                candidates[cand_key(parent)] = self._score_node(parent)
                ordered.append(parent)
            if grand is not None and cand_key(grand) not in candidates:
                candidates[cand_key(grand)] = self._score_node(grand)
                ordered.append(grand)
            content_score = 1.0
            content_score += len(inner_text.split(","))
            content_score += min(len(inner_text) / 100.0, 3.0)
            candidates[cand_key(parent)]["content_score"] += content_score
            if grand is not None:
                candidates[cand_key(grand)]["content_score"] += (
                    content_score / 2.0
                )

        for elem in ordered:
            cand = candidates[cand_key(elem)]
            ld = self._link_density(elem)
            cand["content_score"] *= 1.0 - ld
        return candidates

    def _select_best_candidate(self, candidates: dict) -> Optional[dict]:
        if not candidates:
            return None
        # stable sort: ties resolve in candidate-creation order, matching
        # the reference's sorted(dict.values()) over an insertion-ordered dict
        return max(
            candidates.values(), key=lambda c: c["content_score"]
        ) if candidates else None

    # ------------------------------------------------------------------
    def _get_article(self, candidates: dict, best: dict,
                     html_partial: bool) -> Node:
        threshold = max(10.0, best["content_score"] * 0.2)
        output = Node("div")
        best_elem = best["elem"]
        parent = best_elem.getparent()
        siblings = list(parent.children) if parent is not None else [best_elem]
        by_id = {id(c["elem"]): c for c in candidates.values()}
        for sibling in siblings:
            append = False
            if sibling is best_elem:
                append = True
            cand = by_id.get(id(sibling))
            if cand is not None and cand["content_score"] >= threshold:
                append = True
            if sibling.tag == "p":
                ld = self._link_density(sibling)
                node_content = sibling.text or ""
                node_length = len(node_content)
                if node_length > 80 and ld < 0.25:
                    append = True
                elif (node_length <= 80 and ld == 0
                      and re.search(r"\.( |$)", node_content)):
                    append = True
            if append:
                output.append(sibling)
        return output

    # ------------------------------------------------------------------
    def _sanitize(self, node: Node, candidates: dict) -> Node:
        min_len = self.min_text_length
        by_id = {id(c["elem"]): c for c in candidates.values()}

        # the library's self.tags() snapshots PER TAG NAME, lazily —
        # the .//h2 findall runs only after every h1 was handled, so an
        # h2 inside a dropped h1 is never revisited; same for the
        # form/textarea pair and the reverse clean loop below
        for t in ("h1", "h2", "h3", "h4", "h5", "h6"):
            for header in [n for n in node.iter_list(t) if n is not node]:
                if (self._class_weight(header) < 0
                        or self._link_density(header) > 0.33):
                    header.drop_tree()

        for t in ("form", "textarea"):
            for elem in [n for n in node.iter_list(t) if n is not node]:
                elem.drop_tree()
        for elem in node.iter_list("iframe"):
            if "src" in elem.attrib and REGEXES["videoRe"].search(
                    elem.attrib["src"]):
                elem.text = "VIDEO"
            else:
                elem.drop_tree()

        allowed: set[int] = set()
        clean_tags = ("table", "ul", "div", "aside", "header", "footer",
                      "section")

        def _reverse_tag_groups():
            # reverse_tags(): per tag name, findall .//tag REVERSED —
            # all tables (last first), then uls, then divs, ...; each
            # group's snapshot is taken only when the previous group is
            # exhausted, so elements dropped by an earlier group never
            # appear (detached descendants within one group still do,
            # as in the library, where their cleanup is a no-op)
            for t in clean_tags:
                yield from reversed([n for n in node.iter_list(t)
                                     if n is not node])

        for el in _reverse_tag_groups():
            if id(el) in allowed or el.parent is None:
                continue
            weight = self._class_weight(el)
            content_score = by_id.get(id(el), {}).get("content_score", 0)
            if weight + content_score < 0:
                el.drop_tree()
                continue
            if el.text_content().count(",") >= 10:
                continue
            counts = {
                kind: sum(1 for n in el.iter_list(kind) if n is not el)
                for kind in ("p", "img", "li", "a", "embed", "input")
            }
            counts["li"] -= 100
            # findall('.//input[@type="hidden"]') — the VALUE match is
            # case-sensitive (only attribute NAMES are lowercased at
            # parse), so type="HIDDEN" stays a counted input
            counts["input"] -= sum(
                1 for n in el.iter_list("input")
                if n.get("type") == "hidden"
            )
            content_length = _text_length(el)
            link_density = self._link_density(el)
            to_remove = False
            # NOTE: readability-lxml carries a COMMENTED-OUT
            # `if el.tag == 'div' and counts["img"] >= 1: continue`
            # here — it is not active in 0.8.1, so divs with images
            # stay subject to the conditional-clean rules below
            if counts["p"] and counts["img"] > 1 + counts["p"] * 1.3:
                to_remove = True  # too many images
            elif counts["li"] > counts["p"] and el.tag not in ("ol", "ul"):
                to_remove = True  # more <li>s than <p>s
            elif counts["input"] > (counts["p"] / 3):
                to_remove = True  # too many <input>s
            elif content_length < min_len and counts["img"] == 0:
                to_remove = True  # short with no image
            elif content_length < min_len and counts["img"] > 2:
                to_remove = True  # short with too many images
            elif weight < 25 and link_density > 0.2:
                to_remove = True  # low weight, link-heavy
            elif weight >= 25 and link_density > 0.5:
                to_remove = True  # high weight but link-farm
            elif ((counts["embed"] == 1 and content_length < 75)
                  or counts["embed"] > 1):
                to_remove = True  # embed-dominated
            elif not content_length:
                to_remove = True  # empty

            if to_remove:
                # neighbor allowance: keep blocks flanked by >1000 chars of
                # sibling text (and whitelist their own cleanable children)
                sib_lengths = []
                parent = el.parent
                if parent is not None:
                    idx = parent.children.index(el)
                    for sib in parent.children[idx + 1:]:
                        L = _text_length(sib)
                        if L:
                            sib_lengths.append(L)
                            break
                    for sib in reversed(parent.children[:idx]):
                        L = _text_length(sib)
                        if L:
                            sib_lengths.append(L)
                            break
                if sib_lengths and sum(sib_lengths) > 1000:
                    to_remove = False
                    # self.tags(el, ...) — descendants only, el itself
                    # is not whitelisted (it was just decided kept)
                    for t in ("table", "ul", "div", "section"):
                        for des in el.iter_list(t):
                            if des is not el:
                                allowed.add(id(des))

            if to_remove:
                el.drop_tree()

        return node
