"""Implied document structure: the dom walk vs libxml2 (what lxml.html,
and therefore readability-lxml, actually builds for shell-less or
malformed documents).

Covers libxml2's htmlCheckImplied / htmlCheckParagraph / start-tag
discard machinery, derived from the system library 2.9.14 by probe:

  * implied <html>, implied <head> (head-y tags at html level before
    any head/body), implied <body>, and the implied <p> wrapped
    around document/html/head-level character data;
  * the POSITIONAL discard rules with the SHARED phantom counter
    (ctxt->depth): a discarded duplicate html/head/body start swallows
    the NEXT html/head/body END tag, whichever name it carries;
  * htmlStartClose pairs against head ((p,head), (fieldset,head), ...)
    folded into the top-only auto-close loop;
  * the after-</html> reopen artifact (nested html siblings under the
    first html);
  * areBlanks: blank runs kept verbatim at html/head level, dropped at
    document level — EXCEPT a blank flush cut short by a character
    reference, which is never ignorable and opens the implied p.

Two layers: frozen goldens and a live-library cross-check of every
golden.
"""

from __future__ import annotations

import re

import pytest

from ragflow_spark.extractlib.dom import find_first, get_body, parse_html
from ragflow_spark.extractlib.htmlser import serialize_html


def _dump(html: str) -> str:
    root = parse_html(html)
    return "".join(serialize_html(ch) for ch in root.children)


# (input document, libxml2 root dump) — one per mechanism
STRUCTURE_GOLDENS = [
    # implied html/body; no head unless a head-y element demands it
    ("<p>no shell</p>", "<html><body><p>no shell</p></body></html>"),
    ("bare text", "<html><body><p>bare text</p></body></html>"),
    ("<html><p>x</p></html>", "<html><body><p>x</p></body></html>"),
    ("<b>inline first</b> tail",
     "<html><body><b>inline first</b> tail</body></html>"),
    ("text1<b>b2</b> tail",
     "<html><body><p>text1<b>b2</b> tail</p></body></html>"),
    # implied head for head-y tags at html level, closed by flow
    ("<title>t</title><p>x</p>",
     "<html><head><title>t</title></head><body><p>x</p></body></html>"),
    ("<meta charset=\"u\"><p>x</p>",
     "<html><head><meta charset=\"u\"></head><body><p>x</p></body>"
     "</html>"),
    ("<script>s</script><p>x</p>",
     "<html><head><script>s</script></head><body><p>x</p></body>"
     "</html>"),
    ("<style>s</style>text",
     "<html><head><style>s</style></head><body><p>text</p></body>"
     "</html>"),
    ("<title>a</title><title>b</title><p>x</p>",
     "<html><head><title>a</title><title>b</title></head><body>"
     "<p>x</p></body></html>"),
    # head-y tags AFTER a closed head stay at html level, no body
    ("<head></head><title>t2</title><p>x</p>",
     "<html><head></head><title>t2</title><body><p>x</p></body>"
     "</html>"),
    ("<head><title>a</title></head><meta charset=\"u\"><p>x</p>",
     "<html><head><title>a</title></head><meta charset=\"u\"><body>"
     "<p>x</p></body></html>"),
    # head-y tags inside an open body stay in the body
    ("<body>x<title>q</title>y</body>",
     "<html><body>x<title>q</title>y</body></html>"),
    ("<div>d</div><title>t2</title><p>x</p>",
     "<html><body><div>d</div><title>t2</title><p>x</p></body>"
     "</html>"),
    # implied p around document/html/head-level text
    ("<html>toptext<body>x</body></html>",
     "<html><body><p>toptext</p>x</body></html>"),
    ("<head>headtext</head>",
     "<html><head></head><body><p>headtext</p></body></html>"),
    ("<html><head></head>between<body>x</body></html>",
     "<html><head></head><body><p>between</p>x</body></html>"),
    ("<html><head>h</head><body>x</body></html>",
     "<html><head></head><body><p>h</p>x</body></html>"),
    ("text1<title>t</title>text2",
     "<html><body><p>text1</p><title>t</title>text2</body></html>"),
    # flow inside an open head-container does NOT imply body
    ("<head><title>a<p>b</p>c</title>d</head><body>x</body>",
     "<html><head><title>a<p>b</p>c</title></head><body><p>d</p>x"
     "</body></html>"),
    ("<head><object><param name=\"n\"></object></head><p>x</p>",
     "<html><head><object><param name=\"n\"></object></head><body>"
     "<p>x</p></body></html>"),
    # blanks: dropped at doc level, kept at html/head level; a blank
    # flush cut short by a charref is significant and opens the p
    ("  <p>leading blanks</p>",
     "<html><body><p>leading blanks</p></body></html>"),
    ("<html>  <body>x</body></html>",
     "<html>  <body>x</body></html>"),
    ("<head> <title>t</title></head><body>x</body>",
     "<html><head> <title>t</title></head><body>x</body></html>"),
    ("<html> <code>x</code></html>",
     "<html> <body><code>x</code></body></html>"),
    ("<html> &#xD800;<code>x</code></html>",
     "<html><body><p> <code>x</code></p></body></html>"),
    ("<html>&#xD800; <code>x</code></html>",
     "<html> <body><code>x</code></body></html>"),
    # after </body>: content at html level, text p-wrapped; a SECOND
    # explicit body/head is accepted there (positional rules)
    ("<p>a</body><p>b</p>",
     "<html><body><p>a</p></body><p>b</p></html>"),
    ("<p>a</body>text<p>c</p>",
     "<html><body><p>a</p></body><p>text</p><p>c</p></html>"),
    ("<p>a</body></body><p>c</p>",
     "<html><body><p>a</p></body><p>c</p></html>"),
    ("<html><body>x</body><title>late</title></html>",
     "<html><body>x</body><title>late</title></html>"),
    ("<p>a</body><body class=\"z\">x",
     "<html><body><p>a</p></body><body class=\"z\">x</body></html>"),
    ("<head></head><head><meta charset=\"u\"></head><body>x</body>",
     "<html><head></head><head><meta charset=\"u\"></head><body>x"
     "</body></html>"),
    ("<p>a</body><head><title>t</title></head>done",
     "<html><body><p>a</p></body><head><title>t</title></head>"
     "<p>done</p></html>"),
    # after </html>: reopen artifact — nested html SIBLINGS under the
    # first html; no implication in the reopened scope
    ("<html><body>x</body></html>trailing",
     "<html><body>x</body><html><p>trailing</p></html></html>"),
    ("<html><body>x</body></html><p>late</p>",
     "<html><body>x</body><html><p>late</p></html></html>"),
    ("<html><body>x</body></html><script>s</script>",
     "<html><body>x</body><html><script>s</script></html></html>"),
    ("<html><body>x</body></html> ", "<html><body>x</body></html>"),
    ("<p>a</html>z",
     "<html><body><p>a</p></body><html><p>z</p></html></html>"),
    # the SHARED phantom counter: a discarded duplicate start swallows
    # the next structural END tag, whatever its name
    ("<html><body>a<html>dup</html>b</body></html>",
     "<html><body>adupb</body></html>"),
    ("<body>x<body class=\"d\">y</body>z</body>t",
     "<html><body>xyz</body><p>t</p></html>"),
    # htmlStartClose against head folded into the auto-close loop
    ("<title>t1</title><legend><fieldset>x<meta charset=\"u\">",
     "<html><head><title>t1</title><legend></legend></head><body>"
     "<fieldset>x<meta charset=\"u\"></fieldset></body></html>"),
    ("<head><body>z</body>",
     "<html><head></head><body>z</body></html>"),
    ("<head><object><body>z</body></object></head>",
     "<html><head><object><body>z</body></object></head></html>"),
    # frameset family: no body implication
    ("<frame><p>x</p>",
     "<html><frame><body><p>x</p></body></html>"),
    ("<frameset><p>x</p></frameset>",
     "<html><frameset><body><p>x</p></body></frameset></html>"),
    ("<noframes>alt</noframes><p>x</p>",
     "<html><noframes>alt</noframes><body><p>x</p></body></html>"),
    ("<frameset><title>t</title></frameset>",
     "<html><frameset><body><title>t</title></body></frameset>"
     "</html>"),
    # html-unknown tags parse as containers (HTML4 table)
    ("<embed>e</embed>t", "<html><body><embed>e</embed>t</body></html>"),
    ("<article>art</article><p>x</p>",
     "<html><body><article>art</article><p>x</p></body></html>"),
    # isindex/basefont are HTML4 EMPTY elements
    ("<isindex><p>x</p>",
     "<html><body><isindex><p>x</p></body></html>"),
    ("<basefont size=\"1\"><p>x</p>",
     "<html><body><basefont size=\"1\"><p>x</p></body></html>"),
    # htmlEndPriority: head/body/html sit ABOVE the table family
    # (_END_PRIORITY 180 vs table 170) — a body opened INSIDE a table
    # (reachable via the head-level tbody quirk, where tbody stays in
    # head and suppresses the body implication) blocks </table> and
    # </tbody>, while the structural end tags close through the whole
    # family.  All cells probed against the live library.
    ("<html><link><tbody><table><body></table>x</tbody><dir>y</html>",
     "<html><head><link><tbody><table><body>x<dir>y</dir></body>"
     "</table></tbody></head></html>"),
    ("<html><link><tbody><table><body></tbody>z</html>",
     "<html><head><link><tbody><table><body>z</body></table></tbody>"
     "</head></html>"),
    ("<html><link><tbody><table></head><dir>x</html>",
     "<html><head><link><tbody><table></table></tbody></head><body>"
     "<dir>x</dir></body></html>"),
    ("<html><p>a<table>b</body>c</html>",
     "<html><body><p>a</p><table>b</table></body><p>c</p></html>"),
    # an inner <table> blocks </td> and </tr> (table 170 > td 160,
    # tr 161)
    ("<html><body><table><tr><td>a<table>b</td>c</table></body></html>",
     "<html><body><table><tr><td>a<table>bc</table></td></tr>"
     "</table></body></html>"),
    ("<html><body><table><tr>a<table>b</tr>c</table></body></html>",
     "<html><body><table><tr>a<table>bc</table></tr></table></body>"
     "</html>"),
    # <table> directly at head level DOES imply body (unlike tbody),
    # so the following <body> start is a positional discard
    ("<html><link><table><body>a</table>b</html>",
     "<html><head><link></head><body><table>a</table>b</body></html>"),
]


@pytest.mark.parametrize("html,want", STRUCTURE_GOLDENS,
                         ids=[f"g{i}" for i in
                              range(len(STRUCTURE_GOLDENS))])
def test_structure_goldens(html, want):
    assert _dump(html) == want


def _lib_or_skip():
    from tools.libxml_oracle import load_libxml2
    if load_libxml2() is None:
        pytest.skip("libxml2 shared library not available")


def test_structure_goldens_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_root
    for html, want in STRUCTURE_GOLDENS:
        assert serialize_root(html) == want, html


def test_fragment_fuzz_differential():
    """Seeded shell-less fragments parse into the same implied
    structure as libxml2 (full root dump, comments stripped)."""
    _lib_or_skip()
    from tools.html_fuzz import run
    assert run(300, seed=20260820, verbose=False, fragments=True) == 0


def test_get_body_on_fragments():
    assert get_body(parse_html("<p>x</p>")).tag == "body"
    assert find_first(parse_html("plain words"), "p").text \
        == "plain words"


# ---------------------------------------------------------------------
# libxml2 htmlParserMaxDepth (256): a start tag reaching its push step
# with more than 256 open elements is FATAL — the parser stops and the
# document tail is dropped.  The check runs after the auto-close pops
# and before the append; discarded html/head/body duplicates and stray
# end tags at max depth do not abort.  Derived live; these cases are
# also cross-checked against the shared library below.

def _depth_cases():
    sp = "<span>"
    return [
        # at the cap: 255 spans under html+body parse fully
        ("<html><body>" + sp * 255 + "mid" + "</span>" * 255
         + "tail</body></html>", 255, True, True),
        # one over: the 256th span aborts; mid and tail are dropped
        ("<html><body>" + sp * 256 + "mid" + "</span>" * 256
         + "tail</body></html>", 255, False, False),
        # cap counts TOTAL open depth (html+body+div leaves 254)
        ("<html><body><div>" + "<u>" * 260 + "x" + "</u>" * 260
         + "</div></body></html>", 254, False, False),
    ]


@pytest.mark.parametrize("html,n_open,mid,tail", _depth_cases())
def test_depth_cap_frozen(html, n_open, mid, tail):
    root = parse_html(html)
    dump = "".join(serialize_html(ch) for ch in root.children)
    opens = dump.count("<span>") or dump.count("<u>")
    assert opens == n_open
    assert ("mid" in dump or "x" in dump) is mid
    assert ("tail" in dump) is tail


def test_depth_cap_check_order():
    """Auto-close runs BEFORE the depth check (a <p> replacing the
    top-of-stack <p> at max depth is accepted), the append comes
    after it (a void <br> at max depth aborts without pushing), and
    positionally-discarded duplicates / stray end tags never abort."""
    deep = "<span>" * 254
    close = "</span>" * 254
    d = "".join(serialize_html(ch) for ch in parse_html(
        f"<html><body>{deep}<p>one<p>two{close}t</body></html>").children)
    assert "one" in d and "two" in d and d.count("<p>") == 2 and "t" in d
    d = "".join(serialize_html(ch) for ch in parse_html(
        "<html><body>" + "<span>" * 255 + "a<br>b" + "</span>" * 255
        + "t</body></html>").children)
    inner = d.replace("<span>", "").replace("</span>", "")
    assert inner == "<html><body>a</body></html>"
    for probe in ("<html>", "<body class=q>", "</nosuch>"):
        d = "".join(serialize_html(ch) for ch in parse_html(
            "<html><body>" + "<span>" * 255 + f"a{probe}b"
            + "</span>" * 255 + "</body></html>").children)
        inner = d.replace("<span>", "").replace("</span>", "")
        assert "ab" in inner, probe
    # end tag frees a slot: close one span, open another at the cap
    d = "".join(serialize_html(ch) for ch in parse_html(
        "<html><body>" + "<span>" * 255 + "a</span><span>b"
        + "</span>" * 255 + "</body></html>").children)
    assert "a" in d and "b" in d and d.count("<span>") == 256


def test_depth_cap_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_root
    docs = [h for h, *_ in _depth_cases()]
    docs += [
        "<html><body>" + "<span>" * 300 + "<b class='z'>bold</b> t"
        + "</span>" * 300 + "after</body></html>",
        "<html><body>" + "<i>" * 300 + "</i>" * 300
        + "<p>shallow</p></body></html>",
        "<html><body>" + "<span>" * 255 + "pre<span>post"
        + "</span>" * 256 + "tail</body></html>",
        "<html><body>" + "<span>" * 256 + "<script>var q;</script>x"
        + "</span>" * 256 + "</body></html>",
    ]
    for doc in docs:
        assert serialize_root(doc) == "".join(
            serialize_html(ch) for ch in parse_html(doc).children), doc[:60]


def test_deep_nesting_extraction_no_recursion():
    """The cap bounds tree depth for every recursive downstream walker:
    a hostile 50k-deep inline chain inside the article must extract
    (pre-cap this hit RecursionError in the htmltext render)."""
    from ragflow_spark.extractlib.htmlparse import extract_html
    big = ("This is a long scoring paragraph, with commas, plenty of "
           "text to win the candidate race. " * 5)
    doc = ("<html><body><div class='content'><p>" + big + "</p>"
           + "<span>" * 50000 + "x" + "</span>" * 50000
           + "<p>" + big + "</p></div></body></html>").encode()
    out = extract_html(doc)
    assert "long scoring paragraph" in out


def test_adversarial_html_shapes_bounded():
    """No quadratic blowups in the HTML path: each hostile shape must
    extract within a generous wall bound (scaled-down versions of the
    session probes — 10MB text / 1M entities / 100k attrs all clear
    at <1.5s full-size)."""
    import time
    from ragflow_spark.extractlib.htmlparse import extract_html
    shapes = [
        b"<html><body><p>" + b"a" * 2_000_000 + b"</p></body></html>",
        b"<html><body><p>" + b"&amp;" * 50_000 + b"&#65;" * 25_000
        + b"</p></body></html>",
        b"<html><body><div "
        + b" ".join(b'a%d="v"' % i for i in range(20_000))
        + b">x</div></body></html>",
        b"<html><body><p>t</p>" + b"</nosuch>" * 10_000
        + b"</body></html>",
        b"<html><body><p>" + b"<br>" * 20_000
        + b"text here</p></body></html>",
    ]
    for doc in shapes:
        t0 = time.perf_counter()
        out = extract_html(doc)
        assert time.perf_counter() - t0 < 10.0
        assert out.startswith("[no-title]\n")


def test_many_small_tags_parse_linear():
    """Per-tag work must not depend on the input length: a tag scan that
    walks to the end of the input once per tag makes the parse
    O(tags x bytes). Best of 3, the µs/byte of a ~2 MB page of small
    <p> elements stays under 1.5x that of a ~256 KB one."""
    import time

    def us_per_byte(n_bytes: int) -> float:
        para = "<p>small para text</p>\n"
        doc = ("<html><body>" + para * (n_bytes // len(para))
               + "</body></html>")
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            parse_html(doc)
            best = min(best, time.perf_counter() - t0)
        return best * 1e6 / len(doc)

    small = us_per_byte(256 * 1024)
    assert us_per_byte(2 * 1024 * 1024) < 1.5 * small


# ---------------------------------------------------------------------
# DOCTYPE machinery (probed live): a doctype ANYWHERE suppresses the
# after-</html> reopen (content after the closed root is dropped), and
# a MISPLACED doctype — any doctype that is not the prolog's first
# construct (only blanks/comments may precede it; a stray end tag ends
# the prolog) — literalizes the '<' of the immediately-following
# construct unless it opens a start tag, comment, or PI.  The eaten
# '<' takes the ignorable-flush classing: dropped at document level,
# verbatim at html/head level, text in content.

DOCTYPE_GOLDENS = [
    # reopen suppression: any prior doctype drops post-root content
    ("<!DOCTYPE html><html><body><p>a</p></body></html>trailing",
     "<html><body><p>a</p></body></html>"),
    ("<!doctype html><p>a</html>x</html>y",
     "<html><body><p>a</p></body></html>"),
    ("<html><p>a</html><!doctype html>x",
     "<html><body><p>a</p></body></html>"),
    # ...but only at the root: </body> is unaffected
    ("<!doctype html><p>a</body>x",
     "<html><body><p>a</p></body><p>x</p></html>"),
    # no doctype: the reopen artifact stands
    ("<p>a</html>x</html>y",
     "<html><body><p>a</p></body><html><p>x</p></html>"
     "<html><p>y</p></html></html>"),
    # the one-shot quirk: '</...' and '<!...' literalize, start
    # tags/comments parse normally, any intervening text disarms
    ("<html><p>a<!doctype html></html>x",
     "<html><body><p>a&lt;/html&gt;x</p></body></html>"),
    ("<html><p>a<!doctype html></b id=2>x",
     "<html><body><p>a&lt;/b id=2&gt;x</p></body></html>"),
    ("<html><p>a<!doctype x><!doctype y></b>x",
     "<html><body><p>a&lt;!doctype y&gt;x</p></body></html>"),
    ("<html><p>a<!doctype html><b>c</b>x",
     "<html><body><p>a<b>c</b>x</p></body></html>"),
    ("<html><p>a<!doctype html> </html>x",
     "<html><body><p>a </p></body></html>"),
    ("<p>a<!doctype html>b</html>x",
     "<html><body><p>ab</p></body></html>"),
    # a comment disarms it too: the end tag after it closes normally
    ("<p>a<!doctype html><!-- c --></p>b",
     "<html><body><p>a</p>b</body></html>"),
    # quirk-eaten '<' classing: dropped at document level, verbatim at
    # html level
    ("<!doctype a><!doctype b></html>x",
     "<html><body><p>/html&gt;x</p></body></html>"),
    ("<p>a</body><!doctype h></b>x",
     "<html><body><p>a</p></body>&lt;<p>/b&gt;x</p></html>"),
    # prolog boundaries: blanks/comments before stay legit; a stray
    # end tag or any content makes the doctype misplaced
    ("  <!doctype html></b>x",
     "<html><body><p>x</p></body></html>"),
    ("<!-- c --><!doctype html></b>x",
     "<html><body><p>x</p></body></html>"),
    ("x<!doctype a></b>y",
     "<html><body><p>x&lt;/b&gt;y</p></body></html>"),
    ("</html><!doctype html><!doctypejunk><u>z</u>",
     "<html><body><p>!doctypejunk&gt;<u>z</u></p></body></html>"),
    # bogus '<!' constructs share the ignorable '<' classing
    ("<p>a</body><![if !IE]>z",
     "<html><body><p>a</p></body>&lt;<p>![if !IE]&gt;z</p></html>"),
]


@pytest.mark.parametrize("html,want", DOCTYPE_GOLDENS,
                         ids=[f"dt{i}" for i in
                              range(len(DOCTYPE_GOLDENS))])
def test_doctype_goldens(html, want):
    assert _dump(html) == want


def test_doctype_goldens_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_root
    # libxml2 keeps comment nodes; the dom walk drops them
    strip = re.compile(r"<!--.*?--!?>", re.S)
    for html, want in DOCTYPE_GOLDENS:
        assert strip.sub("", serialize_root(html)) == want, html


# ---------------------------------------------------------------------
# NUL and invalid-character semantics (probed live): characters failing
# xmlIsChar (C0 minus tab/LF/CR, U+FFFE/FFFF) are DELETED from
# character data and attribute values but TERMINATE token scans (a
# reference stops resolving at one; where an attribute name would start,
# one is a junk token skipped to the next blank).  NUL is end-of-input
# in markup scans and at data dispatch positions (run start, right after
# a resolved reference, or during a pending '&name' scan), a SPACE
# mid-scan; unresolved NAMED refs keep scanning.

NUL_GOLDENS = [
    ("<html><body><p>a\x00b</p></body></html>",
     "<html><body><p>a b</p></body></html>"),
    ("<html><body><p>\x00</p></body></html>",
     "<html><body><p></p></body></html>"),
    ("<html><body>\x00<p>t</p></body></html>",
     "<html><body></body></html>"),
    ("<html><body><p>q&#65;\x00r</p>s</body></html>",
     "<html><body><p>qA</p></body></html>"),
    ("<html><body><p>q&amp;\x00r</p>s</body></html>",
     "<html><body><p>q&amp;</p></body></html>"),
    ("<html><body><p>q&nGt;\x00r</p>s</body></html>",
     "<html><body><p>q&amp;nGt; r</p>s</body></html>"),
    ("<html><body><p>q&#x;\x00r</p>s</body></html>",
     "<html><body><p>q</p></body></html>"),
    ("<html><body><p>a</p\x00>u</body></html>",
     "<html><body><p>a</p></body></html>"),
    ('<html><body><p\x00 class="x">t</p>u</body></html>',
     "<html><body><p></p></body></html>"),
    ("<html><body><p class=x\x00y>t</p>u</body></html>",
     '<html><body><p class="x"></p></body></html>'),
    # invalid chars: deleted in data/quoted values, scan terminators
    ("<html><body><p>tab\tvt\x0bff\x0c.</p></body></html>",
     "<html><body><p>tab\tvtff.</p></body></html>"),
    ("<html><body><p>q&am\x0cp;r</p></body></html>",
     "<html><body><p>q&amp;amp;r</p></body></html>"),
    ("<html><body><p>q&#6\x0c5;r</p></body></html>",
     "<html><body><p>q5;r</p></body></html>"),
    ('<html><body><p class="x\x0cy">t</p></body></html>',
     '<html><body><p class="xy">t</p></body></html>'),
    ("<html><body><p\x0cclass=x>t</p></body></html>",
     "<html><body><p>t</p></body></html>"),
    ("<html><body><p cl\x0cass=x>t</p></body></html>",
     "<html><body><p cl>t</p></body></html>"),
    # next to a blank the junk token is the invalid char alone: the
    # attribute scan goes on; where a value would start, one starts an
    # unquoted value and is deleted from it
    ("<html><body><p\x0c class=x>t</p></body></html>",
     '<html><body><p class="x">t</p></body></html>'),
    ("<html><body><p class=x \x0c id=y>t</p></body></html>",
     '<html><body><p class="x" id="y">t</p></body></html>'),
    ("<html><body><p class=\x0cx>t</p></body></html>",
     '<html><body><p class="x">t</p></body></html>'),
    ("<html><body><p\x0cclass=x id=y>t</p></body></html>",
     '<html><body><p id="y">t</p></body></html>'),
    ("<html><body><p class=x\x0cid=y>t</p></body></html>",
     '<html><body><p class="xid=y">t</p></body></html>'),
    ("<html><body><scri\x0cpt>v</script>u</body></html>",
     "<html><body><scri>vu</scri></body></html>"),
    ("<html><body><p>x<\x0cb>y</p></body></html>",
     "<html><body><p>x&lt;b&gt;y</p></body></html>"),
    # an invalid char right after '</' cannot start an end-tag name:
    # the '</' recovery drops the two chars and 'p>b' stays text
    ("<html><body><p>a</\x0cp>b</p></body></html>",
     "<html><body><p>ap&gt;b</p></body></html>"),
    ("<html><body><p>n￾n</p></body></html>",
     "<html><body><p>nn</p></body></html>"),
]


@pytest.mark.parametrize("html,want", NUL_GOLDENS,
                         ids=[f"nul{i}" for i in range(len(NUL_GOLDENS))])
def test_nul_invalid_char_goldens(html, want):
    assert _dump(html) == want


def test_nul_invalid_char_goldens_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_root
    for html, want in NUL_GOLDENS:
        assert serialize_root(html) == want, repr(html)


def test_nul_invalid_residual_branches():
    """Branch pins the golden table misses: NUL after a QUOTED '>'
    (routes through the raw-span path, not the tokenizer intercept),
    an invalid char inside an end tag, and the U+E001-already-present
    fallback (plain deletion)."""
    cases = [
        ('<html><body><p class="a>b\x00c">t</p>u</body></html>',
         '<html><body><p class="a&gt;b"></p></body></html>'),
        ("<html><body><p>a</p\x0c>z</body></html>",
         "<html><body><p>a</p>z</body></html>"),
        ("<html><body><p>a</p\x0c",
         "<html><body><p>a</p></body></html>"),
    ]
    for html, want in cases:
        assert _dump(html) == want, repr(html)
    # input already carrying the PUA sentinel: invalid chars fall back
    # to plain deletion and the PUA char itself stays text
    out = _dump("<html><body><p>ab\x0cc</p></body></html>")
    assert out == "<html><body><p>abc</p></body></html>"


def test_nul_invalid_residual_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_root
    for html in ['<html><body><p class="a>b\x00c">t</p>u</body></html>',
                 "<html><body><p>a</p\x0c>z</body></html>",
                 "<html><body><p>a</p\x0c"]:
        assert serialize_root(html) == _dump(html), repr(html)


def _messy_pages():
    art = "".join(
        f"<p>Paragraph {i} of the article body, with commas, long "
        "enough prose to score well in the candidate race.</p>"
        for i in range(8))
    nav = ("<div class='nav menu'>"
           + "".join(f"<a href='/s{i}'>section {i}</a>"
                     for i in range(25)) + "</div>")
    return {
        # leading doctype + conditional comment + trailing junk after
        # </html> (dropped per the doctype reopen suppression)
        "doctype_trailing": (
            "<!DOCTYPE html>\n<html>\n<head><title>Messy page one"
            "</title>\n<!--[if lt IE 9]><script src='shim.js'>"
            "</script><![endif]-->\n</head><body>" + nav
            + "<div class='article-content'>" + art
            + "</div><div class='footer'>copyright</div></body>"
            "</html>\n<script>trailing.junk()</script>"
            "<p>never rendered</p>"),
        # control chars in title and content (deleted per xmlIsChar)
        "nul_controls": (
            "<html><head><title>Messy two\x0c</title></head><body>"
            + nav + "<div id='main'>" + art
            + "<p>mid\x0bline</p></div></body></html>"),
        # unclosed everything + nested table
        "unclosed_deep": (
            "<html><body><div class='content'>" + "<div>" * 40 + art
            + "<table><tr><td>cell</table>" + art + "</body>"),
    }


def test_messy_page_extraction_end_to_end():
    """Capstone: realistic messy-web pages through the FULL chain
    (codec -> recovery DOM -> readability -> html-text).  Pins the
    session's combined semantics at the extraction level: boilerplate
    stripped, trailing-junk-after-</html> dropped when a doctype was
    seen, control characters cleaned, unclosed structures recovered —
    and byte-determinism across runs."""
    from ragflow_spark.extractlib.htmlparse import extract_html
    pages = _messy_pages()
    out1 = {k: extract_html(v.encode()) for k, v in pages.items()}
    out2 = {k: extract_html(v.encode()) for k, v in pages.items()}
    assert out1 == out2  # deterministic
    a = out1["doctype_trailing"]
    assert a.startswith("Messy page one\n")
    assert "Paragraph 7 of the article" in a
    assert "section 0" not in a and "copyright" not in a
    assert "never rendered" not in a and "trailing.junk" not in a
    b = out1["nul_controls"]
    assert b.startswith("Messy two\n")          # FF deleted from title
    assert "midline" in b                        # VT deleted mid-word
    assert "section 3" not in b
    c = out1["unclosed_deep"]
    assert c.startswith("[no-title]\n")
    assert c.count("Paragraph 0 of the article") == 2


def test_messy_page_dom_stage_against_live_library():
    """The DOM stage of the capstone pages matches libxml2 live
    (comments stripped from the library dump, as everywhere)."""
    _lib_or_skip()
    import re
    from tools.libxml_oracle import serialize_root
    cre = re.compile(r"<!--.*?--!?>", re.S)
    for name, page in _messy_pages().items():
        lx = cre.sub("", serialize_root(page))
        ours = _dump(page)
        assert lx == ours, name
