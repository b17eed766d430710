"""Malformed-HTML recovery parity: the dom walk vs libxml2 (what lxml.html,
and therefore readability-lxml, actually parses with).

Two layers:
  * frozen goldens — one per recovery mechanism, produced by the system
    libxml2 2.9.14 through tools/libxml_oracle.py and re-checked live;
  * a seeded random malformed-document differential (tools/html_fuzz).
"""

from __future__ import annotations

import re

import pytest

from ragflow_spark.extractlib.dom import find_first, parse_html
from ragflow_spark.extractlib.htmlser import serialize_html


def _body(html: str) -> str:
    node = find_first(parse_html(html), "body")
    assert node is not None
    return serialize_html(node)


# (input, libxml2 2.9.14 body dump) — each pins one recovery mechanism.
GOLDENS = [
    # htmlStartClose: block start tags close an open <p>
    ("<html><body><p>one<div>two</div>three</body></html>",
     "<body><p>one</p><div>two</div>three</body>"),
    # a <p> inside a heading closes the heading
    ("<html><body><h1>head<p>para</p></h1></body></html>",
     "<body><h1>head</h1><p>para</p></body>"),
    # the loop is TOP-OF-STACK only: p closes through <b> (pair p->b)...
    ("<html><body><p>a<b>c<p>d</body></html>",
     "<body><p>a<b>c</b></p><p>d</p></body>"),
    # ...but li does NOT close through <b> (no pair li->b): nested
    ("<html><body><ul><li>a<b>x<li>c</ul></body></html>",
     "<body><ul><li>a<b>x<li>c</li></b></li></ul></body>"),
    # cascading table closes: td then tr on a new <tr>
    ("<html><body><table><tr><td>a<td>b<tr><td>c</table></body></html>",
     "<body><table><tr><td>a</td><td>b</td></tr><tr><td>c</td></tr>"
     "</table></body>"),
    # a-closes-a: bare nested anchor becomes a sibling
    ('<html><body><a href="1">x<a href="2">y</a></body></html>',
     '<body><a href="1">x</a><a href="2">y</a></body>'),
    # dt/dd mutual closes
    ("<html><body><dl><dt>t1<dd>d1<dt>t2<dd>d2</dl></body></html>",
     "<body><dl><dt>t1</dt><dd>d1</dd><dt>t2</dt><dd>d2</dd></dl>"
     "</body>"),
    # XML self-closing syntax: auto-close first, then an EMPTY element
    ("<html><body><p>a<div/>b</body></html>",
     "<body><p>a</p><div></div>b</body>"),
    # duplicate <body> start tag is ignored (attrs dropped)
    ('<html><body><p>a</p><body class="z"><p>b</p></body></html>',
     "<body><p>a</p><p>b</p></body>"),
    # stray end tag with no open element: ignored, no implied <p></p>
    ("<html><body><b>x</p>y</b></body></html>",
     "<body><b>xy</b></body>"),
    # a matching end tag closes through intermediate open elements
    ("<html><body><div><ul><li>a</div>after</body></html>",
     "<body><div><ul><li>a</li></ul></div>after</body>"),
    # htmlEndPriority: </h1> cannot close through a <td> (160 > 100)
    ("<html><body><h1>a<tfoot><td>b</h1>c</body></html>",
     "<body><h1>a<tfoot><td>bc</td></tfoot></h1></body>"),
    # </td> (160) closes through <div> (150)...
    ("<html><body><table><tr><td>a<div>x</td><td>b</table></body></html>",
     "<body><table><tr><td>a<div>x</div></td><td>b</td></tr></table>"
     "</body>"),
    # ...but </div> (150) cannot close through <td> (160)
    ("<html><body><div>x<td>y</div>z</body></html>",
     "<body><div>x<td>yz</td></div></body>"),
    # </table> (170) closes through everything table-internal
    ("<html><body><table><thead><tr><th>h</table>after</body></html>",
     "<body><table><thead><tr><th>h</th></tr></thead></table>after"
     "</body>"),
]


@pytest.mark.parametrize("html,want", GOLDENS,
                         ids=[f"r{i}" for i in range(len(GOLDENS))])
def test_recovery_goldens(html, want):
    assert _body(html) == want


def _lib_or_skip():
    from tools.libxml_oracle import load_libxml2
    if load_libxml2() is None:
        pytest.skip("libxml2 shared library not available")


def test_goldens_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_subtree
    for html, want in GOLDENS:
        assert serialize_subtree(html, "body") == want, html


def test_fuzz_differential():
    """Seeded random malformed documents parse+serialize identically
    through the dom walk/htmlser and libxml2."""
    _lib_or_skip()
    from tools.html_fuzz import run
    assert run(400, seed=20260820, verbose=False) == 0


# (input, libxml2 body dump) — character-reference semantics
ENTITY_GOLDENS = [
    # named refs need ';' and are case-sensitive; numerics don't need ';'
    ("<html><body><p>&#65;&#x42;&copy;&nbsp;&unknown;&amp</p></body>"
     "</html>",
     "<body><p>AB©\xa0&amp;unknown;&amp;amp</p></body>"),
    ("<html><body><p>&AMP;&Amp;&apos;&COPY;[&#65][&#X41]</p></body>"
     "</html>",
     "<body><p>&amp;AMP;&amp;Amp;'&amp;COPY;[A][A]</p></body>"),
    # HTML4 values where HTML5 differs: lang/rang are U+2329/232A
    ("<html><body><p>&lang;&rang;</p></body></html>",
     "<body><p>〈〉</p></body>"),
    # HTML5-only names stay literal (libxml2 knows the HTML4 table)
    ("<html><body><p>&dollar;&nGt;&quat;</p></body></html>",
     "<body><p>&amp;dollar;&amp;nGt;&amp;quat;</p></body>"),
    # invalid numerics are DELETED (no U+FFFD, no cp1252 remap of C1)
    ("<html><body><p>[&#0;][&#xD800;][&#1114112;][&#12;][&#151;]</p>"
     "</body></html>",
     "<body><p>[][][][][\x97]</p></body>"),
    # zero-digit forms consume an immediate ';'; '&#' alone vanishes
    ("<html><body><p>[&#;][&#x;][&#][&#abc]</p></body></html>",
     "<body><p>[][][][abc]</p></body>"),
    # a '<' terminates the reference scan (tokenizer-time resolution):
    # the digits after a dropped stray end tag must NOT join the ref
    ("<html><body><p>x&#X41</u>caf y</p></body></html>",
     "<body><p>xAcaf y</p></body>"),
    # attribute rule: first INVALID numeric truncates the value
    ('<html><body><div title="a&#0;q" id="x&#abc y" '
     'class="ok&#65;z">v</div></body></html>',
     '<body><div title="a" id="x" class="okAz">v</div></body>'),
    # unknown NAMED refs in attrs stay literal, no truncation
    ('<html><body><a href="x?a=1&b=2&copy=3&unknown;end">l</a></body>'
     "</html>",
     '<body><a href="x?a=1&amp;b=2&amp;copy=3&amp;unknown;end">l</a>'
     "</body>"),
    # script/style keep references literal; title/textarea resolve
    ("<html><body><script>a&amp;b&#65;</script><textarea>a&amp;b&#65;"
     "</textarea></body></html>",
     "<body><script>a&amp;b&#65;</script><textarea>a&amp;bA"
     "</textarea></body>"),
]


@pytest.mark.parametrize("html,want", ENTITY_GOLDENS,
                         ids=[f"e{i}" for i in range(len(ENTITY_GOLDENS))])
def test_entity_goldens(html, want):
    assert _body(html) == want


def test_entity_goldens_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_subtree
    for html, want in ENTITY_GOLDENS:
        assert serialize_subtree(html, "body") == want, html


SENTINEL_DOC = "<html><body><p>ab\ue000z&amp;c&copy</p></body></html>"


def test_sentinel_collision_fallback():
    # a private-use U+E000 in the input is ordinary text, and an
    # unterminated named reference stays literal
    p = find_first(parse_html(SENTINEL_DOC), "p")
    assert p.text == "ab\ue000z&c&copy"


def test_sentinel_collision_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_subtree
    assert serialize_subtree(SENTINEL_DOC, "p") == \
        "<p>ab\ue000z&amp;c&amp;copy</p>"


# (tag snippet, libxml2 body dump) — htmlParseStartTag attribute
# mechanics
ATTR_GOLDENS = [
    # junk token skips to the NEXT BLANK; junk in the name keeps attrs
    ('<b]] x="1">t</b>', '<b x="1">t</b>'),
    ('<b ]]x="1">t</b>', "<b>t</b>"),
    ('<b /junk x=1>t</b>', '<b x="1">t</b>'),
    ('<b 9x=1 y=2>t</b>', '<b y="2">t</b>'),
    ('<b x="1" "junk" y=2>t</b>', '<b x="1" y="2">t</b>'),
    ("<b @foo=1 y=2>t</b>", '<b y="2">t</b>'),
    # skip-to-blank can land INSIDE a quoted value: b" -> minimized b
    ('<b ]x="a b" y=2>t</b>', '<b b y="2">t</b>'),
    # blanks around '='; empty / minimized; '='-leading unquoted value
    ('<b x = "1" y = 2>t</b>', '<b x="1" y="2">t</b>'),
    ("<b x=>t</b>", '<b x="">t</b>'),
    ("<b x>t</b>", "<b x>t</b>"),
    ("<b x==1>t</b>", '<b x="=1">t</b>'),
    ("<b x= =1>t</b>", '<b x="=1">t</b>'),
    ("<b =1 y=2>t</b>", '<b y="2">t</b>'),
    # unquoted values eat quotes; no blank needed after a quoted value
    ('<b x=a"b y=2>t</b>', "<b x='a\"b' y=\"2\">t</b>"),
    ('<b x="1"y="2">t</b>', '<b x="1" y="2">t</b>'),
    # names: first-duplicate wins, lowercased, NOT QName-split
    ("<b x=1 x=2>t</b>", '<b x="1">t</b>'),
    ("<b X=1>t</b>", '<b x="1">t</b>'),
    ("<b x:y=1>t</b>", '<b x:y="1">t</b>'),
    ("<b _x=1 :y=2>t</b>", '<b _x="1" :y="2">t</b>'),
    ("<b a.b-c_d:e=1>t</b>", '<b a.b-c_d:e="1">t</b>'),
    # name charset ends the name mid-token: x." -> minimized x.
    ('<b x."y=1>t</b>', "<b x.>t</b>"),
    # self-close fires at attribute boundaries only: values eat '/'
    ("<b x=1/>t", '<b x="1/">t</b>'),
    ("<b x=1 />t", '<b x="1"></b>t'),
    ("<b x/>t", "<b x></b>t"),
    ("<b x=/>t", '<b x="/">t</b>'),
    ("<b @j=1/>t", "<b></b>t"),
    ("<b //>t", "<b></b>t"),
    ("<b/ >t", "<b>t</b>"),
    ("<b x=1/ y=2>t</b>", '<b x="1/" y="2">t</b>'),
    ("<b x /y=2>t</b>", "<b x>t</b>"),
    ('<b x=">"/>t', '<b x="&gt;"></b>t'),
    # attr references resolve with the truncating rule at re-parse time
    ('<b x="a&copy;b">t</b>', '<b x="a©b">t</b>'),
    ('<b x="a&copy b">t</b>', '<b x="a&amp;copy b">t</b>'),
    ("<b x=&copy;>t</b>", '<b x="©">t</b>'),
    ('<b x="a&#0;q">t</b>', '<b x="a">t</b>'),
]


@pytest.mark.parametrize("html,want", ATTR_GOLDENS,
                         ids=[f"a{i}" for i in range(len(ATTR_GOLDENS))])
def test_attr_goldens(html, want):
    got = _body(f"<html><body>{html}</body></html>")
    assert got == f"<body>{want}</body>"


def test_attr_goldens_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_subtree
    for html, want in ATTR_GOLDENS:
        doc = f"<html><head><title>t</title></head><body>{html}</body></html>"
        assert serialize_subtree(doc, "body") == f"<body>{want}</body>", html


_INVALID_CHAR_RE = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\ufffe\uffff]")


def test_invalid_char_attribute_values_match_xmlgetprop():
    """Attribute values are the tree's (what lxml's get() reads): the
    invalid characters libxml2 keeps there stay, although its dump
    drops them.  Every invalid-character cell of the fuzz's attribute
    tables, compared with xmlGetProp."""
    _lib_or_skip()
    from tools.html_fuzz import ATTR_JUNK, ATTR_VALS
    from tools.libxml_oracle import attribute_values
    junk = [j for j in ATTR_JUNK if _INVALID_CHAR_RE.search(j)]
    vals = [v for v in ATTR_VALS if _INVALID_CHAR_RE.search(v)]
    assert junk and vals
    docs = [f"<p{j}>t</p>" for j in junk]
    docs += [f'<p {n}="{v}">t</p>' for v in vals
             for n in ("class", "id", "href", "src")]
    for doc in docs:
        got = find_first(parse_html(doc), "p").attrib
        assert got == attribute_values(doc, "p"), repr(doc)
    assert find_first(parse_html('<p class="a\x0cb">'), "p").get(
        "class") == "a\x0cb"


def test_libxml2_version_guard():
    from ragflow_spark.extractlib.dom import check_libxml2_version
    check_libxml2_version("20914")
    with pytest.raises(ImportError, match=r"2\.9\.14"):
        check_libxml2_version("21000")


# (body snippet, libxml2 body dump with comment NODES stripped) —
# tokenizer-level recovery: '</' junk and comment-close variants
TOKENIZER_GOLDENS = [
    # '</' + non-name-start: DROP exactly the two chars, resume as text
    ("a </ p> b", "a  p&gt; b"),
    ("a </> b", "a &gt; b"),
    ("a </3> b", "a 3&gt; b"),
    ("a </ b", "a  b"),
    # '</' + name-start ([a-zA-Z_:.]): swallow to '>', ignore unknown
    ("a<b>x</B>y", "a<b>x</b>y"),
    ("a<b>x</_b>y", "a<b>xy</b>"),
    ("a<b>x</.b>y", "a<b>xy</b>"),
    ("a<b>x</:b>y", "a<b>xy</b>"),
    # end-tag QName keeps the local part: 'c' matches nothing, ignored
    ("a<b>x</b:c>y", "a<b>xy</b>"),
    # comment closes at the FIRST '-->' OR '--!>'; '-- >' does not
    # close; UNTERMINATED swallows to EOF
    ("x<!-- c -->y", "xy"),
    ("x<!-- c --!>y", "xy"),
    ("x<!---->y", "xy"),
    ("x<!-- a --->y", "xy"),
    ("x<!--a--b-->y", "xy"),
    ("x<!-- a --!b -->y", "xy"),
    ("x<!-- a -- >y", "x"),
    ("x<!-->y", "x"),
    ("x<!--->y", "x"),
    ("x<!--", "x"),
    ("x<!--a--!", "x"),
    # doctype mid-body swallows to '>'
    ("x<!DOCTYPE junk >y", "xy"),
    # '<!' opening neither comment nor doctype is literal text
    ("x <!junk>y", "x &lt;!junk&gt;y"),
    ("x <!->y", "x &lt;!-&gt;y"),
]


@pytest.mark.parametrize("html,want", TOKENIZER_GOLDENS,
                         ids=[f"t{i}" for i in range(len(TOKENIZER_GOLDENS))])
def test_tokenizer_goldens(html, want):
    got = _body(f"<html><body>{html}</body></html>")
    assert got == f"<body>{want}</body>"


def test_tokenizer_goldens_against_live_library():
    _lib_or_skip()
    import re as _re
    from tools.libxml_oracle import serialize_subtree
    strip = _re.compile(r"<!--.*?--!?>", _re.S)
    for html, want in TOKENIZER_GOLDENS:
        doc = (f"<html><head><title>t</title></head><body>{html}"
               "</body></html>")
        got = strip.sub("", serialize_subtree(doc, "body"))
        assert got == f"<body>{want}</body>", html


# (body snippet, libxml2 body dump) — raw-text (script/style) close
# scanning: '</name' prefix + non-name char closes (junk to '>');
# '</namefoo>' is dropped while the element stays open; '</ name>'
# stays content; an unterminated element swallows the tail
RAWTEXT_GOLDENS = [
    ("<script>a</script x>b", "<script>a</script>b"),
    ("<script>a</script/>b", "<script>a</script>b"),
    ("<script>a</script=x>b", "<script>a</script>b"),
    ("<script>a</script\t>b", "<script>a</script>b"),
    ("<script>a</SCRIPT>b", "<script>a</script>b"),
    ("<style>s</style junk>b", "<style>s</style>b"),
    ("<script>a</scriptfoo>b</script>c", "<script>ab</script>c"),
    ("<script>a</script.>b</script>c", "<script>ab</script>c"),
    ("<script>a</sCrIpTfOo>b</script>c", "<script>ab</script>c"),
    # the dropped token consumes blindly to the FIRST '>'
    ("<script>a</scriptx </script>b",
     "<script>ab</body></html></script>"),
    ("<script>a</ script>b</script>c", "<script>a</ script>b</script>c"),
    ("<script>a</stylefoo>b</script>c",
     "<script>a</stylefoo>b</script>c"),
    ("<script>x</script", "<script>x</script>"),
    ("<script>a", "<script>a</body></html></script>"),
    ("<script>a</scr", "<script>a</scr</body></html></script>"),
    # the scan is CSS-string-unaware: '</style>' inside a quoted value
    # still closes the element
    ("<style>a{content:\"</style>\"}b</style>c",
     '<style>a{content:"</style>"}bc'),
]


@pytest.mark.parametrize("html,want", RAWTEXT_GOLDENS,
                         ids=[f"s{i}" for i in range(len(RAWTEXT_GOLDENS))])
def test_rawtext_goldens(html, want):
    got = _body(f"<html><head><title>t</title></head><body>{html}"
                "</body></html>")
    assert got == f"<body>{want}</body>"


def test_rawtext_goldens_against_live_library():
    _lib_or_skip()
    from tools.libxml_oracle import serialize_subtree
    for html, want in RAWTEXT_GOLDENS:
        doc = (f"<html><head><title>t</title></head><body>{html}"
               "</body></html>")
        assert serialize_subtree(doc, "body") == f"<body>{want}</body>", html
