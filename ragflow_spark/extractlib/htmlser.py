"""HTML subtree serialization with libxml2 semantics, from scratch.

readability-lxml 0.8.1 (the reference pin, pyproject.toml:84) decides
its un-ruthless retry by the LENGTH of the serialized article::

    cleaned_article = self.sanitize(article, candidates)
    #  -> clean_attributes(tounicode(self.html, method="html"))
    of_acceptable_length = len(cleaned_article or "") >= retry_length

``tounicode(node, method="html")`` is libxml2's
``htmlNodeDumpFormatOutput`` (format=0, no encoder).  This module
transcribes that serializer for our ``dom.Node`` trees so the retry
decision can use the reference's exact byte count instead of a
text-length stand-in, plus readability's ``clean_attributes`` regex
(readability/cleaners.py) that runs on the serialized string.

Every rule below is pinned against the system libxml2 2.9.14
(/usr/lib/x86_64-linux-gnu/libxml2.so.2 — the same library lxml links)
through ``tools/libxml_oracle.py``; ``tests/test_htmlser.py`` carries
both frozen goldens and a live ctypes differential.  Observed rules:

* void elements (HTML 4.01 table: area base basefont br col frame hr
  img input isindex link meta param) close with ``>`` and never emit an
  end tag;
* an EMPTY ``<li>`` omits its end tag (libxml2's saveEndTag flag); all
  other empty elements — including unknown/HTML5 tags and ``html`` /
  ``body`` — serialize ``<tag></tag>``;
* text nodes escape ``& < >`` only (quotes, whitespace, non-ASCII stay
  raw); ``script``/``style`` contents are written raw;
* attribute values drop C0 controls other than TAB/LF/CR (the tree
  keeps them), then escape ``& < >``; then, for URI attributes
  (``href``/``src``/``action`` on any element, ``name`` on ``<a>``),
  leading blanks (space TAB CR LF) are skipped and each remaining
  UTF-8 byte outside [alnum ``-_.!~*'()`` ``@/:=?;#%&,+<>``] is
  percent-encoded uppercase (so ``"``→``%22``, space→``%20``,
  é→``%C3%A9``, while an ``&``→``&amp;`` from the first stage survives
  because ``& ; a-z`` are all kept);
* the quote is ``"`` unless the (escaped) value contains ``"`` — then
  ``'`` if it has no ``'``, else ``"`` with inner ``"``→``&quot;``;
* a minimized attribute (value ``None``) and the 13 HTML 4.01 boolean
  attributes (checked compact declare defer disabled ismap multiple
  nohref noresize noshade nowrap readonly selected — value dropped even
  when present) emit the bare name; an explicit empty value emits
  ``=""``;
* ``tounicode`` includes the node's tail (lxml ``with_tail=True``).

Known seam: the dom walk drops comments and processing instructions
(dom.py module docstring) where readability's
``Cleaner(comments=True, processing_instructions=True)`` drops them at
the same stage — identical trees, so no serialization gap.
"""

from __future__ import annotations

import re

from .dom import Node, _MinimizedAttr

# HTML 4.01 empty-content elements (libxml2 html40ElementTable entries
# with the empty flag; probed: every one serializes without an end tag)
VOID_HTML4 = frozenset({
    "area", "base", "basefont", "br", "col", "frame", "hr", "img",
    "input", "isindex", "link", "meta", "param",
})

# tags whose END TAG is omitted when the element has no children
# (libxml2 saveEndTag; probed over the full tag table: only <li>, with
# <html>/<body> explicitly excepted in HTMLtree.c — they serialize
# <body></body> when empty)
_OMIT_EMPTY_END = frozenset({"li"})

# htmlIsBooleanAttr's table (probed: these drop their value entirely)
BOOLEAN_ATTRS = frozenset({
    "checked", "compact", "declare", "defer", "disabled", "ismap",
    "multiple", "nohref", "noresize", "noshade", "nowrap", "readonly",
    "selected",
})

_RAW_TEXT_TAGS = frozenset({"script", "style"})

# xmlURIEscapeStr keep-set as observed on 2.9.14: unreserved
# (alnum + mark) plus the call site's exception list
_URI_KEEP = frozenset(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    b"-_.!~*'()" b"@/:=?;#%&,+<>"
)

_BLANKS = " \t\r\n"

# C0 controls but tab/LF/CR: the parser keeps them in attribute values,
# and xmlNodeListGetString drops them when the dump reads the value
_DUMP_DROPPED = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _escape_text(s: str) -> str:
    """xmlEncodeEntitiesReentrant on an HTML doc with unicode output:
    only ``& < >`` are escaped."""
    if "&" in s:
        s = s.replace("&", "&amp;")
    if "<" in s:
        s = s.replace("<", "&lt;")
    if ">" in s:
        s = s.replace(">", "&gt;")
    return s


def _uri_escape(s: str) -> str:
    """xmlURIEscapeStr over the (already entity-escaped) value: skip
    leading blanks, then percent-encode disallowed UTF-8 bytes."""
    s = s.lstrip(_BLANKS)
    raw = s.encode("utf-8")
    if all(b in _URI_KEEP for b in raw):
        return s
    out = []
    for b in raw:
        if b in _URI_KEEP:
            out.append(chr(b))
        else:
            out.append("%%%02X" % b)
    return "".join(out)


def _quote_value(v: str) -> str:
    """xmlBufWriteQuotedString: prefer double quotes; single quotes if
    the value holds a double quote; both -> double with &quot;."""
    if '"' in v:
        if "'" in v:
            return '"%s"' % v.replace('"', "&quot;")
        return "'%s'" % v
    return '"%s"' % v


def _is_uri_attr(tag: str, name: str) -> bool:
    return (name in ("href", "src", "action")
            or (name == "name" and tag == "a"))


def _dump_attrs(node: Node, out: list) -> None:
    for name, value in node.attrib.items():
        if (value is None or isinstance(value, _MinimizedAttr)
                or name in BOOLEAN_ATTRS):
            out.append(" %s" % name)
            continue
        value = _DUMP_DROPPED.sub("", value)
        if value == "":
            out.append(' %s=""' % name)
            continue
        v = _escape_text(value)
        if _is_uri_attr(node.tag, name):
            v = _uri_escape(v)
        out.append(" %s=%s" % (name, _quote_value(v)))


def _dump_node(node: Node, out: list) -> None:
    tag = node.tag
    out.append("<%s" % tag)
    _dump_attrs(node, out)
    if tag in VOID_HTML4:
        # libxml2 writes ">" and stops: no children dump, no end tag
        out.append(">")
        return
    if not node.children and not node.text:
        if tag in _OMIT_EMPTY_END:
            out.append(">")
        else:
            out.append("></%s>" % tag)
        return
    out.append(">")
    if node.text:
        out.append(node.text if tag in _RAW_TEXT_TAGS
                   else _escape_text(node.text))
    for child in node.children:
        _dump_node(child, out)
        if child.tail:
            out.append(_escape_text(child.tail))
    out.append("</%s>" % tag)


def serialize_html(node: Node, with_tail: bool = True) -> str:
    """``lxml.etree.tounicode(node, method="html")`` equivalent."""
    out: list = []
    _dump_node(node, out)
    if with_tail and node.tail:
        out.append(_escape_text(node.tail))
    return "".join(out)


# ---------------------------------------------------------------------------
# readability 0.8.1 cleaners.py — runs on the SERIALIZED string

_BAD_ATTRS = ["width", "height", "style", "[-a-z]*color", "background",
              "bgcolor"]
_SINGLE_QUOTED = "'[^']+'"
_DOUBLE_QUOTED = '"[^"]+"'
_NON_SPACE = "[^ \"'>]+"
_HTMLSTRIP = re.compile(
    "<"  # open
    "([^>]+) "  # prefix
    "(?:%s) *" % ("|".join(_BAD_ATTRS),)
    + "= *(?:%s|%s|%s)"  # undefined or quoted or unquoted value
    % (_NON_SPACE, _SINGLE_QUOTED, _DOUBLE_QUOTED)
    + "([^>]*)"  # postfix
    ">",  # end
    re.I,
)


def clean_attributes(html: str) -> str:
    """readability/cleaners.py clean_attributes: repeatedly strip one
    width/height/style/*color/background/bgcolor attribute per matching
    tag until none remain."""
    while _HTMLSTRIP.search(html):
        html = _HTMLSTRIP.sub("<\\1\\2>", html)
    return html
