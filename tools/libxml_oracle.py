"""libxml2's own HTML dumps and attribute reads — the golden source for
the HTML serializer and the reference for the DOM walk.

``readability-lxml==0.8.1`` (reference pin, pyproject.toml:84) computes
its retry-length over ``tounicode(node, method="html")``, which lxml
implements by calling libxml2's ``htmlNodeDumpFormatOutput``.  The
pipeline parses with the system libxml2 2.9.14 through
``ragflow_spark.extractlib.dom`` (the same library lxml links); this
module adds the dump functions to that binding so the serializer in
``ragflow_spark/extractlib/htmlser.py`` and the tree walk in ``dom``
can be pinned against the library itself:

  * ``serialize_subtree(html, tag)`` — parse an HTML document and dump
    the first element named ``tag`` exactly as
    ``lxml.etree.tounicode(el, method="html")`` would (element + its
    tail, format=0, UTF-8);
  * ``serialize_root(html)`` — dump the document's root element;
  * ``attribute_values(html, tag)`` — ``xmlGetProp`` for every
    attribute of the first element named ``tag`` (what lxml's ``get``
    returns).

Test-authoring and differential-test harness only.
"""

from __future__ import annotations

import ctypes

from ragflow_spark.extractlib.dom import (HTML_PARSE_OPTIONS, LIBXML2,
                                          read_node)

_ELEMENT = 1


def _bind(lib: ctypes.CDLL) -> None:
    lib.xmlAllocOutputBuffer.restype = ctypes.c_void_p
    lib.xmlAllocOutputBuffer.argtypes = [ctypes.c_void_p]
    lib.htmlNodeDumpFormatOutput.restype = None
    lib.htmlNodeDumpFormatOutput.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p, ctypes.c_char_p,
        ctypes.c_int,
    ]
    lib.xmlOutputBufferGetContent.restype = ctypes.c_char_p
    lib.xmlOutputBufferGetContent.argtypes = [ctypes.c_void_p]
    lib.xmlOutputBufferGetSize.restype = ctypes.c_size_t
    lib.xmlOutputBufferGetSize.argtypes = [ctypes.c_void_p]
    lib.xmlOutputBufferClose.restype = ctypes.c_int
    lib.xmlOutputBufferClose.argtypes = [ctypes.c_void_p]
    lib.xmlGetProp.restype = ctypes.c_void_p
    lib.xmlGetProp.argtypes = [ctypes.c_void_p, ctypes.c_char_p]


_bind(LIBXML2)
# xmlFree is a global function pointer, not an exported function
_xml_free = ctypes.CFUNCTYPE(None, ctypes.c_void_p).in_dll(LIBXML2,
                                                            "xmlFree")


def load_libxml2() -> ctypes.CDLL:
    """The pipeline's libxml2, with the dump functions bound."""
    return LIBXML2


def _name(addr: int) -> str:
    p = read_node(addr)[1]
    return ctypes.string_at(p).decode() if p else ""


def _find_element(addr: int, tag: str) -> int:
    """Depth-first search for the first element named ``tag``."""
    if not addr:
        return 0
    typ, _, child, _, _, _ = read_node(addr)
    if typ == _ELEMENT and _name(addr) == tag:
        return addr
    while child:
        hit = _find_element(child, tag)
        if hit:
            return hit
        child = read_node(child)[3]
    return 0


class LibxmlHtml:
    """One parsed HTML document + subtree dumps."""

    def __init__(self, lib: ctypes.CDLL, html: str):
        self.lib = lib
        raw = html.encode("utf-8")
        self.doc = lib.htmlReadMemory(raw, len(raw), b"test.html",
                                      b"utf-8", HTML_PARSE_OPTIONS)
        if not self.doc:
            raise ValueError("htmlReadMemory failed")

    def close(self) -> None:
        if self.doc:
            self.lib.xmlFreeDoc(self.doc)
            self.doc = 0

    def element(self, tag: str) -> int:
        el = _find_element(self.lib.xmlDocGetRootElement(self.doc), tag)
        if not el:
            raise KeyError(tag)
        return el

    def dump_element(self, tag: str, with_tail: bool = True) -> str:
        """Serialize the first element named ``tag`` the way
        ``lxml.etree.tounicode(el, method="html")`` does: the node dump,
        plus (with_tail) the text node(s) that follow it."""
        el = self.element(tag)
        out = self._dump_node(el)
        if with_tail:
            sib = read_node(el)[3]
            while sib and read_node(sib)[0] in (3, 4):  # text / cdata
                out += self._dump_node(sib)
                sib = read_node(sib)[3]
        return out

    def attribute_values(self, tag: str) -> dict:
        el = self.element(tag)
        out = {}
        prop = read_node(el)[5]
        while prop:
            name = _name(prop)
            value = self.lib.xmlGetProp(el, name.encode())
            try:
                out[name] = (ctypes.string_at(value).decode()
                             if value else None)
            finally:
                if value:
                    _xml_free(value)
            prop = read_node(prop)[3]
        return out

    def _dump_node(self, node_addr: int) -> str:
        buf = self.lib.xmlAllocOutputBuffer(None)
        if not buf:
            raise MemoryError
        try:
            self.lib.htmlNodeDumpFormatOutput(buf, self.doc, node_addr,
                                              b"utf-8", 0)
            size = self.lib.xmlOutputBufferGetSize(buf)
            content = self.lib.xmlOutputBufferGetContent(buf)
            raw = ctypes.string_at(content, size) if content else b""
            return raw.decode("utf-8")
        finally:
            self.lib.xmlOutputBufferClose(buf)


def serialize_subtree(html: str, tag: str, with_tail: bool = True) -> str:
    d = LibxmlHtml(LIBXML2, html)
    try:
        return d.dump_element(tag, with_tail=with_tail)
    finally:
        d.close()


def serialize_root(html: str) -> str:
    """Dump the document's ROOT element (usually the implied ``html``)
    — observes libxml2's implied html/head/body construction."""
    d = LibxmlHtml(LIBXML2, html)
    try:
        root = LIBXML2.xmlDocGetRootElement(d.doc)
        if not root:
            return ""
        return d._dump_node(root)
    finally:
        d.close()


def attribute_values(html: str, tag: str) -> dict:
    """``{name: xmlGetProp(el, name)}`` over the attributes of the first
    element named ``tag`` (``None`` where the property has no value)."""
    d = LibxmlHtml(LIBXML2, html)
    try:
        return d.attribute_values(tag)
    finally:
        d.close()


if __name__ == "__main__":
    import sys
    html = sys.stdin.read()
    tag = sys.argv[1] if len(sys.argv) > 1 else "body"
    print(repr(serialize_subtree(html, tag)))
