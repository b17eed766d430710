"""HTML DOM parsed by the system libxml2 2.9.14, the parser lxml.html
(and therefore readability-lxml and html-text) runs on.

``parse_html`` hands the text to libxml2's HTML parser
(``htmlReadMemory`` with RECOVER|NOERROR|NOWARNING|NONET, UTF-8) and
copies the tree under ``xmlDocGetRootElement`` into ``Node`` objects
with lxml's tree model:

  * text and CDATA children become the ``text`` of their element or
    the ``tail`` of the element before them;
  * comment and processing-instruction nodes are dropped and the text
    around them is joined (readability's cleaner and html-text's
    Cleaner both remove them before anything reads the tree);
  * an attribute with no value children (``<input checked>``) is
    ``MINIMIZED``; every other value is the tree's own string, which
    may still hold characters that fail ``xmlIsChar`` (the serializer
    drops those, as libxml2's dump does);
  * only the root element is copied, as lxml's ``getroot()`` does:
    nodes libxml2 leaves at document level after a doctype'd
    ``</html>`` are not part of the result.

Every malformed-input rule (auto-close, implied html/head/body/p, end
priorities, entity table, NUL and invalid characters, the depth cap)
is the library's own.  The walk reads ``xmlNode``/``xmlAttr`` fields
at fixed offsets, which hold for this library version on 64-bit hosts
only, so importing this module fails unless ``xmlParserVersion`` is
``"20914"``.  ``tools/libxml_oracle.py`` reuses this binding for its
dump-based differentials.

The ``Node`` API is the subset of lxml.html's Element that readability
and html-text need: ``tag``, ``attrib``, ``text``, ``tail``, children,
parent, ``text_content()``, ``drop_tree()`` and ``drop_tag()``.
"""

from __future__ import annotations

import ctypes
import gc
import struct
from typing import Iterator, Optional

# HTML 4.01 EMPTY-content elements (libxml2 html40ElementTable entries
# with the empty flag): the parser never gives them children.  HTML5-only
# voids (embed, source, track, wbr) are unknown tags to libxml2 and parse
# as containers.
VOID_TAGS = frozenset({
    "area", "base", "basefont", "br", "col", "frame", "hr", "img",
    "input", "isindex", "link", "meta", "param",
})


class _MinimizedAttr(str):
    """Sentinel for a minimized attribute (``<input checked>``): equals
    ``""`` everywhere (lxml exposes ``''`` for these), but the
    serializer recognises the type and emits the bare name, matching
    libxml2's NULL-children representation."""

    __slots__ = ()


MINIMIZED = _MinimizedAttr("")

LIBXML2_VERSION = "20914"


def check_libxml2_version(version: str) -> None:
    """Reject any libxml2 but the pinned 2.9.14: its parser is the
    reference behaviour, and the struct offsets below are its layout."""
    if version != LIBXML2_VERSION or ctypes.sizeof(ctypes.c_void_p) != 8:
        raise ImportError(
            f"ragflow_spark needs the system libxml2 2.9.14 (xmlParserVersion "
            f"{LIBXML2_VERSION}) on a 64-bit host; found xmlParserVersion "
            f"{version!r} with {8 * ctypes.sizeof(ctypes.c_void_p)}-bit "
            f"pointers")


def _load_libxml2() -> ctypes.CDLL:
    try:
        lib = ctypes.CDLL("libxml2.so.2")
    except OSError as e:
        raise ImportError(
            "ragflow_spark needs the system libxml2 2.9.14 (libxml2.so.2), "
            f"the library lxml links: {e}") from e
    check_libxml2_version(
        ctypes.c_char_p.in_dll(lib, "xmlParserVersion").value.decode())
    lib.xmlInitParser.argtypes = []
    lib.xmlInitParser.restype = None
    lib.htmlReadMemory.argtypes = [ctypes.c_char_p, ctypes.c_int,
                                   ctypes.c_char_p, ctypes.c_char_p,
                                   ctypes.c_int]
    lib.htmlReadMemory.restype = ctypes.c_void_p
    lib.xmlDocGetRootElement.argtypes = [ctypes.c_void_p]
    lib.xmlDocGetRootElement.restype = ctypes.c_void_p
    lib.xmlFreeDoc.argtypes = [ctypes.c_void_p]
    lib.xmlFreeDoc.restype = None
    lib.xmlInitParser()
    return lib


LIBXML2 = _load_libxml2()

# HTML_PARSE_RECOVER | HTML_PARSE_NOERROR | HTML_PARSE_NOWARNING |
# HTML_PARSE_NONET
HTML_PARSE_OPTIONS = 1 | 32 | 64 | 2048

# The leading fields shared by xmlNode and xmlAttr (2.9.14, LP64):
# type @8, name @16, children @24, next @48, and for xmlNode content
# @80 and properties @88.  96 bytes is the size of xmlAttr, the
# smaller of the two structs.
_NODE = struct.Struct("<8xi4xQQ16xQ24xQQ")
_ELEMENT, _TEXT, _CDATA = 1, 3, 4


def read_node(addr: int) -> tuple:
    """``(type, name, children, next, content, properties)`` of the
    xmlNode at ``addr``; for an xmlAttr the last two are not fields."""
    return _NODE.unpack(ctypes.string_at(addr, _NODE.size))


def _string(addr: int) -> str:
    return ctypes.string_at(addr).decode("utf-8")


class Node:
    __slots__ = ("tag", "attrib", "text", "tail", "children", "parent")

    def __init__(self, tag: str, attrib: Optional[dict] = None):
        self.tag = tag
        self.attrib = attrib or {}
        self.text: Optional[str] = None
        self.tail: Optional[str] = None
        self.children: list["Node"] = []
        self.parent: Optional["Node"] = None

    # -- lxml-like API -------------------------------------------------
    def get(self, key: str, default=None):
        return self.attrib.get(key, default)

    def set(self, key: str, value: str) -> None:
        self.attrib[key] = value

    def getparent(self) -> Optional["Node"]:
        return self.parent

    def append(self, child: "Node") -> None:
        if child.parent is not None:
            child.parent.children.remove(child)
        child.parent = self
        self.children.append(child)

    def insert(self, idx: int, child: "Node") -> None:
        if child.parent is not None:
            child.parent.children.remove(child)
        child.parent = self
        self.children.insert(idx, child)

    def remove(self, child: "Node") -> None:
        self.children.remove(child)
        child.parent = None

    def index(self, child: "Node") -> int:
        return self.children.index(child)

    def iter(self, tag: Optional[str] = None) -> Iterator["Node"]:
        """Depth-first, self included (document order), like lxml .iter().

        Iterative (explicit stack): generator recursion costs O(depth)
        per yielded node and dominated the extraction profile. Children
        are snapshotted at visit time, same as the recursive form, so
        callers may detach the yielded node mid-iteration."""
        stack = [self]
        while stack:
            n = stack.pop()
            if tag is None or n.tag == tag:
                yield n
            if n.children:
                stack.extend(reversed(n.children))

    def iter_list(self, tag: Optional[str] = None) -> list["Node"]:
        """Materialized ``.iter()`` — identical to ``list(self.iter(tag))``
        (the walk is one atomic snapshot; no caller mutation can
        interleave with it) without the generator resumption cost,
        which dominated the extraction profile at ~2µs/node across
        readability's many full-tree walks.  Only for call sites that
        already materialized the walk or consume it fully read-only;
        mutation-during-iteration callers keep the lazy ``iter()``."""
        out = []
        stack = [self]
        pop = stack.pop
        push = stack.extend
        add = out.append
        if tag is None:
            while stack:
                n = pop()
                add(n)
                c = n.children
                if c:
                    push(c[::-1])
        else:
            while stack:
                n = pop()
                if n.tag == tag:
                    add(n)
                c = n.children
                if c:
                    push(c[::-1])
        return out

    def text_content(self) -> str:
        """All text in the subtree, in document order (lxml text_content).

        Iterative: the stack holds nodes to open and already-ordered
        tail strings; for each child (pushed in reverse) its tail is
        pushed first so it pops after the child's whole subtree."""
        out: list[str] = []
        stack: list = [self]
        while stack:
            item = stack.pop()
            if item.__class__ is str:
                out.append(item)
                continue
            if item.text:
                out.append(item.text)
            for c in reversed(item.children):
                if c.tail:
                    stack.append(c.tail)
                stack.append(c)
        return "".join(out)

    def drop_tree(self) -> None:
        """Remove self+subtree; merge tail into the previous text position
        (lxml.html drop_tree semantics — readability relies on this)."""
        parent = self.parent
        if parent is None:
            return
        idx = parent.children.index(self)
        if self.tail:
            if idx > 0:
                prev = parent.children[idx - 1]
                prev.tail = (prev.tail or "") + self.tail
            else:
                parent.text = (parent.text or "") + self.tail
        parent.children.pop(idx)
        self.parent = None

    def drop_tag(self) -> None:
        """Remove self but keep children in place (lxml drop_tag)."""
        parent = self.parent
        if parent is None:
            return
        idx = parent.children.index(self)
        kids = self.children
        # splice text: self.text goes before first kid / into prev tail
        if self.text:
            if idx > 0:
                prev = parent.children[idx - 1]
                prev.tail = (prev.tail or "") + self.text
            else:
                parent.text = (parent.text or "") + self.text
        for k in kids:
            k.parent = parent
        parent.children[idx:idx + 1] = kids
        # tail of self goes after last kid / same splice
        if self.tail:
            if kids:
                last = kids[-1]
                last.tail = (last.tail or "") + self.tail
            elif idx > 0:
                prev = parent.children[idx - 1]
                prev.tail = (prev.tail or "") + self.tail
            else:
                parent.text = (parent.text or "") + self.tail
        self.parent = None
        self.children = []

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Node {self.tag} kids={len(self.children)}>"


def _attrib(prop: int, name_of) -> dict:
    attrib: dict = {}
    while prop:
        _, name, child, prop, _, _ = read_node(prop)
        if not child:
            attrib[name_of(name)] = MINIMIZED
            continue
        parts = []
        while child:
            typ, _, _, child, content, _ = read_node(child)
            if typ == _TEXT and content:
                parts.append(_string(content))
        attrib[name_of(name)] = "".join(parts)
    return attrib


def _copy_tree(root: int, top: Node) -> None:
    """Copy the element at ``root`` and its subtree under ``top``, in
    document order (the order libxml2 allocated the nodes in).  A text
    node is the tail of the element appended last to its parent, or
    the parent's text."""
    names: dict = {}  # pointer -> str; the doc interns its names

    def name_of(addr: int) -> str:
        s = names.get(addr)
        if s is None:
            s = names[addr] = _string(addr)
        return s

    unpack, at, size = _NODE.unpack, ctypes.string_at, _NODE.size
    _, name, addr, _, _, props = unpack(at(root, size))
    parent = Node(name_of(name), _attrib(props, name_of) if props else None)
    top.append(parent)
    kids = parent.children
    stack = []  # (element, next sibling of the child being copied)
    while True:
        while addr:
            typ, name, child, addr, content, props = unpack(at(addr, size))
            if typ == _ELEMENT:
                node = Node(name_of(name),
                            _attrib(props, name_of) if props else None)
                node.parent = parent
                kids.append(node)
                if child:
                    stack.append((parent, addr))
                    parent, kids, addr = node, node.children, child
            elif (typ == _TEXT or typ == _CDATA) and content:
                s = at(content).decode("utf-8")
                if kids:
                    last = kids[-1]
                    last.tail = s if last.tail is None else last.tail + s
                else:
                    parent.text = (s if parent.text is None
                                   else parent.text + s)
        if not stack:
            return
        parent, addr = stack.pop()
        kids = parent.children


def parse_html(text: str) -> Node:
    """Parse an HTML string with libxml2; returns a synthetic ``#root``
    whose one child is the document's root element (no child for a
    document without one).  Lone surrogates, which no decoder in the
    pipeline produces and UTF-8 cannot carry, are dropped."""
    top = Node("#root")
    raw = text.encode("utf-8", "ignore")
    doc = LIBXML2.htmlReadMemory(raw, len(raw), None, b"utf-8",
                                 HTML_PARSE_OPTIONS)
    if not doc:
        return top
    # Every object the copy makes stays alive until it returns, so a
    # cyclic collection during it frees nothing; with pandas, pyarrow
    # and Spark loaded, the full collections it triggered took about a
    # quarter of the parse time of a 2 MB page.
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        root = LIBXML2.xmlDocGetRootElement(doc)
        if root:
            _copy_tree(root, top)
    finally:
        if gc_was_enabled:
            gc.enable()
        LIBXML2.xmlFreeDoc(doc)
    return top


def find_first(root: Node, tag: str) -> Optional[Node]:
    for n in root.iter(tag):
        return n
    return None


def get_body(root: Node) -> Node:
    body = find_first(root, "body")
    return body if body is not None else root


def drop_tags(root: Node, tags) -> None:
    """Remove all nodes with the given tags (subtree included)."""
    tags = frozenset(tags)
    for n in root.iter_list():
        if n.tag in tags:
            n.drop_tree()


_ESCAPES = {"&": "&amp;", "<": "&lt;", ">": "&gt;"}


def _esc(s: str) -> str:
    for k, v in _ESCAPES.items():
        s = s.replace(k, v)
    return s


def tostring(node: Node) -> str:
    """Minimal HTML serializer (debugging / golden dumps)."""
    out: list[str] = []

    def walk(n: Node) -> None:
        if n.tag != "#root":
            attrs = "".join(f' {k}="{_esc(v)}"' for k, v in n.attrib.items())
            out.append(f"<{n.tag}{attrs}>")
        if n.text:
            out.append(_esc(n.text))
        for c in n.children:
            walk(c)
            if c.tail:
                out.append(_esc(c.tail))
        if n.tag != "#root" and n.tag not in VOID_TAGS:
            out.append(f"</{n.tag}>")

    walk(node)
    return "".join(out)
