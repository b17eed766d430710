"""Minimal HTML DOM on stdlib ``html.parser`` (the sandbox has no lxml).

Models the subset of the lxml.html Element API that the readability
(Arc90) scorer and the html-text renderer need: ``tag``, ``attrib``,
``text``, ``tail``, child list, parent pointer, ``text_content()``,
``drop_tree()`` (tail-preserving, like ``lxml.html.HtmlElement.drop_tree``).

Recovery on malformed input replicates libxml2's HTML parser (what
lxml.html — and therefore readability-lxml — actually uses):
  * void elements never take children;
  * a start tag auto-closes open elements via libxml2's ``htmlAutoClose``
    loop: while the TOP of the element stack is in the new tag's
    ``htmlStartClose`` row, pop it.  ``AUTO_CLOSE_PAIRS`` below is that
    relation, derived from the system libxml2 2.9.14 by observation
    (``tools/derive_autoclose.py``; a live pytest differential re-derives
    it).  Top-of-stack only: ``<ul><li>a<b>x<li>c`` nests the second li
    inside ``<b>`` because (li, b) is not a pair, even though (li, li) is;
  * XML-style self-closing syntax (``<div/>``) runs the same auto-close,
    then appends an EMPTY element (libxml2 honors the slash in HTML mode);
  * stray end tags are ignored (no HTML5-style implied ``<p></p>``);
    a matching end tag closes through every intermediate open element
    (bounded by the ``_END_PRIORITY`` order); unclosed tags close at
    EOF;
  * comments, processing instructions and doctypes are dropped at parse time
    (both readability-lxml's clean step and html-text's Cleaner remove them;
    the serialized-length retry measure strips comments the same way —
    libxml2 would keep comment/PI NODES in its tree, the one deliberate
    tree-shape divergence, observationally equivalent after cleaning).

Document structure is IMPLIED exactly as libxml2's htmlCheckImplied /
htmlCheckParagraph do (tests/test_dom_structure.py pins it all):
  * every document gets an ``html`` root; head-y tags (title, meta,
    link, base, script, style) at html level open an implied ``head``
    while no head/body has been seen; any other content implies a
    ``body`` (except the frameset family); non-blank character data at
    document/html/head level opens an implied ``<p>`` that stays open;
  * blank runs are kept verbatim at html/head level and dropped at
    document level — except a blank flush cut short by a character
    reference, which libxml2 treats as significant (it flushes its
    buffer before each reference, and only a flush whose next input is
    ``<`` can be ignorable);
  * duplicate html/head/body start tags are discarded POSITIONALLY
    (``<html>`` whenever anything is open, ``<head>`` unless exactly
    the html is open, ``<body>`` while a body is OPEN — a second body
    after ``</body>`` is accepted), with each discard counted in a
    SHARED phantom counter that swallows the next html/head/body END
    tag regardless of name (libxml2 ctxt->depth);
  * content after ``</html>`` reopens nested ``html`` elements that
    collect as siblings inside the first html (libxml2 artifact).

Character references are resolved with libxml2's exact semantics, NOT
stdlib ``html.parser``'s HTML5-style ``convert_charrefs`` (which
resolves named references without a trailing semicolon, knows the
~2k-name HTML5 table, and cp1252-remaps C1 numerics — all divergent
from what lxml.html sees).  Every ``&`` is hidden behind a sentinel
before tokenization and restored afterwards under libxml2's rules,
derived from the system library 2.9.14 by observation:
  * named references need the terminating ``;``, are case-sensitive,
    and resolve through the 253-entry HTML4 table (htmlEntityLookup) —
    note ``&lang;``/``&rang;`` map to U+2329/232A, not HTML5's
    U+27E8/27E9; unknown or unterminated names stay literal;
  * numeric references (``&#65`` / ``&#x41``) do not need the ``;``
    (consumed when present, even after zero digits); codepoints failing
    xmlIsChar (C0 controls except tab/LF/CR, surrogates, >U+10FFFF,
    U+FFFE/FFFF, zero/empty/overflow) are DELETED, not replaced;
  * script/style content keeps references literal; title/textarea
    resolve them (RCDATA).
If the input already contains the U+E000 sentinel, resolution falls
back to convert_charrefs semantics (documented divergence; U+E000 is
a private-use codepoint with no legitimate occurrence in web text).

Invalid characters and NUL (all probed live):
  * characters failing xmlIsChar (C0 minus tab/LF/CR, U+FFFE/FFFF)
    are DELETED from character data and quoted attribute values, but
    TERMINATE token scans: a reference stops resolving at one
    ('&#X41f' + FF + 'f' is U+041F then 'f', not U+41FF) and inside a
    start tag one ends the attribute list (implemented via a second
    PUA sentinel, U+E001, stripped at the text/value sinks; unquoted
    attr values truncate where the library merges — documented
    approximation);
  * NUL is end-of-input in MARKUP scans (the scanned tag prefix still
    takes effect) and at data DISPATCH positions — run start, right
    after a resolved reference, or during a pending '&name' scan
    (xmlIsNameChar is Unicode-wide) — while a NUL midway through a
    chardata scan becomes a SPACE; unresolved NAMED refs ('&nGt;')
    emit literally and keep scanning.
  * with a doctype seen, content after the closed root html is
    DROPPED (no reopen artifact); a misplaced doctype additionally
    literalizes the immediately-following '</'/'<!' construct (see
    handle_decl).
"""

from __future__ import annotations

import re

from html import unescape as _html_unescape
from html.parser import HTMLParser
from typing import Iterator, Optional

# HTML 4.01 EMPTY-content elements (libxml2 html40ElementTable entries
# with the empty flag — the set the serializer's VOID_HTML4 probes):
# these are never pushed as containers.  HTML5-only voids (embed,
# source, track, wbr) are UNKNOWN tags to libxml2 and parse as
# containers ('<embed>x</embed>' keeps x inside), so they are
# deliberately absent here.
VOID_TAGS = frozenset({
    "area", "base", "basefont", "br", "col", "frame", "hr", "img",
    "input", "isindex", "link", "meta", "param",
})

# tag -> set of open tags it implicitly closes (nearest enclosing run)
class _MinimizedAttr(str):
    """Sentinel for a minimized attribute (``<input checked>``): equals
    ``""`` everywhere (lxml exposes ``''`` for these), but the
    serializer recognises the type and emits the bare name, matching
    libxml2's NULL-children representation."""

    __slots__ = ()


MINIMIZED = _MinimizedAttr("")

# libxml2 htmlStartClose relation: new start tag -> open tags it closes
# while they sit on TOP of the element stack.  Derived from the system
# libxml2 2.9.14 by tools/derive_autoclose.py (do not hand-edit; re-run
# the tool with --diff to audit).
AUTO_CLOSE_PAIRS: dict[str, frozenset] = {
    "a": frozenset({"a"}),
    "address": frozenset({"p", "ul"}),
    "blockquote": frozenset({"p"}),
    "caption": frozenset({"p"}),
    "center": frozenset({"b", "font", "i", "p"}),
    "colgroup": frozenset({"caption", "colgroup", "p"}),
    "dd": frozenset({"address", "dir", "dt", "menu", "p", "pre"}),
    "dir": frozenset({"p"}),
    "div": frozenset({"p"}),
    "dl": frozenset({"address", "dir", "dt", "menu", "p", "pre"}),
    "dt": frozenset({"address", "dd", "dir", "menu", "p", "pre"}),
    "fieldset": frozenset({"a", "h1", "h2", "h3", "h4", "h5", "h6",
                           "legend", "p", "pre"}),
    "form": frozenset({"address", "dir", "dl", "form", "h1", "h2", "h3",
                       "h4", "h5", "h6", "menu", "ol", "p", "pre", "ul"}),
    "h1": frozenset({"p"}),
    "h2": frozenset({"p"}),
    "h3": frozenset({"p"}),
    "h4": frozenset({"p"}),
    "h5": frozenset({"p"}),
    "h6": frozenset({"p"}),
    "hr": frozenset({"p"}),
    "li": frozenset({"address", "dl", "h1", "h2", "h3", "h4", "h5", "h6",
                     "li", "p", "pre"}),
    "menu": frozenset({"p", "ul"}),
    "ol": frozenset({"p", "ul"}),
    "optgroup": frozenset({"option"}),
    "option": frozenset({"option"}),
    "p": frozenset({"b", "big", "h1", "h2", "h3", "h4", "h5", "h6", "i",
                    "p", "s", "small", "strike", "tt", "u"}),
    "pre": frozenset({"p", "ul"}),
    "table": frozenset({"a", "h1", "h2", "h3", "h4", "h5", "h6", "p",
                        "pre"}),
    "tbody": frozenset({"caption", "colgroup", "p", "tbody", "td",
                        "tfoot", "th", "thead", "tr"}),
    "td": frozenset({"a", "b", "font", "i", "p", "span", "td", "th",
                     "u"}),
    "tfoot": frozenset({"caption", "colgroup", "p", "tbody", "td", "th",
                        "thead", "tr"}),
    "th": frozenset({"a", "b", "font", "i", "p", "span", "td", "th",
                     "u"}),
    "thead": frozenset({"caption", "colgroup"}),
    "title": frozenset({"p"}),
    "tr": frozenset({"caption", "colgroup", "p", "td", "th", "tr"}),
    "ul": frozenset({"address", "dir", "menu", "ol", "p", "pre"}),
}

# Document-structure tags libxml2 never duplicates: a repeated start tag
# is ignored (content merges into the existing element, attrs dropped).
_SINGLETON_TAGS = frozenset({"html", "head", "body"})

# --- implied-structure relations (libxml2 htmlCheckImplied /
# htmlCheckParagraph, derived from the system library by observation;
# tests/test_dom_structure.py re-derives the closer table live) ---

# Tags that open an implied <head> when they appear at html level
# before any head/body has been seen; at html level AFTER a head was
# seen they stay at html level and never imply a body.
_HEAD_ONLY = frozenset({"base", "link", "meta", "script", "style",
                        "title"})

# htmlStartClose entries against "head": a start tag in this set pops
# an OPEN head from the top of the stack (body implication follows).
# Everything else — including unknown names like article/section and
# head-permitted content like object/isindex — leaves head open.
_HEAD_CLOSERS = frozenset({
    "a", "abbr", "acronym", "address", "b", "bdo", "big", "blockquote",
    "br", "center", "cite", "code", "dd", "dfn", "dir", "div", "dl",
    "dt", "em", "fieldset", "font", "form", "frameset", "h1", "h2",
    "h3", "h4", "h5", "h6", "hr", "i", "iframe", "img", "kbd", "li",
    "map", "menu", "ol", "p", "pre", "q", "s", "samp", "small", "span",
    "strike", "strong", "sub", "sup", "table", "tt", "u", "ul", "var",
})

# Frameset-family tags never imply a body.
_NO_BODY_IMPLY = frozenset({"frame", "frameset", "noframes"})

_STRUCT_TAGS = frozenset({"html", "head", "body"})

# libxml2 htmlEndPriority: a misplaced end tag closes through open
# elements only while their priority is <= its own; crossing a
# higher-priority element makes the end tag a no-op.  Values derived
# from the system libxml2 2.9.14 by observation (the full pairwise
# closes-through matrix over the element universe reduces to exactly
# this total order — tools/derive_autoclose.py --priorities).
# Unlisted tags have priority 100.
_END_PRIORITY = {
    "div": 150, "td": 160, "th": 160, "tr": 161, "thead": 162,
    "tbody": 162, "tfoot": 162, "table": 170, "head": 180,
    "body": 180, "html": 180,
}
# head/body/html sit ABOVE table: an open <body> (reachable inside a
# table via the head-level tbody quirk) blocks </table> and </tbody>,
# while </head>/</body>/</html> close through the whole table family —
# all six cells probed against the live library
# (tests/test_dom_structure.py).


# libxml2's HTML4 named-entity table (html40EntitiesTable, 253 entries),
# derived from the system library 2.9.14 by observation
# (tests/test_dom_recovery.py re-derives it live).  Case-sensitive;
# values differ from HTML5 on lang/rang (U+2329/232A vs U+27E8/27E9).
HTML4_ENTITIES = {
    "AElig": 'Æ', "Aacute": 'Á', "Acirc": 'Â',
    "Agrave": 'À', "Alpha": 'Α', "Aring": 'Å',
    "Atilde": 'Ã', "Auml": 'Ä', "Beta": 'Β',
    "Ccedil": 'Ç', "Chi": 'Χ', "Dagger": '‡',
    "Delta": 'Δ', "ETH": 'Ð', "Eacute": 'É',
    "Ecirc": 'Ê', "Egrave": 'È', "Epsilon": 'Ε',
    "Eta": 'Η', "Euml": 'Ë', "Gamma": 'Γ',
    "Iacute": 'Í', "Icirc": 'Î', "Igrave": 'Ì',
    "Iota": 'Ι', "Iuml": 'Ï', "Kappa": 'Κ',
    "Lambda": 'Λ', "Mu": 'Μ', "Ntilde": 'Ñ',
    "Nu": 'Ν', "OElig": 'Œ', "Oacute": 'Ó',
    "Ocirc": 'Ô', "Ograve": 'Ò', "Omega": 'Ω',
    "Omicron": 'Ο', "Oslash": 'Ø', "Otilde": 'Õ',
    "Ouml": 'Ö', "Phi": 'Φ', "Pi": 'Π',
    "Prime": '″', "Psi": 'Ψ', "Rho": 'Ρ',
    "Scaron": 'Š', "Sigma": 'Σ', "THORN": 'Þ',
    "Tau": 'Τ', "Theta": 'Θ', "Uacute": 'Ú',
    "Ucirc": 'Û', "Ugrave": 'Ù', "Upsilon": 'Υ',
    "Uuml": 'Ü', "Xi": 'Ξ', "Yacute": 'Ý',
    "Yuml": 'Ÿ', "Zeta": 'Ζ', "aacute": 'á',
    "acirc": 'â', "acute": '´', "aelig": 'æ',
    "agrave": 'à', "alefsym": 'ℵ', "alpha": 'α',
    "amp": '&', "and": '∧', "ang": '∠',
    "apos": "'", "aring": 'å', "asymp": '≈',
    "atilde": 'ã', "auml": 'ä', "bdquo": '„',
    "beta": 'β', "brvbar": '¦', "bull": '•',
    "cap": '∩', "ccedil": 'ç', "cedil": '¸',
    "cent": '¢', "chi": 'χ', "circ": 'ˆ',
    "clubs": '♣', "cong": '≅', "copy": '©',
    "crarr": '↵', "cup": '∪', "curren": '¤',
    "dArr": '⇓', "dagger": '†', "darr": '↓',
    "deg": '°', "delta": 'δ', "diams": '♦',
    "divide": '÷', "eacute": 'é', "ecirc": 'ê',
    "egrave": 'è', "empty": '∅', "emsp": '\u2003',
    "ensp": '\u2002', "epsilon": 'ε', "equiv": '≡',
    "eta": 'η', "eth": 'ð', "euml": 'ë',
    "euro": '€', "exist": '∃', "fnof": 'ƒ',
    "forall": '∀', "frac12": '½', "frac14": '¼',
    "frac34": '¾', "frasl": '⁄', "gamma": 'γ',
    "ge": '≥', "gt": '>', "hArr": '⇔',
    "harr": '↔', "hearts": '♥', "hellip": '…',
    "iacute": 'í', "icirc": 'î', "iexcl": '¡',
    "igrave": 'ì', "image": 'ℑ', "infin": '∞',
    "int": '∫', "iota": 'ι', "iquest": '¿',
    "isin": '∈', "iuml": 'ï', "kappa": 'κ',
    "lArr": '⇐', "lambda": 'λ', "lang": '〈',
    "laquo": '«', "larr": '←', "lceil": '⌈',
    "ldquo": '“', "le": '≤', "lfloor": '⌊',
    "lowast": '∗', "loz": '◊', "lrm": '\u200e',
    "lsaquo": '‹', "lsquo": '‘', "lt": '<',
    "macr": '¯', "mdash": '—', "micro": 'µ',
    "middot": '·', "minus": '−', "mu": 'μ',
    "nabla": '∇', "nbsp": '\xa0', "ndash": '–',
    "ne": '≠', "ni": '∋', "not": '¬',
    "notin": '∉', "nsub": '⊄', "ntilde": 'ñ',
    "nu": 'ν', "oacute": 'ó', "ocirc": 'ô',
    "oelig": 'œ', "ograve": 'ò', "oline": '‾',
    "omega": 'ω', "omicron": 'ο', "oplus": '⊕',
    "or": '∨', "ordf": 'ª', "ordm": 'º',
    "oslash": 'ø', "otilde": 'õ', "otimes": '⊗',
    "ouml": 'ö', "para": '¶', "part": '∂',
    "permil": '‰', "perp": '⊥', "phi": 'φ',
    "pi": 'π', "piv": 'ϖ', "plusmn": '±',
    "pound": '£', "prime": '′', "prod": '∏',
    "prop": '∝', "psi": 'ψ', "quot": '"',
    "rArr": '⇒', "radic": '√', "rang": '〉',
    "raquo": '»', "rarr": '→', "rceil": '⌉',
    "rdquo": '”', "real": 'ℜ', "reg": '®',
    "rfloor": '⌋', "rho": 'ρ', "rlm": '\u200f',
    "rsaquo": '›', "rsquo": '’', "sbquo": '‚',
    "scaron": 'š', "sdot": '⋅', "sect": '§',
    "shy": '\xad', "sigma": 'σ', "sigmaf": 'ς',
    "sim": '∼', "spades": '♠', "sub": '⊂',
    "sube": '⊆', "sum": '∑', "sup": '⊃',
    "sup1": '¹', "sup2": '²', "sup3": '³',
    "supe": '⊇', "szlig": 'ß', "tau": 'τ',
    "there4": '∴', "theta": 'θ', "thetasym": 'ϑ',
    "thinsp": '\u2009', "thorn": 'þ', "tilde": '˜',
    "times": '×', "trade": '™', "uArr": '⇑',
    "uacute": 'ú', "uarr": '↑', "ucirc": 'û',
    "ugrave": 'ù', "uml": '¨', "upsih": 'ϒ',
    "upsilon": 'υ', "uuml": 'ü', "weierp": '℘',
    "xi": 'ξ', "yacute": 'ý', "yen": '¥',
    "yuml": 'ÿ', "zeta": 'ζ', "zwj": '\u200d',
    "zwnj": '\u200c',
}

# The sentinel every literal '&' hides behind during tokenization, so
# stdlib html.parser's HTML5-style charref conversion never runs.
_AMP_SENTINEL = "\ue000"
# invalid characters (xmlIsChar failures minus NUL) are replaced with a
# SECOND private-use sentinel instead of deleted outright: libxml2
# deletes them from character data and attribute VALUES but they still
# TERMINATE token scans — a reference stops resolving at one
# ('&#X41f\x0cf' is U+041F + 'f', not U+41FF), and inside a start tag
# one is a junk token where a name would start.  The sentinel survives
# through tokenization (breaking ref matches naturally) and is stripped
# at the text/value sinks.
_INV_SENTINEL = "\ue001"

# Reference forms after the sentinel swap: numeric (hex / decimal, the
# ';' consumed when present even after zero digits) or named (';'
# REQUIRED; resolved case-sensitively through HTML4_ENTITIES).
_REF_RE = re.compile(
    "\ue000(?:#(?:[xX]([0-9a-fA-F]*)|([0-9]*));?|([a-zA-Z][a-zA-Z0-9]*);)?"
)

# Raw-text content models: libxml2 keeps references literal inside
# these (title/textarea are RCDATA and DO resolve).
_RAW_TEXT_TAGS = frozenset({"script", "style"})

# libxml2 tag names: stdlib html.parser's tolerant tag scan keeps junk
# chars in the name ('<b]] x="1">' names the element 'b]]'); libxml2
# stops at its name charset and skips the junk (element 'b', attrs
# kept), and a qualified name keeps the part after the FIRST colon
# when non-empty ('b:c' -> 'c', 'x::y' -> ':y', 'b:' stays 'b:').
_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9._:-]*")


def _libxml_tag_name(tag: str) -> Optional[str]:
    m = _NAME_RE.match(tag)
    if not m:
        return None
    name = m.group(0)
    if ":" in name:
        local = name.split(":", 1)[1]
        if local:
            name = local
    return name


# fast path for the overwhelmingly common case: a known tag name needs
# no junk-stripping or QName-splitting (hot path: one lookup per tag)
_CLEAN_TAGS = frozenset({
    "a", "abbr", "acronym", "address", "applet", "area", "article",
    "aside", "b", "base", "basefont", "bdo", "big", "blockquote",
    "body", "br", "button", "caption", "center", "cite", "code",
    "col", "colgroup", "dd", "del", "dfn", "dir", "div", "dl", "dt",
    "em", "embed", "fieldset", "figure", "font", "footer", "form",
    "frame", "frameset", "h1", "h2", "h3", "h4", "h5", "h6", "head",
    "header", "hr", "html", "i", "iframe", "img", "input", "ins",
    "isindex", "kbd", "label", "legend", "li", "link", "main", "map",
    "menu", "meta", "nav", "noframes", "noscript", "object", "ol",
    "optgroup", "option", "p", "param", "pre", "q", "s", "samp",
    "script", "section", "select", "small", "span", "strike",
    "strong", "style", "sub", "sup", "table", "tbody", "td",
    "textarea", "tfoot", "th", "thead", "title", "tr", "tt", "u",
    "ul", "var", "wbr",
})


# Attribute names may also start with '_' or ':' (xmlParseName) and are
# NOT QName-split (``x:y=1`` keeps the name ``x:y``, unlike tags).
_ATTRNAME_RE = re.compile(r"[a-zA-Z_:][a-zA-Z0-9._:-]*")
_WS = " \t\n\r\f"

# libxml2 comment close: '-->' or '--!>' ('-- >' does NOT close).
_COMMENT_CLOSE_RE = re.compile(r"--!?>")

# The chars that may START an end-tag name (htmlParseHTMLName's first
# char, probe-derived: '</.b>' is swallowed like a tag, '</9>' is not).
_ENDNAME_START = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_:.")

# The chars that CONTINUE a name (raw-text close detection).
_NAME_CONT_RE = re.compile(r"[a-zA-Z0-9._:-]")


def _parse_attrs_libxml(raw: str, hide_refs: bool,
                        hide_inv: bool) -> tuple:
    """Parse attributes from the RAW start-tag text with libxml2's
    htmlParseStartTag algorithm — stdlib html.parser's tolerant scan
    diverges on junk (it makes ``<b/junk>`` an attribute and keeps
    ``=x`` as a name).  Returns ``(attrs, selfclose)``.  libxml2
    rules, all probe-verified:

      * a token failing the name charset is skipped to the next BLANK
        (``<b ]]x="1">`` loses the x; ``<b]] x="1">`` keeps it);
      * blanks are allowed around '='; a missing value means MINIMIZED;
        ``x=`` is an explicit empty string; an unquoted value may
        START with '=' (``x==1`` -> ``=1``);
      * unquoted values run to the next blank or tag end and may
        contain quotes (``x=a"b``) and slashes — ``<b x=1/>`` is NOT
        self-closing (value ``1/``), and ``<b x=/>`` isn't either
        (value ``/``): after an ``=`` the value scan always wins;
      * self-close is decided at the scan's ATTRIBUTE BOUNDARIES: a
        ``/>`` seen where an attribute would start ends the tag as an
        empty element (``<b @j=1/>`` IS self-closing — the junk skip
        stops at ``/>`` — which html.parser's dispatch gets wrong, so
        the flag must come from this scan, not from which handler
        fired);
      * duplicate names keep the first; names lowercase; values keep
        case and resolve references with the truncating attr rule;
      * an invalid char (``hide_inv``: hidden as the sentinel) fails
        the name charset, so in the name area it is junk skipped to the
        next blank (``<p\x0cclass=x id=y>`` keeps only id, ``<p\x0c
        class=x>`` keeps class); in a value, quoted or not, it is
        deleted, and where a value would start it starts an unquoted
        one (``x=\x0c'a'`` -> ``'a'``, ``x=\x0c y`` -> empty x and a
        minimized y).
    """
    if raw[1:-1].isalnum():
        return {}, False  # fast path: '<div>' — no attrs, no slash
    end = len(raw) - 1
    selfclose = False
    m = _NAME_RE.match(raw, 1)
    i = m.end() if m else 1
    attrs: dict = {}
    while i < end:
        if raw[i] in _WS:
            i += 1
            continue
        if raw[i] == "/" and i == end - 1:
            selfclose = True
            break
        m = _ATTRNAME_RE.match(raw, i)
        if not m:
            while i < end and raw[i] not in _WS \
                    and not (raw[i] == "/" and i == end - 1):
                i += 1
            continue
        name = m.group(0).lower()
        i = m.end()
        j = i
        while j < end and raw[j] in _WS:
            j += 1
        if j < end and raw[j] == "=":
            i = j + 1
            while i < end and raw[i] in _WS:
                i += 1
            if i < end and raw[i] in "\"'":
                q = raw[i]
                i += 1
                k = raw.find(q, i, end)
                if k == -1:
                    val, i = raw[i:end], end
                else:
                    val, i = raw[i:k], k + 1
            else:
                k = i
                while k < end and raw[k] not in _WS:
                    k += 1
                val, i = raw[i:k], k
            if hide_inv:
                val = val.replace(_INV_SENTINEL, "")
            if name not in attrs:
                if hide_refs and _AMP_SENTINEL in val:
                    val = _resolve_attr_value(val)
                elif not hide_refs and "&" in val:
                    # sentinel-collision fallback: keep the
                    # convert_charrefs semantics the docstring promises
                    val = _html_unescape(val)
                attrs[name] = val
        else:
            if name not in attrs:
                attrs[name] = MINIMIZED
    return attrs, selfclose


def _xml_is_char(cp: int) -> bool:
    """libxml2 xmlIsChar: the codepoints a numeric reference may emit."""
    return (cp in (0x9, 0xA, 0xD) or 0x20 <= cp <= 0xD7FF
            or 0xE000 <= cp <= 0xFFFD or 0x10000 <= cp <= 0x10FFFF)


def _resolve_ref(m: "re.Match") -> str:
    # hot path: m.lastindex names the one matched group (1=hex 2=dec
    # 3=named, None=bare '&') without touching the others
    li = m.lastindex
    if li == 3:
        name = m.group(3)
        val = HTML4_ENTITIES.get(name)
        return val if val is not None else f"&{name};"
    if li is None:
        return "&"  # bare '&' (no reference form followed)
    try:
        cp = int(m.group(li), 16 if li == 1 else 10)
    except ValueError:  # zero digits: libxml2 emits nothing
        return ""
    return chr(cp) if _xml_is_char(cp) else ""


def _resolve_attr_value(s: str) -> str:
    """Attribute-value resolution: same reference rules as text, except
    an INVALID numeric reference (failing digits or xmlIsChar) TRUNCATES
    the value there — libxml2's attr parser writes the bad codepoint as
    a NUL into its C buffer, cutting the string (``title="a&#0;q"``
    parses as ``"a"``)."""
    out: list[str] = []
    pos = 0
    for m in _REF_RE.finditer(s):
        out.append(s[pos:m.start()])
        pos = m.end()
        hexd, decd, name = m.group(1), m.group(2), m.group(3)
        if name is not None:
            val = HTML4_ENTITIES.get(name)
            out.append(val if val is not None else f"&{name};")
        elif hexd is not None or decd is not None:
            try:
                cp = int(hexd, 16) if hexd is not None else int(decd)
            except ValueError:
                return "".join(out)
            if not _xml_is_char(cp):
                return "".join(out)
            out.append(chr(cp))
        else:
            out.append("&")
    out.append(s[pos:])
    return "".join(out)




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


class _TreeBuilder(HTMLParser):
    """``hide_refs=True`` means the input had every ``&`` swapped for
    ``_AMP_SENTINEL``; references are resolved libxml2-style PER
    TOKENIZER CHUNK (text runs are bounded by '<' exactly as libxml2's
    char-data scan is — resolving after tree-building would merge text
    across dropped tokens and corrupt references like ``&#X41</u>caf``)
    and attribute values resolve with the truncating attr rule."""

    def __init__(self, hide_refs: bool = False,
                 hide_inv: bool = False):
        super().__init__(convert_charrefs=True)
        # when True, U+E001 chars in the input are the invalid-char
        # sentinel (stripped at sinks, scan terminators in markup);
        # when False the codepoint is ordinary text (fallback mode)
        self._hide_inv = hide_inv
        self.root = Node("#root")
        self.stack = [self.root]
        self._hide_refs = hide_refs
        # implied-structure state (libxml2 htmlCheckImplied): the
        # FIRST html/head/body node of the document ("seen" gates for
        # implication), plus the shared phantom-discard counter
        # (libxml2 ctxt->depth) that swallows html/head/body end tags
        self._html: Optional[Node] = None
        self._html0: Optional[Node] = None  # reopen anchor (first html)
        self._head: Optional[Node] = None
        self._body: Optional[Node] = None
        self._depth = 0
        self._stopped = False  # depth-cap fatal (htmlParserMaxDepth)
        # DOCTYPE machinery (probed live, tests/test_dom_structure.py):
        # a doctype ANYWHERE suppresses the after-</html> reopen
        # artifact (content after the closed root is dropped), and a
        # MISPLACED doctype (any doctype that is not the prolog's
        # first construct) literalizes the immediately-following '<'
        # unless it opens a start tag, comment, or PI
        self._doctype_seen = False
        self._decl_quirk = False
        self._prolog = True

    # -- helpers -------------------------------------------------------
    def _cur(self) -> Node:
        return self.stack[-1]

    def _nul_rules(self, data: str) -> str:
        """libxml2's NUL handling in character data, probed live: a
        NUL at a DISPATCH position — run start, immediately after a
        character reference, or during a reference attempt — is end
        of input ('\x00<p>t' and 'y&#x;\x00z' and '&a\x00z' all drop
        everything from the NUL on), while a NUL encountered midway
        through a chardata scan becomes a SPACE ('a\x00b' -> 'a b').
        Raw-text content (script/style) has no reference dispatch;
        only the run-start case stops there.  Returns (processed
        prefix, stop?) — the caller processes the prefix first, THEN
        stops, so the already-scanned text keeps its effect."""
        raw_text = self._cur().tag in _RAW_TEXT_TAGS
        res: list = []
        pos = 0
        while True:
            k = data.find("\x00", pos)
            if k == -1:
                res.append(data[pos:])
                return "".join(res), False
            if k == 0:
                stop = True
            elif raw_text or not self._hide_refs:
                stop = False
            else:
                window = data[:k]
                e = 0
                bare = False
                last = None
                for m in _REF_RE.finditer(window):
                    e = m.end()
                    bare = m.end() - m.start() == 1  # lone '&'
                    last = m
                if e == k:
                    # NUL right after a reference: stop — EXCEPT after
                    # an unresolved NAMED ref ('&nGt;'), which libxml2
                    # emits literally and keeps scanning (probed:
                    # 'q&nGt;\x00r' -> 'q&nGt; r' but 'q&amp;\x00r'
                    # and every numeric form stop)
                    name = last.group(3) if last is not None else None
                    stop = not (name is not None
                                and name not in HTML4_ENTITIES)
                elif bare and _is_name_run(window[e:]):
                    stop = True  # NUL during a pending '&name' scan
                else:
                    stop = False
            if stop:
                res.append(data[pos:k])
                return "".join(res), True
            res.append(data[pos:k])
            res.append(" ")
            pos = k + 1

    def _emit_literal_lt(self) -> None:
        """A literalized '<' (the opener of a bogus '<!' construct, or
        the one a misplaced-doctype quirk eats) is emitted with the
        IGNORABLE-flush classing (like a blank run): dropped at
        document level, kept VERBATIM at html/head level (no p
        implication), ordinary text inside content — all probed live
        ('<p>a</body><![if !IE]>z' keeps the bare '<' at html level
        while the remainder opens the implied p)."""
        if self._cur().tag != "#root":
            self._add_text("<")

    def _take_quirk(self) -> bool:
        q = self._decl_quirk
        self._decl_quirk = False
        return q

    def _depth_stop(self) -> bool:
        """libxml2 htmlParserMaxDepth (256): a start tag reaching its
        push step with more than 256 OPEN elements (nameNr; our
        ``#root`` excluded) is a fatal error — the parser stops
        consuming input entirely and the document tail is dropped.
        Probed live: the check runs AFTER the auto-close/implied pops
        (``<p>`` replacing a top-of-stack ``<p>`` at max depth is
        accepted) and BEFORE the append (a void ``<br>`` at max depth
        aborts without pushing); positionally-discarded html/head/body
        duplicates and stray end tags at max depth do NOT abort.
        Besides parity, this bounds tree depth for every downstream
        recursive walker (htmltext render, serializer)."""
        if len(self.stack) > 257:  # #root + 256 open
            self._stopped = True
            return True
        return False

    def _add_text(self, data: str) -> None:
        if self._hide_inv and _INV_SENTINEL in data:
            data = data.replace(_INV_SENTINEL, "")
            if not data:
                return
        cur = self._cur()
        if cur.children:
            last = cur.children[-1]
            last.tail = (last.tail or "") + data
        else:
            cur.text = (cur.text or "") + data

    def _auto_close(self, tag: str) -> None:
        # libxml2 htmlAutoClose: pop while the new tag closes the TOP of
        # the element stack (context-free pair check, top-only).
        closers = AUTO_CLOSE_PAIRS.get(tag)
        if not closers:
            return
        while len(self.stack) > 1 and self.stack[-1].tag in closers:
            self.stack.pop()

    # -- implied document structure (libxml2 htmlCheckImplied) ---------
    def _ensure_html(self) -> None:
        # invariant: whenever anything is open the html is stack[1]
        # (every push goes through here first), so depth>1 means open
        if len(self.stack) > 1:
            return
        if self._html is None:
            node = Node("html")
            self.root.append(node)
            self.stack.append(node)
            self._html = node
            self._html0 = node
        else:
            self._reopen_html({})

    def _reopen_html(self, ad: dict) -> None:
        # content after '</html>' reopens a NESTED html element
        # appended inside the FIRST html (libxml2 artifact, pinned by
        # probes: '<html><body>x</body></html><p>late</p>' puts the
        # late <p> in <html><p/></html> inside the root html, and
        # repeated reopens become SIBLINGS there, not a nested
        # chain); the stack is [#root] whenever the html is closed.
        # With a doctype seen (any position), libxml2 instead DROPS
        # everything after the closed root — no reopen, input over.
        if self._doctype_seen:
            self._stopped = True
            return
        node = Node("html", ad)
        self._html0.append(node)
        self.stack.append(node)
        self._html = node

    def _insert(self, tag: str, ad: dict, selfclose: bool = False) -> None:
        """Insert a start tag with libxml2's implied-structure rules
        (htmlCheckImplied + htmlParseStartTag's html/head/body discard
        checks), then the ordinary auto-close machinery.

        Discard rules are POSITIONAL, with a shared phantom counter:
        <html> is discarded whenever anything is open, <head> whenever
        the open-element count isn't exactly one (the html), <body>
        whenever a body is currently OPEN (a CLOSED body does not
        block — '</body><body class=z>' creates a second body node).
        Every discard bumps ``_depth``, and an end tag for ANY of the
        three names is swallowed while the counter is positive
        (libxml2's ctxt->depth — which is why a discarded duplicate
        <head> swallows a later </body>)."""
        stack = self.stack
        if self._body is not None and len(stack) > 1 \
                and tag not in _STRUCT_TAGS \
                and stack[-1] is not self._html:
            # hot path: ordinary tag, body seen, insertion point not
            # at html level — no structure implication can fire, only
            # the auto-close loop (identical to the full path below)
            closers = AUTO_CLOSE_PAIRS.get(tag)
            pops_head = tag in _HEAD_CLOSERS
            if closers or pops_head:
                while len(stack) > 1:
                    top = stack[-1].tag
                    if (closers and top in closers) \
                            or (pops_head and top == "head"):
                        stack.pop()
                    else:
                        break
            if self._depth_stop():
                return
            node = Node(tag, ad)
            stack[-1].append(node)
            if not selfclose and tag not in VOID_TAGS:
                stack.append(node)
            return
        self._prolog = False
        if tag == "html":
            if len(self.stack) > 1:
                self._depth += 1
                return
            if self._html is None:
                node = Node(tag, ad)
                self.root.append(node)
                self.stack.append(node)
                self._html = node
                self._html0 = node
            else:
                self._reopen_html(ad)
            return
        self._ensure_html()
        if self._stopped:
            return
        if tag in ("head", "body"):
            # htmlStartClose pairs (head,p)/(body,p)/(body,head):
            # top-only pops that run even when the start tag is then
            # discarded ('<html>text<body>x' closes the implied p
            # around text).  '<head><object><body>' nests the body
            # INSIDE the object — the pop really is top-only.
            closers = ("p", "head") if tag == "body" else ("p",)
            while len(self.stack) > 1 and self.stack[-1].tag in closers:
                self.stack.pop()
        if tag == "head":
            if len(self.stack) != 2:
                self._depth += 1
                return
            node = Node(tag, ad)
            self._cur().append(node)
            self.stack.append(node)
            if self._head is None:
                self._head = node
            return
        if tag == "body":
            if any(n.tag == "body" for n in self.stack):
                self._depth += 1
                return
            if self._depth_stop():
                return
            node = Node(tag, ad)
            self._cur().append(node)
            self.stack.append(node)
            if self._body is None:
                self._body = node
            return
        if tag in _HEAD_ONLY and self._cur() is self._html:
            # head-y tag at html level: opens the implied head only
            # while no head/body has been seen; otherwise it stays at
            # html level (it never implies a body from here)
            if self._head is None and self._body is None:
                hd = Node("head")
                self._cur().append(hd)
                self.stack.append(hd)
                self._head = hd
        else:
            # htmlAutoClose with the (tag, head) pairs folded into the
            # SAME top-only loop — '<legend><fieldset>' pops legend
            # (pair), then the now-top head (head pair), in one pass
            # (this IS the auto-close for this path; the head-y branch
            # above can only have the html itself on top, so neither
            # path needs a second _auto_close run)
            closers = AUTO_CLOSE_PAIRS.get(tag)
            pops_head = tag in _HEAD_CLOSERS
            if closers or pops_head:
                while len(self.stack) > 1:
                    top = self.stack[-1].tag
                    if (closers and top in closers) \
                            or (pops_head and top == "head"):
                        self.stack.pop()
                    else:
                        break
            if self._body is None and tag not in _NO_BODY_IMPLY \
                    and not any(n.tag == "head" for n in self.stack):
                b = Node("body")
                self._cur().append(b)
                self.stack.append(b)
                self._body = b
        if self._depth_stop():
            return
        node = Node(tag, ad)
        self._cur().append(node)
        if not selfclose and tag not in VOID_TAGS:
            self.stack.append(node)

    # -- HTMLParser hooks ---------------------------------------------
    def _name(self, tag):
        # memoized common case; junk names take the slow path
        if tag in _CLEAN_TAGS:
            return tag
        return _libxml_tag_name(tag)

    def _start(self, tag, attrs, xml_slash):
        # Attributes AND the self-close decision re-parse from the RAW
        # start-tag text with libxml2's algorithm
        # (_parse_attrs_libxml) — stdlib html.parser's tolerant scan
        # keeps junk tokens as attributes (``<b /junk>``, ``<b "x">``),
        # loses libxml2's skip-to-blank rule, and mis-dispatches
        # ``<b @j=1/>`` (its value scan eats the slash, so it fires
        # handle_starttag where libxml2 self-closes).  First-duplicate-
        # wins and MINIMIZED (serialized as the bare name by htmlser;
        # libxml2 stores NULL children for it) are handled inside the
        # re-parse; the handler-arg fallback covers a None raw text
        # only, trusting html.parser's dispatch (``xml_slash``).
        if self._stopped:
            return
        self._decl_quirk = False  # start tags parse normally
        tag = _libxml_tag_name(tag)
        if tag is None:
            return
        raw = self.get_starttag_text()
        if raw is not None and "\x00" in raw:
            # libxml2 treats NUL inside MARKUP as end of input: the
            # scanned prefix of the tag still takes effect ('<p\x00
            # class="x">t' keeps an attributeless <p>, '<p class=x\x00
            # y>' keeps class="x"), then parsing stops and the rest of
            # the document is dropped — probed live
            ad, selfclose = _parse_attrs_libxml(
                raw[:raw.index("\x00")] + ">", self._hide_refs,
                self._hide_inv)
            self._insert(tag, ad, selfclose)
            self._stopped = True
            return
        if raw is not None:
            ad, selfclose = _parse_attrs_libxml(raw, self._hide_refs,
                                                self._hide_inv)
        else:
            selfclose = xml_slash
            ad = {}
            for k, v in attrs:
                if k not in ad:
                    if v is None:
                        ad[k] = MINIMIZED
                    elif self._hide_refs and _AMP_SENTINEL in v:
                        ad[k] = _resolve_attr_value(v)
                    else:
                        ad[k] = v
        # <div/>: libxml2's HTML parser honors the slash — auto-close
        # runs, then an EMPTY element is appended (never pushed).
        self._insert(tag, ad, selfclose)

    def handle_starttag(self, tag, attrs):
        self._start(tag, attrs, xml_slash=False)

    def handle_startendtag(self, tag, attrs):
        self._start(tag, attrs, xml_slash=True)

    def handle_endtag(self, tag):
        if self._stopped:
            return
        self._prolog = False  # any end tag (even stray) ends the prolog
        tag = self._name(tag)
        if tag is None or tag in VOID_TAGS:
            return
        if tag in _STRUCT_TAGS and self._depth > 0:
            # a pending phantom from a discarded html/head/body start
            # swallows this end tag (libxml2 ctxt->depth — shared
            # across all three names)
            self._depth -= 1
            return
        stack = self.stack
        if len(stack) > 1 and stack[-1].tag == tag:
            stack.pop()  # hot path: well-nested close
            return
        pri = _END_PRIORITY.get(tag, 100)
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
            if _END_PRIORITY.get(self.stack[i].tag, 100) > pri:
                # libxml2 htmlAutoCloseOnClose: a misplaced end tag
                # cannot close through a higher-priority element
                return
        # stray end tag: ignored

    _STRUCTURAL = ("#root", "html", "head")

    def _structural_text_final(self, seg):
        # the LAST flush of a char-data run (next input is '<' or
        # EOF): blank runs are "ignorable" — kept verbatim at
        # html/head level, dropped at document level — while
        # non-blank text opens the implied paragraph
        # (htmlCheckParagraph; the p then STAYS open)
        if self._hide_inv and _INV_SENTINEL in seg:
            seg = seg.replace(_INV_SENTINEL, "")
        if not seg:
            return
        if self._cur().tag not in self._STRUCTURAL:
            # an earlier flush of this run already opened the p
            self._add_text(seg)
            return
        if not seg.strip(" \t\n\r"):
            if self._cur().tag != "#root":
                self._add_text(seg)
            return
        self._insert("p", {})
        if self._stopped:
            return
        self._add_text(seg)

    def _structural_text_with_refs(self, data):
        # libxml2 flushes its char-data buffer BEFORE each reference,
        # and a flush whose next input is '&' (not '<') is never
        # "ignorable" — so even a BLANK run directly before a
        # reference opens the implied paragraph, while the blank tail
        # after the last reference can still be ignorable
        # ('<html> &#xD800;<code>' p-wraps the space;
        #  '<html>&#xD800; <code>' keeps it at html level)
        pos = 0
        for m in _REF_RE.finditer(data):
            seg = data[pos:m.start()]
            pos = m.end()
            if self._hide_inv and _INV_SENTINEL in seg:
                seg = seg.replace(_INV_SENTINEL, "")
            if seg:
                if self._cur().tag in self._STRUCTURAL:
                    self._insert("p", {})
                    if self._stopped:
                        return
                self._add_text(seg)
            val = _resolve_ref(m)
            if val:
                if self._cur().tag in self._STRUCTURAL:
                    self._insert("p", {})
                    if self._stopped:
                        return
                self._add_text(val)
        self._structural_text_final(data[pos:])

    def handle_data(self, data):
        if self._stopped or not data:
            return
        if "\x00" in data:
            data, stop = self._nul_rules(data)
            if data:
                self.handle_data(data)  # now NUL-free
            if stop:
                self._stopped = True
            return
        self._decl_quirk = False  # any intervening data disarms
        if self._prolog and data.strip(
                " \t\n\r" + (_INV_SENTINEL if self._hide_inv else "")):
            self._prolog = False
        cur = self._cur().tag
        if self._hide_refs and _AMP_SENTINEL in data:
            if cur in _RAW_TEXT_TAGS:
                self._add_text(data.replace(_AMP_SENTINEL, "&"))
                return
            if cur in self._STRUCTURAL:
                self._structural_text_with_refs(data)
                return
            data = _REF_RE.sub(_resolve_ref, data)
        if cur in self._STRUCTURAL:
            self._structural_text_final(data)
            return
        self._add_text(data)

    # comments / PIs / doctype dropped (cleaner semantics: readability's
    # html_cleaner removes comment and PI nodes before scoring, and
    # clean_attributes strips comments from the serialized retry
    # measure, so parse-time drop is observationally equivalent)
    def handle_comment(self, data):
        if self._stopped:
            return
        self._decl_quirk = False

    def updatepos(self, i, j):
        # stdlib bookkeeping for error positions: counts newlines over
        # every consumed span to maintain self.lineno/offset, which
        # nothing in this recovery parser ever reads (no error
        # reporting; libxml2 positions are not modeled). Skipping the
        # scans is a measurable win on multi-MB documents.
        return j

    def handle_decl(self, decl):
        # only '<!doctype...' forms reach here (parse_html_declaration
        # routes everything else). The node is dropped either way
        # (cleaner semantics), but the STATE matters: a prolog doctype
        # (first construct, only blanks/comments/PIs before it) is
        # legitimate; any other — mid-content, after content, or a
        # second doctype — is misplaced and arms the one-shot
        # literalization quirk. Both suppress the after-</html>
        # reopen.
        if self._stopped:
            return
        if self._prolog and not self._doctype_seen:
            self._prolog = False
        else:
            self._decl_quirk = True
        self._doctype_seen = True

    def handle_pi(self, data):
        if self._stopped:
            return
        self._decl_quirk = False

    def parse_html_declaration(self, i):
        # libxml2 treats '<!' that opens neither a comment nor a
        # DOCTYPE as LITERAL TEXT: the '<' is emitted as character
        # data and tokenization resumes at the next character (so
        # '<![if !IE]>x<![endif]>' — a downlevel-revealed conditional
        # comment — contributes visible text, and '<![CDATA[a<b]]>'
        # re-parses the inner '<b' as a start tag).  stdlib
        # html.parser would instead swallow these as bogus comments /
        # marked sections.
        if self._stopped:
            return len(self.rawdata)
        rawdata = self.rawdata
        if rawdata[i:i + 4] == "<!--":
            self._decl_quirk = False
            return self.parse_comment(i)
        if self._take_quirk():
            # armed misplaced-doctype quirk: this '<!' construct
            # (doctype or bogus) is literalized — '<' as ignorable
            # char data, scan resumes after it
            self._emit_literal_lt()
            return i + 1
        if rawdata[i:i + 9].lower() == "<!doctype":
            return super().parse_html_declaration(i)
        self._emit_literal_lt()
        return i + 1

    def parse_comment(self, i, report=1):
        # libxml2's comment scan closes at the FIRST '-->' OR '--!>'
        # ('-- >' does not close), and an UNTERMINATED comment
        # swallows everything to EOF — where stdlib html.parser
        # accepts only '-->' and re-emits an unterminated comment as
        # literal text at close().  The comment content is dropped
        # either way (cleaner semantics, handle_comment below); input
        # is single-feed, so rawdata holds the whole document.  stdlib
        # goahead dispatches '<!--' here directly, so a comment must
        # disarm the misplaced-doctype quirk itself.
        self._decl_quirk = False
        m = _COMMENT_CLOSE_RE.search(self.rawdata, i + 4)
        return m.end() if m else len(self.rawdata)

    def set_cdata_mode(self, elem):
        # libxml2's raw-text (script/style) scan stops at a '</' +
        # element-name PREFIX (case-insensitive, NO blanks before the
        # name): if the name continues with more name chars
        # ('</scriptfoo>') the whole end-tag token is consumed to the
        # first '>' and DROPPED while the element stays open;
        # otherwise the element closes, junk consumed through '>'.
        # stdlib's '</\s*script\s*>' regex both over-accepts
        # ('</ script>' is CONTENT in libxml2) and under-accepts
        # ('</script x>' CLOSES in libxml2).
        self.cdata_elem = elem.lower()
        self.interesting = re.compile(
            r"</%s" % self.cdata_elem, re.IGNORECASE)

    def parse_starttag(self, i):
        if self._stopped:
            return len(self.rawdata)
        rawdata = self.rawdata
        # the NUL scan stops at the tag's '>': unbounded, it would walk
        # to the end of the input once per tag
        gt = rawdata.find(">", i)
        nul = rawdata.find("\x00", i, len(rawdata) if gt == -1 else gt)
        if nul != -1:
            # NUL inside the start tag (markup = end of input,
            # libxml2): the scanned prefix still takes effect —
            # '<p\x00 class="x">t' keeps an attributeless <p>,
            # '<scr\x00ipt>' keeps an empty <scr> — then parsing
            # stops (stdlib would reject the tag and re-emit it
            # as text instead)
            prefix = rawdata[i:nul]
            m = _STARTNAME_NUL_RE.match(prefix)
            if m is not None:
                tag = _libxml_tag_name(m.group(1))
                if tag is not None:
                    ad, selfclose = _parse_attrs_libxml(
                        prefix + ">", self._hide_refs, self._hide_inv)
                    self._insert(tag, ad, selfclose)
            self._stopped = True
            return len(rawdata)
        return super().parse_starttag(i)

    def parse_endtag(self, i):
        if self._stopped:
            return len(self.rawdata)
        rawdata = self.rawdata
        if self.cdata_elem is not None:
            # reached only at a '</name'-prefix match of the scan
            # regex above
            j = i + 2 + len(self.cdata_elem)
            k = rawdata.find(">", j)
            if _NAME_CONT_RE.match(rawdata, j):
                # longer name ('</scriptfoo>'): token dropped, the
                # raw-text element stays open
                return len(rawdata) if k == -1 else k + 1
            elem = self.cdata_elem
            self.clear_cdata_mode()
            self.handle_endtag(elem)
            return len(rawdata) if k == -1 else k + 1
        if self._take_quirk():
            # armed misplaced-doctype quirk: the whole end tag is
            # literalized — '<' as ignorable char data, '/name>' (and
            # anything else up to the next '<') rejoins ordinary text
            self._emit_literal_lt()
            return i + 1
        # libxml2's '</' recovery: when the next char cannot START an
        # end-tag name (not [a-zA-Z_:.]) the two chars '</' are
        # DROPPED and tokenization resumes as character data ('a </>
        # b' yields the text 'a > b') — stdlib html.parser instead
        # swallows everything to the next '>' as a bogus comment.
        # Name-start chars fall through: both parsers then consume to
        # '>' and the QName-local / unknown-name end tag is ignored
        # by handle_endtag, which is already equivalent.  A hidden
        # invalid char (the sentinel) cannot start a name either, so
        # this runs before the invalid-char branch ('a</\x0cp>b'
        # keeps 'p>b' as text).
        if i + 2 < len(rawdata) \
                and rawdata[i + 2] not in _ENDNAME_START:
            return i + 2
        gt0 = rawdata.find(">", i)
        span_end = gt0 if gt0 != -1 else len(rawdata)
        if self._hide_inv and _INV_SENTINEL in rawdata[i:span_end]:
            # invalid char inside an end tag: the scanned name prefix
            # still closes; junk consumed through '>'
            m = _ENDNAME_NUL_RE.match(rawdata, i)
            if m:
                self.handle_endtag(m.group(1))
            return span_end + 1 if gt0 != -1 else len(rawdata)
        if rawdata.find("\x00", i, span_end) != -1:
            # NUL inside the end tag (markup = end of input): the
            # scanned name prefix still closes its element, then
            # parsing stops ('</p\x00>u' closes the p, drops u)
            m = _ENDNAME_NUL_RE.match(rawdata, i)
            if m:
                self.handle_endtag(m.group(1))
            self._stopped = True
            return len(rawdata)
        return super().parse_endtag(i)

    def close(self):
        super().close()
        # an UNTERMINATED script/style swallows the rest of the
        # document as its content in libxml2; stdlib goahead leaves
        # that tail unconsumed in rawdata at close() — emit it
        if self.cdata_elem is not None and self.rawdata:
            self.handle_data(self.rawdata)
            self.rawdata = ""


# characters libxml2's xmlCurrentChar refuses outside the NUL special
# case: C0 controls minus tab/LF/CR, plus the two non-characters it
# checks explicitly.  (0x7F and C1 0x80-0x9F PASS xmlIsChar and are
# kept.)
_INVALID_CHAR_RE = re.compile("[\x01-\x08\x0b\x0c\x0e-\x1f\ufffe\uffff]")


_ENDNAME_NUL_RE = re.compile(
    "</([a-zA-Z_:.][^\t\n\r\f />\x00\ue001]*)")
def _is_name_run(seg: str) -> bool:
    """Would libxml2's reference-name scan still be consuming this
    text?  xmlIsNameChar is Unicode-wide (CJK continues an entity-name
    scan), approximated as unicode-alphanumeric plus the XML name
    puncts."""
    return bool(seg) and all(c.isalnum() or c in "._-:\u00b7"
                             for c in seg)


_STARTNAME_NUL_RE = re.compile(
    "<([a-zA-Z][^\t\n\r\f />\x00\ue001]*)")


def parse_html(text: str) -> Node:
    """Parse an HTML string into a tree; returns the synthetic ``#root``.

    The root's children are whatever top-level elements the document has
    (usually a single ``html``); fragments parse to multiple children.

    Character references resolve with libxml2 semantics: every ``&`` is
    swapped for a private-use sentinel before tokenization (so stdlib
    html.parser's HTML5-style conversion never fires) and restored
    afterwards under the derived rules (module docstring).  Input that
    already contains the sentinel codepoint falls back to
    convert_charrefs semantics.
    """
    # libxml2's xmlCurrentChar skips characters failing xmlIsChar
    # wherever they appear (content, attributes, comments): C0
    # controls except tab/LF/CR, and U+FFFE/U+FFFF, are DELETED from
    # the input (probed live on every position class).  NUL is
    # different — space in character-data scans, EOF in markup scans —
    # and is handled downstream (_TreeBuilder NUL rules).
    hide_inv = False
    if _INVALID_CHAR_RE.search(text):
        if _INV_SENTINEL in text:
            # input already uses the PUA codepoint: fall back to plain
            # deletion (documented approximation, like the AMP
            # sentinel fallback)
            text = _INVALID_CHAR_RE.sub("", text)
        else:
            text = _INVALID_CHAR_RE.sub(_INV_SENTINEL, text)
            hide_inv = True
    hide = _AMP_SENTINEL not in text
    if hide:
        text = text.replace("&", _AMP_SENTINEL)
    tb = _TreeBuilder(hide_refs=hide, hide_inv=hide_inv)
    tb.feed(text)
    tb.close()
    return tb.root


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
