"""Randomized malformed-HTML differential: dom walk + htmlser vs libxml2.

Generates random token streams (start tags, stray/mismatched end tags,
XML self-closing syntax, text with entities, duplicate/minimized/URI
attributes, tokenizer and structural junk, NUL and invalid characters)
wrapped in an <html><head><title>t</title></head><body> shell, plus
shell-less fragments and documents at libxml2's depth cap.  Each
document is parsed once through ``dom.parse_html`` (libxml2's parser,
copied into ``dom.Node`` trees) and serialized with
``htmlser.serialize_html``; the result must equal libxml2's own
``htmlNodeDumpFormatOutput`` of the root element.  The check covers
the tree walk (text/tail assembly, attribute values, MINIMIZED) and
every serializer rule.

The walk drops comment and PI nodes where the library's dump keeps
them (the pipeline's Cleaner removes them before anything reads the
tree), so comment nodes are stripped from the library's dump before
comparing, and PIs are not generated.  Unterminated comments are not
generated either: they swallow the rest of the document.

Usage: python tools/html_fuzz.py [N] [SEED]
Exit 0 when all N documents match, 1 otherwise (first 10 diffs shown).
"""

from __future__ import annotations

import random
import re
import sys

from ragflow_spark.extractlib.dom import find_first, parse_html
from ragflow_spark.extractlib.htmlser import serialize_html
from tools.libxml_oracle import serialize_root

TAGS = [
    "a", "abbr", "address", "b", "big", "blockquote", "caption",
    "center", "cite", "code", "dd", "dir", "div", "dl", "dt", "em",
    "fieldset", "font", "form", "h1", "h2", "h3", "h4", "h5", "h6",
    "i", "ins", "kbd", "label", "legend", "li", "menu", "ol",
    "optgroup", "option", "p", "pre", "q", "s", "samp", "select",
    "small", "span", "strike", "strong", "sub", "sup", "table",
    "tbody", "td", "tfoot", "th", "thead", "tr", "tt", "u", "ul",
    "var", "article", "section", "nav",
    "acronym", "applet", "aside", "bdo", "button", "colgroup", "del",
    "dfn", "figure", "iframe", "main", "map", "noscript", "object",
    "embed", "wbr",
]
VOIDS = ["br", "hr", "img", "input"]
WORDS = ["alpha", "beta", "gamma", "delta", "text", "word", "x", "y",
         "page", "link", "item", "entry", "note", "&amp;", "&lt;a&gt;",
         "café", "文档",
         # entity-resolution junk
         "&amp", "&copy;", "&copy", "&COPY;", "&unknown;", "&dollar;",
         "&#65", "&#x41;", "&#X41", "&#0;", "&#xD800;", "&#1114112;",
         "&#151;", "&#abc", "&#x;", "&#", "&;", "&", "&lang;", "&nGt;",
         "a&&b", "&#9;tab",
         # NUL / invalid-char handling: run-initial NUL ends the
         # input, mid-run NUL -> space, C0-minus-tab/LF/CR and
         # U+FFFE/FFFF are deleted from character data
         "a\x00b", "\x00dropped", "v\x0bt", "f\x0cf.", "e\x01\x1fe",
         "n\ufffen"]
ATTR_NAMES = ["class", "id", "title", "data-x", "href", "src", "name",
              "checked", "align", "width"]
ATTR_VALS = ["main", "x y", 'say "hi"', "it's", "a&b", "http://e.com/a b",
             "", "1", "café", "&copy;", "&copy=3", "&#65", "&amp",
             "&unknown;", "&#0;q", "x?a=1&b=2",
             # invalid characters: kept in the tree, dropped by the dump
             "a\x0cb", "\x0b", "q\ufffer"]
# raw attribute-area junk (libxml2's htmlParseStartTag mechanics:
# skip-to-blank on bad names, unquoted values eating quotes/slashes,
# blanks around '=', first-duplicate-wins)
ATTR_JUNK = [' ]]x="1"', ']] x="1"', ' x=a"b', ' x = "1"', " x=",
             ' x="1"y="2"', " x:y=1", " _x=1", " :y=2", " x=1 x=2",
             " X=1", " /junk x=1", " x=1/", ' "junk"', " @foo=1",
             " x==1", ' ]x="a b"', " x= =1", " =1", " x=&copy;",
             ' x."y=1', " 9x=1", " x=a/b", " x=1//", " x/ y=2",
             " a.b-c_d:e=1", ' x="a\x0cb"', ' x="a\x00b"', " y\x00=2",
             "\x0c class=x", " class=x \x0c id=y", " class=\x0cx"]
RAW_CONTAINERS = ["script", "style", "textarea", "title"]
RAW_CONTENT = ["var a = 1;", "if (a<b && c>d) {}", ".x > .y { }",
               "a &amp; b &#65; &copy; &copy plain", "<p>not a tag</p>"]
# tokenizer-level junk: bare '<', '<!' oddballs, malformed end tags,
# and comment-close variants
TOKEN_JUNK = ["a < b", "a <3 b", "a <$x b", "a <<b>x</b>", "a <&copy; b",
              "x <!", "x <!junk>y", "x <!->y", "<![if !IE]>z<![endif]>",
              "</ p> b", "</> b", "</3> b", "</$> b", "</_q>x", "</.q>x",
              "</:q>x", "</q:r>x", "<!-- a -->y", "<!---->y",
              "<!-- a --->y", "<!--a--b-->y", "<!-- a --!y -->z",
              "<!-- c --!>y", "x<!doctype html>y",
              "a<p\x00 q>b", "a</p\x00>b", "<td\x00>z", "a</\x0cp>b"]
# libxml2 serializes kept comment nodes; the dom walk drops them —
# strip them from the libxml2 dump before comparing
_COMMENT_NODE_RE = re.compile(r"<!--.*?--!?>", re.S)


def gen_doc(rng: random.Random) -> str:
    parts = []
    open_tags: list[str] = []
    n = rng.randint(4, 28)
    for _ in range(n):
        r = rng.random()
        if r < 0.38:  # start tag
            tag = rng.choice(TAGS)
            attrs = ""
            for _ in range(rng.randint(0, 2)):
                q = rng.random()
                if q < 0.15:
                    attrs += rng.choice(ATTR_JUNK)
                    continue
                an = rng.choice(ATTR_NAMES)
                if q < 0.35:
                    attrs += f" {an}"  # minimized
                else:
                    av = rng.choice(ATTR_VALS).replace('"', "&quot;")
                    attrs += f' {an}="{av}"'
            if rng.random() < 0.08:
                parts.append(f"<{tag}{attrs}/>")  # self-closing syntax
            else:
                parts.append(f"<{tag}{attrs}>")
                open_tags.append(tag)
        elif r < 0.52:  # end tag: matching, deep-matching, or stray
            q = rng.random()
            if open_tags and q < 0.55:
                parts.append(f"</{open_tags.pop()}>")
            elif open_tags and q < 0.8:
                idx = rng.randrange(len(open_tags))
                tag = open_tags[idx]
                del open_tags[idx:]
                parts.append(f"</{tag}>")
            else:
                parts.append(f"</{rng.choice(TAGS)}>")  # stray
        elif r < 0.60:  # void element
            v = rng.choice(VOIDS)
            parts.append(f"<{v}/>" if rng.random() < 0.25 else f"<{v}>")
        elif r < 0.64:  # raw-text / RCDATA container
            c = rng.choice(RAW_CONTAINERS)
            content = rng.choice(RAW_CONTENT)
            if c in ("script", "style"):
                # closer variants the raw-text scan pins: junk after
                # the name still closes; a longer name is dropped as
                # a token while the element stays open
                close = rng.choice(
                    [f"</{c}>", f"</{c} x>", f"</{c}/>", f"</{c}\t>",
                     f"</{c.upper()}>", f"</{c}foo></{c}>",
                     f"</ {c}></{c}>"])
                parts.append(f"<{c}>{content}{close}")
            else:
                # title/textarea are ordinary containers to libxml2
                # (markup inside parses as ELEMENTS; only charrefs
                # behave RCDATA-ish) — generate nested markup too
                if "<" in content:
                    content = rng.choice(
                        ["a<b>c</b>d", "a<p>b", "x</b>y", "q<br>r"])
                parts.append(f"<{c}>{content}</{c}>")
        elif r < 0.70:  # tokenizer junk
            parts.append(rng.choice(TOKEN_JUNK))
        elif r < 0.74:  # structural junk inside a shelled body
            # (duplicate html/head/body starts, structural ends — the
            # phantom counter and end-priority rules under a full
            # shell; fragments cover the shell-less variants)
            parts.append(rng.choice(STRUCT_JUNK))
        else:  # text
            parts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(1, 4))))
    body = "".join(parts)
    return ("<html><head><title>t</title></head><body>"
            f"{body}</body></html>")


# shell-less fragment material: the implied html/head/body machinery
# (htmlCheckImplied / htmlCheckParagraph), the positional discard
# rules with the shared phantom counter (ctxt->depth), and the
# after-</html> reopen artifact are all exercised by documents that
# OMIT or MANGLE the standard shell.
HEADY = ['<title>t1</title>', '<meta charset="u">', '<link href="l">',
         '<base href="b">', '<script>var a;</script>',
         '<style>.x{}</style>']
STRUCT_JUNK = ["</head>", "</body>", "<body>", '<body class="z">',
               "<head>", "</p>", "</html>trail", "<frame>",
               "<noframes>alt</noframes>", "<isindex>",
               "<html>dup", "</html>", "<html lang=\"x\">",
               # misplaced doctypes: the one-shot literalization quirk
               # on the next '</'/'<!' construct, and the reopen
               # suppression after the root closes; a comment
               # between the doctype and the end tag disarms the quirk
               "<!doctype html>", "<!DOCTYPE html>", "<!doctypejunk>",
               "<!doctype html><!-- c --></p>b"]


def gen_fragment(rng: random.Random) -> str:
    parts = []
    if rng.random() < 0.3:
        parts.append("<html>" if rng.random() < 0.7
                     else '<html lang="en">')
    for _ in range(rng.randint(0, 3)):
        parts.append(rng.choice(HEADY))
    n = rng.randint(1, 10)
    open_tags: list[str] = []
    for _ in range(n):
        r = rng.random()
        if r < 0.30:
            tag = rng.choice(TAGS)
            parts.append(f"<{tag}>")
            open_tags.append(tag)
        elif r < 0.45 and open_tags:
            parts.append(f"</{open_tags.pop()}>")
        elif r < 0.55:
            parts.append(rng.choice(STRUCT_JUNK))
        elif r < 0.65:
            parts.append(rng.choice(HEADY))
        else:
            parts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(1, 3))))
    return "".join(parts)


# freely-nesting inline tags (no htmlStartClose pair among them):
# chains of these reliably reach the htmlParserMaxDepth region
_NESTERS = ["span", "b", "i", "u", "s", "em", "strong", "big", "small",
            "font", "code", "q", "sub", "sup", "tt", "var", "kbd"]


def gen_deep(rng: random.Random) -> str:
    """A document whose element stack sits at/around libxml2's depth
    cap (256 open), with random tokens emitted in the boundary region:
    start tags (at the cap: fatal input drop), voids, end tags
    (matching ones free a slot), structural junk, text/entities."""
    depth = rng.randint(248, 262)
    chain = [rng.choice(_NESTERS) for _ in range(depth)]
    parts = ["<html><body>"] + [f"<{t}>" for t in chain]
    open_tags = ["html", "body", *chain]
    for _ in range(rng.randint(2, 8)):
        r = rng.random()
        if r < 0.30:
            parts.append(f"<{rng.choice(_NESTERS + TAGS[:20])}>")
            # (tracking pushes is pointless past the cap; end-tag
            # choices below use the original chain which stays valid)
        elif r < 0.45:
            parts.append(f"<{rng.choice(VOIDS)}>")
        elif r < 0.70 and open_tags:
            parts.append(f"</{open_tags.pop()}>")
        elif r < 0.80:
            parts.append(rng.choice(STRUCT_JUNK))
        else:
            parts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(1, 3))))
    parts.append("tail text")
    return "".join(parts)


def _check(doc: str) -> tuple:
    # full-root comparison for every kind: shelled documents can carry
    # structural junk that restructures above (or duplicates) <body>,
    # so a body-subtree compare would miss divergences there
    lx = _COMMENT_NODE_RE.sub("", serialize_root(doc))
    root = parse_html(doc)
    ours = "".join(serialize_html(ch) for ch in root.children)
    return lx, ours


def run(n: int, seed: int, verbose: bool = True,
        fragments: bool = False) -> int:
    rng = random.Random(seed)
    fails = 0
    for i in range(n):
        frag = fragments and (i % 3 == 0)
        deep = fragments and (i % 7 == 1)
        if deep:
            doc = gen_deep(rng)
        elif frag:
            doc = gen_fragment(rng)
        else:
            doc = gen_doc(rng)
        lx, ours = _check(doc)
        if lx != ours:
            fails += 1
            if verbose and fails <= 10:
                print(f"--- diff #{fails} ({'frag' if frag else 'doc'}"
                      f" {i})")
                print("  input  :", doc)
                print("  libxml2:", lx)
                print("  ours   :", ours)
    if verbose:
        kind = "mixed" if fragments else "shelled"
        print(f"{n - fails}/{n} match (seed {seed}, {kind})")
    return fails


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    raise SystemExit(1 if run(n, seed, fragments=True) else 0)
