"""Seeded inputs of the benchmark workloads. Nothing is downloaded.

``documents`` draws a ``documents.parquet`` table of the shape
``ragflow_spark.corpus.gen`` builds its page families from (doc_id, text,
lang; a 30-word vocabulary, 8 to 100 words per document), so the
program's own closed-form expectation ``expected_extracted`` applies.

``large_mixed_pages`` draws realistic web pages: nested header / nav /
sidebar / comment / footer boilerplate around an article with headings,
paragraphs, data tables, lists, quotes and code, plus script and style
blocks, in four charsets. Page sizes are log-uniform from 20 KB to
120 KB, so the median page is 49 KB (the geometric mean of the ends),
the size of the large pages the extraction job's cost was first sized
on; the sixfold spread makes a parser that is superlinear in page size
show in its µs/KB. Larger pages become the critical path of a job (see
``perfbench/README.md``). Generated papers (the program's own PDF
writer, ``extractlib.pdfgen``) ride along, as many as it takes for them
to carry about half of the kernel time.

The shape of an input set does not depend on the seed: the i-th of n
documents has the same url (hence the same bucket and wave of
``run_job``), size or word count, language and charset for every seed.
Sizes and word counts are stratified (the n documents take the n
quantiles, in a fixed order). The seed draws the words, so it changes
content, not the amount of work nor how it falls on the tasks.

Each input also holds a few pinned documents, drawn from a fixed seed and
the same at every ``--seed`` and scale; their output rows are pinned by
digest in ``perfbench/expected.json``.
"""

from __future__ import annotations

import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _strata(n: int) -> list[float]:
    """n quantile midpoints in (0, 1), in an order fixed for n."""
    qs = [(i + 0.5) / n for i in range(n)]
    random.Random(f"strata-{n}").shuffle(qs)
    return qs


# pinned documents of each input, before the seeded ones
N_PINNED_DOCS = 20
N_PINNED_PAGES = 4  # one per charset
N_PINNED_PAPERS = 2


def documents(seed: int | None, n: int, out_dir: str,
              first_id: int = 0) -> str:
    """Write ``out_dir/documents.parquet`` of doc_ids ``first_id`` to
    ``first_id + n - 1``, its words drawn from ``seed`` (None: the pinned
    seed); returns ``out_dir``."""
    rng = random.Random(f"documents-{'pinned' if seed is None else seed}")
    shape = random.Random(f"documents-shape-{n}")
    langs = [code for code, w in LANGS for _ in range(w)]
    texts, lang_col = [], []
    for q in _strata(n):
        n_words = 8 + int(q * 93)
        texts.append(" ".join(rng.choice(VOCAB) for _ in range(n_words)))
        lang_col.append(shape.choice(langs))
    table = pa.table({"doc_id": pa.array(range(first_id, first_id + n),
                                         pa.int64()),
                      "text": texts, "lang": lang_col})
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# large_mixed pages
# ---------------------------------------------------------------------------

_SYLLABLES = ("ka ri to mo na be lu sa ven dor mi tas qu el ron phi gra "
              "ster lan ce vo ni tu op ar is ex un").split()
_ACCENTED = "é è à ü ö ñ ç ß ø å".split()
_HANZI = ("的一是不了人我在有他这中大来上个国到说们为子和你地出道也时年得就那要"
          "下以生会自着去之过家学对可她里后小么心多天而能好都然没日于起还发成事只"
          "作当想看文无开手十用主行方又如前所本见经头面公同三已老从动两长知民样现"
          "分将外但身些与高意进把法此实回二理美点月明其种声全工己话儿者向情部正名")
# (share, python codec, declared charset, language)
_CHARSETS = ((75, "utf-8", "utf-8", "en"), (15, "gbk", "gbk", "zh"),
             (5, "cp1252", "windows-1252", "fr"),
             (5, "utf-16", "utf-16", "en"))
# encoded page sizes, log-uniform: the median is sqrt(20 KB * 120 KB)
_MIN_BYTES, _MAX_BYTES = 20_000, 120_000
# papers of 4 to 40 sections: one to about six pages
_MIN_SECTIONS, _MAX_SECTIONS = 4, 40


def _size_for(q: float) -> int:
    return int(_MIN_BYTES * (_MAX_BYTES / _MIN_BYTES) ** q)


def _sections_for(q: float) -> int:
    return _MIN_SECTIONS + int(q * (_MAX_SECTIONS - _MIN_SECTIONS + 1))


class _Writer:
    def __init__(self, rng: random.Random, lang: str) -> None:
        self.rng = rng
        self.lang = lang
        self.lexicon = ["".join(rng.choice(_SYLLABLES)
                                for _ in range(rng.randint(1, 3)))
                        for _ in range(400)]
        if lang == "fr":
            self.lexicon += [w + rng.choice(_ACCENTED) for w in
                             self.lexicon[:80]]

    def word(self) -> str:
        if self.lang == "zh":
            return "".join(self.rng.choice(_HANZI)
                           for _ in range(self.rng.randint(1, 3)))
        return self.rng.choice(self.lexicon)

    def sentence(self, lo: int = 6, hi: int = 20) -> str:
        rng = self.rng
        words = [self.word() for _ in range(rng.randint(lo, hi))]
        for i in range(2, len(words) - 2, rng.randint(4, 9)):
            words[i] += ","
        sep = "" if self.lang == "zh" else " "
        s = sep.join(words)
        end = "。" if self.lang == "zh" else rng.choice(".....?!")
        return s[:1].upper() + s[1:] + end

    def inline(self) -> str:
        rng = self.rng
        out = []
        for _ in range(rng.randint(2, 7)):
            s = self.sentence()
            r = rng.random()
            if r < 0.15:
                s = f'<a href="/{self.word()}/{rng.randint(1, 9999)}">{s}</a>'
            elif r < 0.25:
                s = f"<b>{s}</b>"
            elif r < 0.3:
                s = f"<em>{s}</em>"
            out.append(s)
        return " ".join(out)

    def links(self, n: int, cls: str = "") -> str:
        c = f' class="{cls}"' if cls else ""
        items = "".join(
            f'<li><a href="/{self.word()}/{i}">{self.word()} {self.word()}'
            f"</a></li>" for i in range(n))
        return f"<ul{c}>{items}</ul>"

    def table(self) -> str:
        rng = self.rng
        cols = rng.randint(3, 6)
        head = "".join(f"<th>{self.word()}</th>" for _ in range(cols))
        rows = "".join(
            "<tr>" + "".join(
                f"<td>{rng.randint(0, 99999) / 100:.2f}</td>" if c else
                f"<td>{self.word()}</td>" for c in range(cols)) + "</tr>"
            for _ in range(rng.randint(4, 25)))
        return (f'<table class="data"><caption>{self.sentence(3, 6)}'
                f"</caption><thead><tr>{head}</tr></thead>"
                f"<tbody>{rows}</tbody></table>")

    def block(self) -> str:
        rng = self.rng
        r = rng.random()
        if r < 0.62:
            return f"<p>{self.inline()}</p>"
        if r < 0.72:
            return f"<h2>{self.sentence(2, 6)}</h2>" if r < 0.67 else \
                f'<h3 class="sub">{self.sentence(2, 5)}</h3>'
        if r < 0.80:
            return self.table()
        if r < 0.87:
            items = "".join(f"<li>{self.sentence(3, 12)}</li>"
                            for _ in range(rng.randint(3, 9)))
            return f"<ul>{items}</ul>"
        if r < 0.92:
            return f"<blockquote><p>{self.inline()}</p></blockquote>"
        if r < 0.96:
            code = "\n".join(f"  {self.word()}({self.word()}, "
                             f"{rng.randint(0, 99)}) &lt; {self.word()};"
                             for _ in range(rng.randint(3, 12)))
            return f"<pre><code>{code}</code></pre>"
        return (f'<div class="figure"><img src="/img/{self.word()}.png" '
                f'alt="{self.word()}"><div class="caption">'
                f"{self.sentence(4, 10)}</div></div>")

    def script(self) -> str:
        rng = self.rng
        body = "\n".join(
            f"var {self.word()}{i} = {{a: {rng.randint(0, 999)}, b: "
            f"'{self.word()}'}}; if (x < {i} && y > 2) {{ f('</div>'); }}"
            for i in range(rng.randint(5, 40)))
        return f"<script>{body}</script>"

    def style(self) -> str:
        rules = "\n".join(
            f".{self.word()} > .{self.word()} {{ margin: {i}px; "
            f"color: #{self.rng.randint(0, 0xffffff):06x}; }}"
            for i in range(self.rng.randint(10, 60)))
        return f"<style>{rules}</style>"

    def boiler_head(self) -> str:
        return (f'<div id="header" class="site-header">'
                f'<div class="logo"><a href="/">{self.word()}</a></div>'
                f'<nav class="menu main-nav">{self.links(12, "nav")}</nav>'
                f'<div class="search"><form action="/s"><input name="q">'
                f'<input type="hidden" name="t" value="1"></form></div>'
                f"</div>")

    def sidebar(self) -> str:
        widgets = "".join(
            f'<div class="widget"><h4>{self.word()}</h4>'
            f"{self.links(self.rng.randint(4, 12))}</div>"
            for _ in range(self.rng.randint(2, 5)))
        return f'<div class="sidebar" id="sidebar">{widgets}</div>'

    def comments(self) -> str:
        items = "".join(
            f'<div class="comment"><span class="author">{self.word()}'
            f"</span><p>{self.sentence(4, 18)}</p></div>"
            for _ in range(self.rng.randint(0, 8)))
        return f'<div class="comments" id="comments">{items}</div>'

    def footer(self) -> str:
        cols = "".join(f'<div class="col">{self.links(6)}</div>'
                       for _ in range(3))
        return (f'<div id="footer" class="footer">{cols}'
                f'<p class="copyright">&copy; {self.word()} 2025</p></div>')


def web_page(rng: random.Random, target: int, lang: str, charset: str,
             codec: str) -> str:
    """A page of about ``target`` bytes once encoded with ``codec``."""
    w = _Writer(rng, lang)
    title = w.sentence(3, 9)
    head = (f'<!DOCTYPE html><html lang="{lang}"><head>'
            f'<meta charset="{charset}"><title>{title}</title>'
            f"{w.style()}{w.script()}</head><body>")
    pre = (f"{w.boiler_head()}<div class=\"container\"><div class=\"row\">"
           f"{w.sidebar()}<div class=\"main\" id=\"content\"><article>"
           f"<h1>{title}</h1>")
    post = (f"</article>{w.comments()}</div></div></div>{w.footer()}"
            f"{w.script()}</body></html>")
    parts = [head, pre]
    size = sum(len(p.encode(codec)) for p in (head, pre, post))
    while size < target:
        b = w.block()
        parts.append(b)
        size += len(b.encode(codec))
    parts.append(post)
    return "".join(parts)


def paper_pdf(rng: random.Random, n_sections: int) -> bytes:
    """A generated paper of ``n_sections`` numbered sections, laid out
    by the program's own PDF writer (ASCII text, one or more pages)."""
    from ragflow_spark.extractlib.pdfgen import build_pdf

    w = _Writer(rng, "en")
    sections = [(f"{i + 1} {w.sentence(2, 5)}",
                 " ".join(w.sentence() for _ in range(rng.randint(3, 8))))
                for i in range(n_sections)]
    return build_pdf(w.sentence(3, 8), sections)


def _balanced_files(blobs: list[bytes], n_files: int) -> list[list[int]]:
    """Document indexes per file, so that the tasks of a job (one per
    file) carry similar work: the web pages, largest first, each onto the
    file with the fewest page bytes, then the papers likewise."""
    files: list[list[int]] = [[] for _ in range(n_files)]
    for is_pdf in (False, True):
        load = [0] * n_files
        kind = [i for i, b in enumerate(blobs)
                if b.startswith(b"%PDF-") == is_pdf]
        for i in sorted(kind, key=lambda i: (-len(blobs[i]), i)):
            k = min(range(n_files), key=lambda k: (load[k], k))
            files[k].append(i)
            load[k] += len(blobs[i])
    return [sorted(f) for f in files if f]


def large_mixed_pages(seed: int, n_html: int, n_pdf: int, out_dir: str,
                      n_files: int) -> tuple[str, set[str]]:
    """Write n_html web pages and n_pdf papers, and the pinned ones, as
    ``n_files`` parquet files of similar total size; returns ``out_dir``
    and the pinned documents' urls."""
    # charsets cost very differently per byte, so each is spread evenly
    # over the size quantiles: the k-th smallest page gets the same
    # charset for every seed
    shares = [c for c in _CHARSETS for _ in range(c[0])]
    stride = 37  # coprime with len(shares) == 100
    base = datetime.datetime(2025, 1, 1)
    rows: dict[str, list] = {k: [] for k in PAGES_SCHEMA.names}

    def add(url: str, blob: bytes, text: str, lang: str) -> None:
        i = len(rows["url"])
        rows["url"].append(url)
        rows["warc_ts"].append(base + datetime.timedelta(seconds=i * 37))
        rows["html"].append(blob)
        rows["text"].append(text)
        rows["lang"].append(lang)

    def page(rng, url: str, q: float, charset: tuple) -> None:
        _, codec, declared, lang = charset
        html = web_page(rng, _size_for(q), lang, declared, codec)
        add(url, html.encode(codec), html[:200], lang)

    pinned = random.Random("large_mixed-pinned")
    for i, q in enumerate(_strata(N_PINNED_PAGES)):
        # the smaller half of the size range keeps the pinned set cheap
        page(pinned, f"https://pinned.example.org/article/{i}", q / 2,
             _CHARSETS[i])
    for i, q in enumerate(_strata(N_PINNED_PAPERS)):
        add(f"https://pinned.example.org/pdf/{i}",
            paper_pdf(pinned, _sections_for(q)), "", "en")
    pinned_urls = set(rows["url"])
    rng = random.Random(f"large_mixed-{seed}")
    for i, q in enumerate(_strata(n_html)):
        rank = int(q * n_html)
        page(rng, f"https://site{i % 37}.example.org/article/{i}", q,
             shares[rank * stride % len(shares)])
    for i, q in enumerate(_strata(n_pdf)):
        add(f"https://papers{i % 11}.example.org/pdf/{i}",
            paper_pdf(rng, _sections_for(q)), "", "en")
    table = pa.table(rows, schema=PAGES_SCHEMA)
    os.makedirs(out_dir, exist_ok=True)
    for k, idx in enumerate(_balanced_files(rows["html"], n_files)):
        pq.write_table(table.take(idx),
                       os.path.join(out_dir, f"part-{k:03d}.parquet"))
    return out_dir, pinned_urls
