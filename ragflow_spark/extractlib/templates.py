"""Template chunkers: naive / book / one / paper / laws / manual.

Behavioral equivalents of the reference template ``chunk()`` entry points
(FACTORY at rag/svr/task_executor.py:67-84), returning plain chunk text
lists (the reference's ``section_only`` shape) plus deterministic
content-addressed chunk ids. A chunker takes the sections of one parse,
never bytes: HTML ones the lines of ``extracted_text``, PDF ones the
``pdf_to_sections`` (tagged text, layout type) pairs, DOCX ones
parse_docx's (text, style) pairs; each ``chunk_*`` composes a parser
with one of them.

Documented divergence: the reference samples sections with the unseeded
global ``random`` for ``is_english`` / ``bullets_category``
(rag/app/book.py:85,130); we use the full population (deterministic).
"""

from __future__ import annotations

from .htmlparse import html_sections
from .merge import (
    bullets_category,
    hierarchical_merge,
    is_english,
    make_colon_as_title,
    naive_merge,
    remove_contents_table,
    title_frequency,
)
from .pdfrules import pdf_to_sections, remove_tag
from .xxh64 import chunk_id


def naive_html(sections: list[str], chunk_token_num: int = 128,
               delimiter: str = "\n!?。；！？") -> list[str]:
    """naive template, HTML branch (rag/app/naive.py:436-440,465-470):
    drop empty sections, naive_merge(128)."""
    return naive_merge([(s, "") for s in sections if s], chunk_token_num,
                       delimiter)


def _book(sections: list[tuple[str, str]], chunk_token_num: int,
          delimiter: str) -> tuple[list[str], str]:
    remove_contents_table(sections, eng=is_english([t for t, _ in sections]))
    make_colon_as_title(sections)
    bull = bullets_category([t for t, _ in sections])
    if bull >= 0:
        chunks = ["\n".join(ck)
                  for ck in hierarchical_merge(bull, sections, 5)]
        return chunks, "hierarchical"
    # reference re-splits on '@' position markers
    parts = [s.split("@") for s, _ in sections]
    plain = [(pr[0], "@" + pr[1]) if len(pr) == 2 else (pr[0], "")
             for pr in parts]
    return naive_merge(plain, chunk_token_num, delimiter), "naive"


def book_html(sections: list[str]) -> tuple[list[str], str]:
    """book template, HTML branch (rag/app/book.py:106-112,128-140).

    Returns (chunks, merge_mode) where merge_mode is 'hierarchical' when a
    bullet class was detected, else 'naive'.
    """
    return _book([(s, "") for s in sections if s], 256, "\n。；！？")


def book_docx(sections: list[tuple[str, str]]) -> list[str]:
    """book template, DOCX branch (rag/app/book.py:79-88,128-134):
    DocxParser sections (text, style) through TOC removal, colon-title
    split, bullet vote, hierarchical_merge depth 5; naive_merge(256)
    fallback when no bullet family wins. The reference samples the
    vote inputs with random.choices — nondeterministic; this port
    votes on the full population (same canon as is_english)."""
    return _book(list(sections), 256, "\n。；！？")[0]


def one(sections: list[str]) -> list[str]:
    """one template (rag/app/one.py:108-111,128-131): the whole document
    is a single chunk, its non-empty sections joined by newlines."""
    sections = [s for s in sections if s]
    return ["\n".join(sections)] if sections else []


def kept_chunks(chunks: list[str]) -> list[tuple[int, str]]:
    """(chunk_seq, chunk_text) of each non-blank chunk, tag-stripped as
    tokenize_chunks does via remove_tag (rag/nlp/__init__.py:258-277)."""
    return [(seq, remove_tag(raw)) for seq, raw in enumerate(chunks)
            if raw.strip()]


def chunks_with_ids(chunks: list[str], url: str) -> list[tuple[int, str, str]]:
    """kept_chunks plus chunk_id (task_executor.py:266, url as doc_id)."""
    return [(seq, text, chunk_id_of(text, url))
            for seq, text in kept_chunks(chunks)]


def chunks_with_ids_docx(chunks: list[str], images: list,
                         url: str) -> list[tuple[int, str, str, object]]:
    """tokenize_chunks_docx (rag/nlp/__init__.py:280-292): the docx
    variant rides each chunk's accumulated image along into the output
    row; whitespace-only chunks are skipped together with their image.
    """
    out = []
    for seq, (text, image) in enumerate(zip(chunks, images)):
        if not text.strip():
            continue
        out.append((seq, text, chunk_id(text, url), image))
    return out


def chunk_id_of(text: str, url: str) -> str:
    """Content-addressed id of a (tag-stripped) chunk text."""
    return chunk_id(text, url)


def _pivot_ids(sections: list[tuple[str, str]], bull: int) -> list[int]:
    """Section ids that advance at each pivot: a section at or above the
    most frequent title level whose level differs from its predecessor's
    (rag/app/paper.py:186-196, rag/app/manual.py:216-226)."""
    most_level, levels = title_frequency(bull, sections)
    sec_ids = []
    sid = 0
    for i, lvl in enumerate(levels):
        if lvl <= most_level and i > 0 and lvl != levels[i - 1]:
            sid += 1
        sec_ids.append(sid)
    return sec_ids


def paper_pdf(sections: list[tuple[str, str]],
              keep_tags: bool = False) -> list[str]:
    """paper template, Plain-PDF path (rag/app/paper.py:186-208): pivot on
    the most frequent title level, merge sections between pivots, join by
    newline; position tags stripped for the chunk text exactly as
    tokenize_chunks does via pdf_parser.remove_tag
    (rag/nlp/__init__.py:258-277)."""
    if not sections:
        return []
    sec_ids = _pivot_ids(sections, bullets_category([t for t, _ in sections]))
    chunks: list[str] = []
    last_sid = -2
    for (txt, _), sec_id in zip(sections, sec_ids):
        if sec_id == last_sid:
            if chunks:
                chunks[-1] += "\n" + txt
                continue
        chunks.append(txt)
        last_sid = sec_id
    if keep_tags:
        return chunks
    return [remove_tag(c) for c in chunks]


def pdf_text(sections: list[tuple[str, str]]) -> tuple[str, str, int]:
    """(title, extracted_text, n_sections): the byte-identity surface for
    the PDF path (title = first section by construction of the rule
    chain; text = tag-stripped sections joined by newline)."""
    texts = [remove_tag(t) for t, _ in sections]
    texts = [s for s in texts if s]
    if not texts:
        return "", "", 0
    return texts[0], "\n".join(texts), len(texts)


def naive_pdf(sections: list[tuple[str, str]], chunk_token_num: int = 128,
              keep_tags: bool = False) -> list[str]:
    """naive template over the PDF rule-chain sections (rag/app/naive.py
    PDF branch shape: sections with position tags -> naive_merge ->
    tag-strip at tokenize_chunks time)."""
    cks = naive_merge([(t, "") for t, _ in sections], chunk_token_num)
    if keep_tags:
        return [c for c in cks if remove_tag(c).strip()]
    return [remove_tag(c) for c in cks if remove_tag(c).strip()]


def _laws(sections: list[str]) -> list[str]:
    remove_contents_table(sections, eng=is_english(sections))
    make_colon_as_title(sections)
    bull = bullets_category(sections)
    return ["\n".join(ck) for ck in hierarchical_merge(bull, sections, 5)]


def laws_html(sections: list[str]) -> list[str]:
    """laws template, HTML branch (rag/app/laws.py:179-208): TOC removal,
    colon-title split, bullet vote, hierarchical_merge(depth 5), chunks
    joined by newline. No naive fallback — a doc with no bullet class
    yields no chunks (hierarchical_merge returns [] for bull == -1)."""
    return _laws([s for s in sections if s])


def laws_pdf(sections: list[tuple[str, str]]) -> list[str]:
    """laws template, PDF branch (laws.py:165-169,198-208): rule-chain
    sections with position tags, same hierarchical merge, tags stripped
    at tokenize_chunks time."""
    return [remove_tag(c) for c in _laws([t for t, _ in sections])]


def laws_docx(secs: list[tuple[str, str]]) -> list[str]:
    """laws template, DOCX branch (rag/app/laws.py:57-100): paragraph
    question levels (Heading styles > bullet families) drive a nested
    outline walk — each line opens a span up to the next line at its
    level or higher, collects the first populated deeper level as its
    children (marking them visited), and a span of one that is already
    someone's child is skipped. Page-break counting is honored by
    parse_docx's window; the default window never truncates."""
    from .merge import docx_question_level

    bull = bullets_category([t for t, _s in secs])
    lines: list[tuple[int, str]] = []
    for text, style in secs:
        level, txt = docx_question_level(text, style, bull)
        if not txt.strip("\n"):
            continue
        lines.append((level, txt))

    visit = [False] * len(lines)
    sections: list[str] = []
    for s in range(len(lines)):
        e = s + 1
        while e < len(lines):
            if lines[e][0] <= lines[s][0]:
                break
            e += 1
        if e - s == 1 and visit[s]:
            continue
        sec: list[str] = []
        next_level = lines[s][0] + 1
        while not sec and next_level < 22:
            for i in range(s + 1, e):
                if lines[i][0] != next_level:
                    continue
                sec.append(lines[i][1])
                visit[i] = True
            next_level += 1
        sec.insert(0, lines[s][1])
        sections.append("\n".join(sec))
    return [s for s in sections if s]


def manual_pdf(sections: list[tuple[str, str]],
               keep_tags: bool = False) -> list[str]:
    """manual template, PDF branch (rag/app/manual.py:186-258, no-outline
    path): pivot levels via bullets_category + title_frequency, then the
    token-budget fold — a section APPENDS to the current chunk while its
    running token count is under 32, or under 1024 when the section id
    matches the chunk's pivot id; otherwise it starts a new chunk (the
    append branch does not update the pivot id — reference quirk)."""
    from .tokens import num_tokens_from_string

    if not sections:
        return []
    sec_ids = _pivot_ids(
        sections, bullets_category([remove_tag(t) for t, _ in sections]))
    chunks: list[str] = []
    last_sid = -2
    tk_cnt = 0
    for (txt, _), sec_id in zip(sections, sec_ids):
        clean = remove_tag(txt)
        if tk_cnt < 32 or (tk_cnt < 1024 and sec_id == last_sid):
            if chunks:
                chunks[-1] += "\n" + txt
                tk_cnt += num_tokens_from_string(clean)
                continue
        chunks.append(txt)
        tk_cnt = num_tokens_from_string(clean)
        if sec_id > -1:
            last_sid = sec_id
    if keep_tags:
        return chunks
    return [remove_tag(c) for c in chunks]


# -- bytes in: one parse, then the sections form ---------------------------

def chunk_naive_html(binary: bytes, chunk_token_num: int = 128,
                     delimiter: str = "\n!?。；！？") -> list[str]:
    return naive_html(html_sections(binary), chunk_token_num, delimiter)


def chunk_naive_pdf(binary: bytes, chunk_token_num: int = 128,
                    keep_tags: bool = False) -> list[str]:
    return naive_pdf(pdf_to_sections(binary), chunk_token_num, keep_tags)


def chunk_paper_pdf(binary: bytes, keep_tags: bool = False) -> list[str]:
    return paper_pdf(pdf_to_sections(binary), keep_tags)


def extract_pdf_text(binary: bytes, merge: str = "auto"
                     ) -> tuple[str, str, int, list[tuple[str, str]]]:
    """PDF bytes -> (title, extracted_text, n_sections, sections): the
    pdf_text surface plus the tagged sections the PDF chunkers take, from
    one parse. ``merge`` selects the box-merge pass (see
    pdfrules.pdf_to_sections)."""
    sections = pdf_to_sections(binary, merge)
    return (*pdf_text(sections), sections)
