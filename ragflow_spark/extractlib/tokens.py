"""Deterministic token counter.

The reference counts tokens with tiktoken cl100k_base
(/root/reference/rag/utils/__init__.py:78-89) — every chunk boundary in
``naive_merge``/``hierarchical_merge`` is defined by this count. The sandbox
has no tiktoken and no network to fetch the cl100k vocabulary, so this module
pins a documented deterministic substitute used consistently by BOTH the
pipeline and the golden fixtures (SURVEY.md §7.1e):

  * pieces are split with a cl100k-style pre-tokenizer regex
    (contractions | letter runs | 1-3 digit runs | single non-alnum);
  * a letter run of length L counts ``ceil(L/4)`` tokens (cl100k averages
    ~4 chars/token for English words); everything else counts 1;
  * CJK characters count 1 token each.

The per-url byte-identity invariant binds the *extracted text*; chunk
boundaries are self-consistent under this counter.
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(
    r"'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{1,3}|[^\sA-Za-z0-9]"
)


def _piece_tokens(piece: str) -> int:
    """The pinned per-piece cost. ``num_tokens_from_string`` sums it in
    closed form; change both together (``tests/test_tokens.py`` checks
    that they agree)."""
    if piece[0].isascii() and piece[0].isalpha() and len(piece) > 4:
        return (len(piece) + 3) // 4
    return 1


def num_tokens_from_string(string: str) -> int:
    """Deterministic stand-in for tiktoken cl100k token count."""
    if not string:
        return 0
    # ``_piece_tokens`` summed without a call per piece: only ASCII
    # letter runs can be longer than 4 characters, and for those
    # (L + 3) // 4 == 1 + (L - 1) // 4
    pieces = _TOKEN_RE.findall(string)
    return len(pieces) + sum((len(p) - 1) >> 2
                             for p in pieces if len(p) > 4)


def token_head(string: str, n: int) -> str:
    """``encoder.decode(encoder.encode(s)[:n])`` under the pinned
    counter — Python slice semantics included: a negative ``n`` keeps
    all but the last ``|n|`` tokens (rag/prompts.py:86,91 slices with
    ``max_length - ll2``, which can go negative).  The cut lands at the
    character where the first dropped piece starts, so inter-piece
    whitespace before the cut is preserved."""
    bounds = []   # (start, cumulative tokens through this piece)
    total = 0
    for m in _TOKEN_RE.finditer(string):
        total += _piece_tokens(m.group(0))
        bounds.append((m.start(), total))
    keep = total + n if n < 0 else n
    if keep <= 0:
        return ""
    if keep >= total:
        return string
    for start, cum in bounds:
        if cum > keep:
            return string[:start]
    return string


def truncate(string: str, max_len: int) -> str:
    """Token-budget truncation (reference rag/utils/__init__.py:92-94).

    Approximates by cutting at the regex piece whose cumulative count
    reaches ``max_len``.
    """
    if num_tokens_from_string(string) <= max_len:
        return string
    n = 0
    for m in _TOKEN_RE.finditer(string):
        n += _piece_tokens(m.group(0))
        if n > max_len:
            return string[: m.start()]
    return string
