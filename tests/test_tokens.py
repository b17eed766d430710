"""Deterministic token counter invariants."""

from ragflow_spark.extractlib.tokens import num_tokens_from_string, truncate


def test_basic_counts():
    assert num_tokens_from_string("") == 0
    assert num_tokens_from_string("word") == 1          # <=4 letters
    assert num_tokens_from_string("customer") == 2      # ceil(8/4)
    assert num_tokens_from_string("a b c") == 3
    assert num_tokens_from_string("123") == 1
    assert num_tokens_from_string("1234") == 2          # 123 | 4
    assert num_tokens_from_string("文档") == 2           # 1/CJK char
    assert num_tokens_from_string("it's") == 2          # it | 's


def test_matches_sql_formula_for_corpus_words():
    # the DuckDB oracle computes ceil(len/4) per ascii word — parity is
    # what makes the chunk-boundary oracle trustworthy
    import math
    for w in ["key", "agg", "customer", "window", "a", "the", "vector"]:
        assert num_tokens_from_string(w) == math.ceil(len(w) / 4)


def test_truncate():
    s = "customer " * 10  # 2 tokens per word
    out = truncate(s, 6)
    assert num_tokens_from_string(out) <= 6
    assert s.startswith(out)


def test_closed_form_equals_per_piece_sum():
    import random

    from ragflow_spark.extractlib.tokens import _TOKEN_RE, _piece_tokens

    alphabet = (["a", "Z", "q", "x", " ", "\n", "\t", "'", "0", "7", ".",
                 "-", "é", "ß", "Å", "文", "档", "　", "😀", "\U00020000"]
                + ["'s", "'ll", "'ve", "'re", "'d", "'t", "'m"]
                + ["customer", "extraordinarily", "12345678"])
    rng = random.Random(20261019)
    for _ in range(20000):
        s = "".join(rng.choice(alphabet)
                    for _ in range(rng.randrange(0, 40)))
        expected = sum(_piece_tokens(m.group(0))
                       for m in _TOKEN_RE.finditer(s))
        assert num_tokens_from_string(s) == expected, s
