"""Property tests (SURVEY.md §5.2 item 3): invariants under arbitrary
inputs, pure-Python layer (fast, no Spark)."""

import json
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from ragflow_spark.extractlib.codec import decode_blob, find_codec
from ragflow_spark.extractlib.htmlparse import extract_html, html_sections
from ragflow_spark.extractlib.jsonparse import split_json
from ragflow_spark.extractlib.merge import naive_merge
from ragflow_spark.extractlib.templates import (book_html,
                                                chunk_naive_html,
                                                laws_html, one)
from ragflow_spark.extractlib.tokens import num_tokens_from_string
from ragflow_spark.extractlib.txtparse import parser_txt
from ragflow_spark.extractlib.xxh64 import xxh64_hexdigest

words = st.text(alphabet=string.ascii_letters + string.digits,
                min_size=1, max_size=12)
texts = st.lists(words, min_size=0, max_size=30).map(" ".join)


@settings(max_examples=50, deadline=None)
@given(st.lists(texts, min_size=1, max_size=20),
       st.integers(min_value=1, max_value=64))
def test_naive_merge_concat_invariant(sections, budget):
    """Chunk concatenation == section concatenation, chunks non-empty
    except possibly the seed chunk."""
    cks = naive_merge([(s, "") for s in sections], budget)
    assert "".join(cks) == "".join(sections)


@settings(max_examples=50, deadline=None)
@given(texts, st.integers(min_value=0, max_value=32))
def test_parser_txt_loses_only_delimiters(txt, budget):
    out = parser_txt(txt, budget, "` `")
    assert "".join(c for c, _ in out) == txt.replace(" ", "")


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=512))
def test_codec_and_extract_never_raise(blob):
    codec = find_codec(blob)
    assert isinstance(codec, str)
    decode_blob(blob)
    extract_html(blob)
    chunk_naive_html(blob)
    sections = html_sections(blob)
    for fn in (one, laws_html, book_html):
        fn(sections)


@settings(max_examples=50, deadline=None)
@given(st.dictionaries(words, st.one_of(st.integers(), words,
                                        st.lists(st.integers(),
                                                 max_size=5)),
                       max_size=20),
       st.integers(min_value=60, max_value=500))
def test_json_split_preserves_top_level_keys(data, max_size):
    chunks = split_json(data, max_chunk_size=max_size)
    got = [k for c in chunks for k in c]
    # Reference semantics (deepdoc/parser/json_parser.py:80-100), not
    # strict multiset equality: a parent key legitimately repeats when
    # its subtree spans multiple chunks, and a key whose value is an
    # empty list/dict is DROPPED when it reaches the recursion branch
    # (_json_split iterates over {} and sets nothing).  So: no invented
    # keys, and every non-empty-valued key survives.
    assert set(got) <= set(data)
    must_survive = {k for k, v in data.items()
                    if not (isinstance(v, (list, dict)) and not v)}
    assert must_survive <= set(got)
    # chunks re-serialize losslessly
    for c in chunks:
        json.dumps(c)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=256))
def test_xxh64_deterministic_and_sensitive(data):
    h = xxh64_hexdigest(data)
    assert len(h) == 16 and h == xxh64_hexdigest(data)
    assert xxh64_hexdigest(data + b"x") != h


@settings(max_examples=50, deadline=None)
@given(texts)
def test_token_count_monotone_under_concat(t):
    a = num_tokens_from_string(t)
    b = num_tokens_from_string(t + " extra")
    assert b >= a
    assert num_tokens_from_string("") == 0


@given(st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=8),
                min_size=1, max_size=30))
@settings(max_examples=60, deadline=None)
def test_term_weights_normalize_for_any_words(words):
    from ragflow_spark.extractlib.termweight import TermWeightDealer

    dealer = TermWeightDealer()
    tw = dealer.weights(words, preprocess=False)
    total = sum(w for _t, w in tw)
    assert abs(total - 1.0) < 1e-9 or total == 0.0
    assert all(w >= 0 for _t, w in tw)


@given(st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=8),
                min_size=1, max_size=20),
       st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=8),
                min_size=1, max_size=40))
@settings(max_examples=60, deadline=None)
def test_token_similarity_bounded(qtks, dtks):
    from ragflow_spark.extractlib.termweight import (TermWeightDealer,
                                                     token_similarity)

    dealer = TermWeightDealer()
    sim = token_similarity(dealer, qtks, [dtks])[0]
    # Cauchy: s <= sqrt(q) * ||d||2 <= sqrt(q), so s/q <= 1/sqrt(q)
    # and q >= 1/|distinct| for unit-mass weights; damping >= log10(513)
    import math
    bound = math.sqrt(3.0 * math.sqrt(len(set(qtks))) / math.log10(513))
    assert 0.0 <= sim <= bound + 1e-9


@given(st.text(alphabet="abcdefg .!?", min_size=1, max_size=120))
@settings(max_examples=60, deadline=None)
def test_insert_citations_marker_removal_restores_answer(answer):
    import re

    from ragflow_spark.extractlib.citations import insert_citations

    chunks = ["fast query merge scan", "spark stream window row"]
    unit = [[1.0, 0.0], [0.0, 1.0]]
    res, _seted = insert_citations(
        answer, chunks, unit,
        encode=lambda texts: [[1.0, 0.0]] * len(texts))
    assert re.sub(r" ##\d+\$\$", "", res) == answer


@given(st.lists(st.tuples(
    st.text(alphabet="abc ", min_size=1, max_size=40),
    st.one_of(st.none(), st.tuples(st.integers(1, 500),
                                   st.integers(1, 500)))),
    min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_naive_merge_docx_text_lossless(sections):
    from ragflow_spark.extractlib.merge import naive_merge_docx

    cks, imgs = naive_merge_docx(sections, chunk_token_num=8)
    assert "".join(cks) == "".join(t for t, _i in sections)
    assert len(cks) == len(imgs)
    # total image height is conserved across chunk folds
    want = sum(i[1] for _t, i in sections if i)
    got = sum(i[1] for i in imgs if i)
    assert got == want


@given(st.integers(1, 40), st.integers(1, 40),
       st.integers(1, 40), st.integers(1, 40),
       st.integers(0, 2**32 - 1))
@settings(max_examples=80, deadline=None)
def test_fixedpoint_resize_tracks_float_form(h, w, oh, ow, seed):
    """The fixed-point kernel is the float bilinear with 11-bit tap
    quantization and truncating >>16 stages: every output pixel must
    stay within 2 grey levels of the float form (coefficient rounding
    <=0.5/2048 per tap, two >>16 truncations, the final +2>>2), stay
    in uint8 range, and preserve constant images exactly."""
    import numpy as np

    from ragflow_spark.extractlib import visionops as V

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    fp = V.fixedpoint_resize_u8(img, oh, ow)
    assert fp.shape == (oh, ow, 3) and fp.dtype == np.uint8
    if h == 2 * oh and w == 2 * ow:
        return  # the 2x2 INTER_AREA switch is pinned separately
    fl = V.bilinear_resize(img, oh, ow)
    assert float(np.abs(fp.astype(np.float64) - fl).max()) <= 2.0
    v = int(rng.randint(0, 256))
    const = np.full((h, w, 3), v, np.uint8)
    assert np.array_equal(V.fixedpoint_resize_u8(const, oh, ow),
                          np.full((oh, ow, 3), v, np.uint8))
