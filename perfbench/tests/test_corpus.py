"""The seeded inputs: pinned documents and shape do not depend on the seed.

    python3 -m pytest perfbench/tests/test_corpus.py -q
"""

import os
import statistics
import sys

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402


def _large_mixed(tmp_path, seed: int) -> tuple[dict, set]:
    out, pinned = corpus.large_mixed_pages(seed, 3, 4,
                                           str(tmp_path / str(seed)), 3)
    return {r["url"]: r["html"] for r in pq.read_table(out).to_pylist()}, \
        pinned


def test_large_mixed_pinned_and_shape_do_not_depend_on_seed(tmp_path):
    a, pinned_a = _large_mixed(tmp_path, 1)
    b, pinned_b = _large_mixed(tmp_path, 2)
    assert pinned_a == pinned_b
    assert len(pinned_a) == corpus.N_PINNED_PAGES + corpus.N_PINNED_PAPERS
    assert {u: a[u] for u in pinned_a} == {u: b[u] for u in pinned_b}
    assert set(a) == set(b)
    seeded = set(a) - pinned_a
    assert any(a[u] != b[u] for u in seeded)
    # same kind and similar size, url by url
    for u in seeded:
        assert a[u][:5] == b[u][:5]
        assert abs(len(a[u]) - len(b[u])) < 0.2 * len(a[u])


def test_page_sizes_median_is_49_kb():
    sizes = [corpus._size_for((i + 0.5) / 101) for i in range(101)]
    assert sizes[0] >= 20_000 and sizes[-1] <= 120_000
    assert abs(statistics.median(sizes) - 49_000) < 500


def _doc_table(out_dir: str) -> list[dict]:
    return pq.read_table(os.path.join(out_dir, "documents.parquet")) \
        .to_pylist()


def test_documents_pinned_are_fixed_and_seeded_follow_them(tmp_path):
    pinned = [_doc_table(corpus.documents(None, corpus.N_PINNED_DOCS,
                                          str(tmp_path / f"p{i}")))
              for i in (1, 2)]
    assert pinned[0] == pinned[1]
    seeded = [_doc_table(corpus.documents(
        seed, 5, str(tmp_path / f"s{seed}"), first_id=corpus.N_PINNED_DOCS))
        for seed in (1, 2)]
    ids = [r["doc_id"] for r in seeded[0]]
    assert ids == list(range(corpus.N_PINNED_DOCS, corpus.N_PINNED_DOCS + 5))
    assert [r["text"] for r in seeded[0]] != [r["text"] for r in seeded[1]]
