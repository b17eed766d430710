"""Oracle checks of the queries that run a per-document function
through ``map_documents``: each registered query below reaches one, and
runs on Spark against its ``oracle_sql()`` twin on DuckDB at the sf0.001
testdata scale, through the same comparison tools/check_correctness.py
makes."""

import os
import sys

import pytest

from test_pipeline_spark import SF

pytest.importorskip("duckdb")

QUERIES = (
    # __spark_entry__.py per-document queries
    "extract_pdf_chain", "chunks_manual", "tokenize_docs",
    "chunks_laws_docx", "chunks_qa_docx", "chunks_book_docx",
    "chunks_manual_docx", "docx_tables_html", "docx_table_titles",
    "chunks_doc", "pdf_scraps", "xlsx_html",
    # operators/structured.py
    "chunks_txt", "chunks_json", "parse_md", "chunks_qa", "chunks_email",
    "chunks_table", "chunks_tag",
    # operators/multimodal.py
    "media_features", "frame_sample", "audio_features",
    # operators/retrieval.py postings
    "search_docs", "search_cjk", "search_cjk_minmatch", "search_expanded",
    "rerank_model", "rerank_fusion", "retrieval_page", "retrieval_aggs",
    # operators/tagging.py kb_from_docs
    "doc_tags", "query_tags", "rank_features",
)

needs_testdata = pytest.mark.skipif(
    not os.path.exists(f"{SF}/documents.parquet"),
    reason="sf0.001 testdata not available")


@pytest.fixture(scope="module")
def oracle_con():
    from tools.check_correctness import oracle_db

    con = oracle_db(SF)
    yield con
    con.close()


@needs_testdata
@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, oracle_con, name):
    import __spark_entry__ as entry
    from tools.check_correctness import check_query

    oracle = entry.oracle_sql().get(name)
    assert oracle is not None, f"{name} has no oracle_sql() twin"
    ok, lines = check_query(spark, oracle_con, SF, name,
                            entry.queries()[name], oracle)
    assert ok, "\n".join(lines)


@pytest.mark.parametrize("arg", ["--only=chunks_manuall",
                                 "--skip=chunks_manual,no_such_query"])
def test_check_correctness_rejects_unknown_query_names(monkeypatch, capsys,
                                                       arg):
    from tools import check_correctness

    monkeypatch.setattr(sys, "argv", ["check_correctness.py", SF, arg])
    assert check_correctness.main() == 2
    assert "unknown query name" in capsys.readouterr().err
