"""Structured-text parser operators: txt / markdown / json over documents.

Each derives a deterministic structured payload from the ``documents``
table inside the Arrow batch (txt bytes, a markdown rendering, a JSON
object), runs the corresponding extractlib parser on the *bytes*, and
emits relational results — so the DuckDB oracle can recompute the
expected output in closed form and value-check the parser end to end
(same construction-twin strategy as the HTML/PDF corpora).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ragflow_spark.job.extract import map_documents


def txt_chunks(docs: DataFrame, chunk_token_num: int = 32) -> DataFrame:
    """RAGFlowTxtParser over text bytes with a backtick-quoted space
    delimiter: pieces are single words, the greedy overshoot fold packs
    them under the token budget, delimiters stay out of chunks
    (txt_parser.py:23-64 semantics; fold parity with the recursive-CTE
    oracle)."""
    from ragflow_spark.extractlib.txtparse import txt_sections

    def chunks(doc_id, text):
        return [(doc_id, seq, ck) for seq, (ck, _) in enumerate(
            txt_sections(text.encode("utf-8"), chunk_token_num, "` `"))]

    return map_documents(docs.select("doc_id", "text"), chunks,
                         "doc_id long, chunk_seq int, chunk_text string")


def json_chunks(docs: DataFrame) -> DataFrame:
    """RAGFlowJsonParser over a per-doc JSON object; at corpus sizes the
    splitter keeps one chunk whose serialization round-trips the input
    (json_parser.py:37-43)."""
    from ragflow_spark.extractlib.jsonparse import json_sections

    def chunks(doc_id, text, lang):
        blob = json.dumps({"id": int(doc_id), "text": text, "lang": lang},
                          ensure_ascii=False).encode("utf-8")
        return [(doc_id, seq, ck)
                for seq, ck in enumerate(json_sections(blob))]

    return map_documents(docs.select("doc_id", "text", "lang"), chunks,
                         "doc_id long, chunk_seq int, chunk_text string")


def md_parse(docs: DataFrame) -> DataFrame:
    """Markdown parser over a rendered per-doc markdown document
    ('# Doc N' heading, body, a bordered table for doc_id % 4 == 0):
    verifies table extraction and the heading chain-glue
    (markdown_parser.py:24-77, naive.py:296-307). The glue quirk makes a
    leading-heading doc collapse to one section — replicated."""
    from ragflow_spark.extractlib.mdparse import markdown_sections

    def parse(doc_id, text):
        md = f"# Doc {int(doc_id)}\n\n{text}"
        if int(doc_id) % 4 == 0:
            md += f"\n| k | v |\n|---|---|\n| a | {int(doc_id)} |\n"
        sections, tables = markdown_sections(md.encode("utf-8"))
        return [(doc_id, len(sections), sections[0][0] if sections else "",
                 len(tables), tables[0] if tables else "")]

    return map_documents(
        docs.select("doc_id", "text"), parse,
        "doc_id long, n_sections int, section_text string, n_tables int, "
        "table_text string")


def qa_chunks(docs: DataFrame) -> DataFrame:
    """qa template, txt branch (rag/app/qa.py:334-371): tab-delimited
    Q/A lines -> delimiter vote -> pair accumulation -> beAdoc content
    strings ('Question: ...\\tAnswer: ...', zh prefixes for zh docs)."""
    from ragflow_spark.extractlib.qa import be_adoc_text, qa_pairs_from_txt

    def pairs(doc_id, text, lang):
        txt = "\n".join(f"what is {w}?\t{w} is term {i + 1}"
                        for i, w in enumerate(text.split(" ")[:5]))
        return [(doc_id, seq, be_adoc_text(q, a, eng=lang != "zh"))
                for seq, (q, a) in enumerate(qa_pairs_from_txt(txt))]

    return map_documents(docs.select("doc_id", "text", "lang"), pairs,
                         "doc_id long, pair_seq int, content string")


def email_chunks(docs: DataFrame) -> DataFrame:
    """email template (rag/app/email.py): per-doc multipart MIME message
    (headers, text/plain body, text/html alternative) walked with the
    stdlib parser, then txt-parse + html-parse + naive_merge(128)."""
    from ragflow_spark.extractlib.email_parse import chunk_email

    def chunks(doc_id, text):
        body = " ".join(text.split(" ")[:8])
        eml = (
            f"From: sender{int(doc_id)}@example.com\r\n"
            f"To: dest@example.com\r\n"
            f"Subject: Mail {int(doc_id)}\r\n"
            f'Content-Type: multipart/alternative; '
            f'boundary="BB"\r\n\r\n'
            f"--BB\r\nContent-Type: text/plain; "
            f'charset="utf-8"\r\n\r\n{body}\r\n'
            f"--BB\r\nContent-Type: text/html; "
            f'charset="utf-8"\r\n\r\n'
            f"<html><head><title>Mail {int(doc_id)}</title>"
            f"</head><body><article><p>{body}</p></article>"
            f"</body></html>\r\n--BB--\r\n"
        ).encode()
        return [(doc_id, seq, ck) for seq, ck in enumerate(chunk_email(eml))]

    return map_documents(docs.select("doc_id", "text"), chunks,
                         "doc_id long, chunk_seq int, chunk_text string")


def table_chunks(docs: DataFrame) -> DataFrame:
    """table template, text branch (rag/app/table.py): per-doc TSV with
    text/int/float/bool/datetime columns -> column type vote -> value
    conversion -> 'col:value; ...' row docs."""
    from ragflow_spark.extractlib.tableparse import chunk_table_txt

    def chunks(doc_id, text):
        tsv = "item\tqty\tprice\tok\tts\n"
        for i, w in enumerate(text.split(" ")[:2]):
            n = int(doc_id) + i
            tsv += (f"{w}\t{n}\t{n}.5\t"
                    f"{'yes' if n % 2 == 0 else 'no'}\t"
                    f"2024-01-{n % 28 + 1:02d}\n")
        return [(doc_id, seq, ck)
                for seq, ck in enumerate(chunk_table_txt(tsv.encode()))]

    return map_documents(docs.select("doc_id", "text"), chunks,
                         "doc_id long, chunk_seq int, chunk_text string")


def tag_chunks(docs: DataFrame) -> DataFrame:
    """tag template, txt branch (rag/app/tag.py): 'content<TAB>tags'
    rows -> (content, tag_kwd array) docs."""
    from ragflow_spark.extractlib.qa import tag_pairs_from_txt

    def rows(doc_id, text):
        txt = "\n".join(
            f"{w} item {i + 1}\ttag{i + 1},group.{int(doc_id) % 5}"
            for i, w in enumerate(text.split(" ")[:2]))
        return [(doc_id, seq, content, tags) for seq, (content, tags)
                in enumerate(tag_pairs_from_txt(txt))]

    return map_documents(
        docs.select("doc_id", "text"), rows,
        "doc_id long, row_seq int, content string, tag_kwd array<string>")
