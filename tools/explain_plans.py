"""Dump formatted physical plans for the headline queries -> PLANS.md.

The audit trail for the scale posture: shows column pruning
(ReadSchema), predicate pushdown (PushedFilters), exchange counts, and
broadcast placement for each family of operator. Run after plan-shape
changes; the committed PLANS.md is the reviewable artifact.

    python tools/explain_plans.py                         # every query
    python tools/explain_plans.py index_rows task_reuse   # only these

Named queries get their summary row and plan section rewritten in the
existing PLANS.md; every other byte of it stays as it is (a full run
renumbers every plan's expression ids).
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

QUERIES = ["extract_html", "chunks_naive", "extract_pdf",
           "extract_pdf_tables", "chunks_docx", "chunks_xlsx",
           "chunks_docx_img",
           "dedup_exact", "dedup_minhash", "dedup_ngram",
           "simhash_pairs", "ann_topk", "ann_topk_ivf", "embed_neardup",
           "lang_id", "fingerprints", "media_features", "frame_sample",
           "events_rollup", "doc_stats",
           "search_docs", "search_expanded", "rerank_fusion",
           "retrieval_page", "doc_tags", "rank_features",
           "cite_answers", "entity_candidates", "chunks_resume",
           "chunks_resume_enriched", "communities",
           "community_weights", "graph_nodes", "graph_edges",
           "docx_img_lines", "chunks_doc", "chunks_ppt", "pdf_scraps",
           "kg_ents", "kg_rels", "kg_content", "match_expr",
           "graph_pagerank", "ents_resolved", "rels_resolved",
           "resolution_parse", "mentions_ents", "mentions_rels",
           "kg_chunk_ents", "kg_chunk_rels",
           "eval_metrics", "task_plan", "task_reuse", "chunk_embed",
           "index_rows", "raptor_tiers", "msg_fit", "kb_prompts",
           "community_csv", "community_reports", "subgraph_stats",
           "sql_refine", "sql_answers", "doc_progress", "mind_map",
           "ocr_det_prep", "ocr_boxes", "ocr_rec_prep", "ocr_ctc",
           "vision_nms", "ocr_quads", "light_gleans",
           "mentions_ents_light",
           "msg_fit_meta", "ocr_crops", "ocr_fill_scores",
           "layout_prep",
           "term_weights", "query_tags", "retrieval_aggs",
           "rerank_model", "search_cjk", "tokenize_docs",
           "chunks_qa", "chunks_table", "chunks_email", "chunks_pptx"]

SF = "/root/testdata/sf0.01"


def _plan(qs, spark, name: str) -> tuple[str, str]:
    """The summary-table row and the plan section of one query."""
    df = qs[name](spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    n_ex = len(re.findall(r"\bExchange\b", plan))
    n_bc = len(re.findall(r"BroadcastExchange", plan))
    scans = re.findall(r"ReadSchema: ([^\n]*)", plan)
    row = (f"| {name} | {n_ex} | {n_bc} | {len(scans)} | "
           f"`{scans[0][:80] if scans else '-'}` |")
    head = "\n".join(plan.splitlines()[:40])
    return row, f"## {name}\n\n```\n{head}\n```\n"


def _splice(text: str, name: str, row: str, section: str) -> str:
    """``text`` with the summary row and the section of ``name``
    replaced."""
    lines = text.split("\n")
    (i,) = [k for k, line in enumerate(lines)
            if line.startswith(f"| {name} |")]
    lines[i] = row
    text = "\n".join(lines)
    start = text.index(f"## {name}\n")
    end = text.find("\n## ", start)
    return text[:start] + section + text[end if end >= 0 else len(text):]


def _all_plans(qs, spark) -> str:
    """The whole PLANS.md."""
    out = ["# PLANS — physical plan audit (generated by "
           "tools/explain_plans.py)\n"]
    summary = ["| query | exchanges | broadcasts | scans | "
               "ReadSchema (first scan) |", "|---|---|---|---|---|"]
    details = []
    for name in QUERIES:
        row, section = _plan(qs, spark, name)
        summary.append(row)
        details.append(section)
    out.append("\n".join(summary) + "\n")
    out.append(
        "\nNotes: extraction queries are map-only (exchanges come from "
        "the corpus builder's explicit repartition, not the operator); "
        "dedup/similarity exchanges carry 8-16 byte keys or verified "
        "candidate pairs, never documents; broadcasts are the small "
        "sides (query vectors, candidate pair lists). Retrieval counts "
        "are inflated by printing: cached subtrees (InMemoryRelation — "
        "candidate sets, query terms, the tag KB) show their child plan "
        "once per reference but execute once; exchanges after the cache "
        "carry only (qid, doc_id, scalar) rows. KG fusion "
        "(kg_ents/kg_rels/kg_content) joins and windows key on qid with "
        "bounded candidate sets per query (the reference's N=56 page), "
        "so every exchange carries (qid, entity, scalar) rows and the "
        "plan scales with query count, not corpus size; at sf scale AQE "
        "broadcasts the small sides (rel_store, communities, the "
        "per-qid candidate tables), and at production scale those joins "
        "degrade gracefully to qid-hash shuffles of the same small "
        "rows. graph_pagerank prints as a bare scan because the "
        "returned frame is the final localCheckpoint — the executed "
        "shape is 12 rounds of one (node-key join + aggregate) each, "
        "the transition table computed once and cached, every round's "
        "shuffle carrying (node, double) rows only. dup_clusters (and "
        "communities/ents_resolved, which reuse the machinery) is "
        "two-level: one shuffle-free mapInPandas pass union-finds each "
        "edge partition locally, one groupBy(node) stitches local "
        "roots, and the iterative min-label rounds then touch only the "
        "contracted root graph (bounded by partitions x "
        "components-per-partition, not documents), each round one "
        "exchange of (root, label) rows behind a localCheckpoint. "
        "ents/rels_resolved broadcast the "
        "resolution mapping (cluster members only, bounded by the "
        "LLM-judge page) into otherwise map-side folds keyed on entity "
        "names. mentions_*/kg_chunk_* shuffle only on entity_name / "
        "canonical (src,tgt) pairs with map-side partial aggregation "
        "(ObjectHashAggregate before each Exchange), so post-parse "
        "rows are bounded by distinct graph nodes/edges, not corpus "
        "size; the entity-side type vote is a WindowGroupLimit over "
        "the (name,type) counts, broadcast back into the merge — the "
        "full-text response column never crosses an exchange.\n")
    out.extend(details)
    return "\n".join(out)



def main(names: list[str]) -> None:
    import __spark_entry__ as entry
    from ragflow_spark.job.session import get_spark

    unknown = set(names) - set(QUERIES)
    if unknown:
        sys.exit(f"unknown queries: {sorted(unknown)}")
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    if names:
        with open("PLANS.md") as f:
            text = f.read()
        for name in names:
            text = _splice(text, name, *_plan(qs, spark, name))
    else:
        text = _all_plans(qs, spark)
    with open("PLANS.md", "w") as f:
        f.write(text)
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
