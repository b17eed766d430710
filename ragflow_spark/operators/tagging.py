"""Tag-feature scoring: rag/nlp/search.py:454-491 (all_tags_in_portion,
tag_content, tag_query) re-expressed relationally.

The reference tags a document by *searching a tag knowledge base* with
the document's top-weighted keywords (query.py:243-263 paragraph), then
scoring each aggregated tag by its lift over the corpus-wide prior:

    prior(t)       = (count_t + 1) / (total + S)          (search.py:465)
    score(d, t)    = round(0.1 * (c + 1) / (cnt + S) / max(1e-6, prior))
                                                          (search.py:475)

with ``c`` the tag's count over the KB rows the doc's keyword query
matched, ``cnt`` the sum over all aggregated tags, ``S = 1000``, and
``round`` Python's banker's rounding (Spark ``bround``).

Match semantics: paragraph() builds one should-clause per top-30
token *occurrence* (duplicates count), each clause '(tk OR syns^0.2)'
satisfied when the KB row contains the token or any of its synonyms,
and an ES ``minimum_should_match`` of min(3, len(keywords)/10) —
interpreted here as an absolute clause-hit count, truncated, floored at
1 (the reference hands ES a float; clamping is this port's documented
canon). Ties in the top-3 cut are broken (score desc, c desc, tag asc)
— a deterministic stand-in for the reference's aggregation order.

Scale shape: the tag KB is the curated small side — its term and tag
tables BROADCAST; the corpus-side keyword pass is map-only Arrow; the
only shuffles carry (doc_id, kb_id) clause-hit counts and (doc_id, tag)
aggregates, never text.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ragflow_spark.job.extract import map_documents

S_SMOOTH = 1000


def subject_clauses(subjects: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", topn: int = 30,
                    question: bool = False) -> DataFrame:
    """(id, term, match_key, mult, msm): the should-clauses of the
    keyword query paragraph()/question() builds for one subject.

    - doc mode: tokens weighted per-occurrence (preprocess=False),
      stable-sorted by weight desc, top-``topn`` kept (query.py:245-247)
      — ``mult`` is the term's occurrence count inside that window,
      ``msm`` = max(1, int(min(3, n/10)))
    - question mode: question()'s match terms (prelude + double
      rmWWW + cleanups via fulltext_query.english_terms; Dealer fall-
      back on the is_chinese branch),
      ``msm`` = 1 (tag_query passes min_match=0.0, search.py:481)
    Each clause row fans out to its synonym match keys (clause satisfied
    by ANY key; the consumer dedups per term before summing mult)."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        from ragflow_spark.extractlib.fulltext_query import (
            english_terms, is_chinese, preprocess_question)
        from ragflow_spark.extractlib.huqie import (default_tokenizer,
                                                    tokenize)
        from ragflow_spark.extractlib.synonyms import SynonymDealer
        from ragflow_spark.extractlib.termweight import TermWeightDealer

        dealer = TermWeightDealer()
        syn = SynonymDealer()
        tok = default_tokenizer()
        syn_memo: dict[str, list[str]] = {}

        def keys_of(t: str) -> list[str]:
            ks = syn_memo.get(t)
            if ks is None:
                ks = [t] + tokenize(" ".join(syn.lookup(t))).split()
                syn_memo[t] = ks
            return ks

        for pdf in it:
            out = {"id": [], "term": [], "match_key": [], "mult": [],
                   "msm": []}
            for sid, text in zip(pdf["id"], pdf[text_col]):
                if question:
                    # tag_query hands the question to question()
                    # (search.py:483) — same prelude/branching as the
                    # retrieval match side
                    txt = preprocess_question(text)
                    if is_chinese(txt):
                        tw_list = dealer.weights(dealer.split(txt))
                    else:
                        tw_list, _k, _s = english_terms(
                            txt, dealer, syn, tok)
                    counts = Counter(t for t, _w in tw_list)
                    msm = 1
                else:
                    tks = tokenize(text).split()
                    tks_w = dealer.weights(tks, preprocess=False)
                    top = sorted(tks_w, key=lambda x: x[1] * -1)[:topn]
                    counts = Counter(t for t, _w in top)
                    msm = max(1, int(min(3.0, len(top) / 10)))
                for t, n in counts.items():
                    for key in keys_of(t):
                        out["id"].append(sid)
                        out["term"].append(t)
                        out["match_key"].append(key)
                        out["mult"].append(n)
                        out["msm"].append(msm)
            yield pd.DataFrame(out)

    return subjects.select(F.col(id_col).alias("id"), text_col) \
        .mapInPandas(gen, schema="id long, term string, "
                                 "match_key string, mult int, msm int")


def rank_feature_scores(doc_tags: DataFrame,
                        query_tags: DataFrame) -> DataFrame:
    """(qid, doc_id, rfea): search.py:252-277 _rank_feature_scores —
    the tag-vector similarity between a query's tag dict (tag_query
    scores, already floored at 1) and each document's TAG_FLD dict
    (tag_content scores):

        rfea = 10 * nor / sqrt(denor) / q_denor

    with nor the common-tag dot product, denor the doc's squared tag
    mass, q_denor the query's tag norm. Docs sharing no tag with the
    query score 0 in the reference and are omitted here (the pagerank
    addend is an input column the driver tables don't carry — seam
    kept at 0). Plan: tag tables are tiny (topn_tags rows per
    subject); every join broadcasts the query side."""
    qnorm = query_tags.groupBy("qid").agg(
        F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("q_denor"))
    dnorm = doc_tags.groupBy("doc_id").agg(
        F.sum(F.col("score") * F.col("score")).alias("denor"))
    common = (
        doc_tags.select("doc_id", "tag",
                        F.col("score").alias("ds"))
        .join(F.broadcast(query_tags.select(
            "qid", "tag", F.col("score").alias("qs"))), "tag")
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("qs") * F.col("ds")).alias("nor"))
    )
    return (
        common.join(F.broadcast(dnorm), "doc_id")
        .join(F.broadcast(qnorm), "qid")
        .select("qid", "doc_id",
                F.round(10.0 * F.col("nor") / F.sqrt(F.col("denor"))
                        / F.col("q_denor"), 6).alias("rfea"))
    )


def kb_from_docs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic tag KB both engines can derive from ``documents``:
    one KB row per doc whose match surface is the doc's FIRST huqie
    token and whose single tag names that token ('w_' || stem). The
    one-word surface makes matching selective — a subject only matches
    the rows of words its top-30 window carries >= msm occurrences of —
    which is what lets the lift score discriminate on a small corpus
    (production KBs get their selectivity from scale instead). Returns
    (kb_terms (kb_id, term), kb_tags (kb_id, tag))."""
    from ragflow_spark.extractlib.huqie import tokenize

    def first_term(did, text):
        tks = tokenize(text).split()
        return [(did, tks[0])] if tks else []

    kb_terms = map_documents(docs.select("doc_id", "text"), first_term,
                             "kb_id long, term string")
    kb_tags = kb_terms.select(
        "kb_id", F.concat(F.lit("w_"), F.col("term")).alias("tag"))
    return kb_terms, kb_tags


def tag_features(subjects: DataFrame, kb_terms: DataFrame,
                 kb_tags: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", topn_tags: int = 3,
                 question: bool = False,
                 smooth: int = S_SMOOTH) -> DataFrame:
    """(id, tag, c, score): tag_content/tag_query over a tag KB given as
    kb_terms (kb_id, term — the row's distinct tokens) and kb_tags
    (kb_id, tag). ``question=True`` switches to tag_query semantics
    (msm 1, score floored at 1, no positive filter; search.py:479-491).
    ``smooth`` is the reference's exposed S parameter (default 1000);
    positive lift requires total > 5*cnt + 4*S, so S must scale with
    the KB — production totals dwarf S=1000, a small corpus needs a
    proportionally small S."""
    # the KB is the curated small side and feeds three branches (term
    # match, prior, tag agg) — pin it so the derivation isn't re-run
    # per branch (at scale these are materialized index tables).
    # localCheckpoint (lazy) rather than cache(): checkpointed blocks
    # are reclaimed by the ContextCleaner when the DataFrame goes out
    # of scope, whereas cache() pins the plan in the CacheManager
    # until an explicit unpersist this function has no place to issue
    # (the result is lazy, so unpersisting before the caller's action
    # would defeat the pin).  Tradeoff: localCheckpoint severs lineage
    # into unreplicated executor blocks — an executor loss fails the
    # job where cache() would recompute; swap in reliable
    # checkpointing if cluster-loss resilience matters more than the
    # CacheManager leak
    kb_terms = kb_terms.localCheckpoint(eager=False)
    kb_tags = kb_tags.localCheckpoint(eager=False)
    clauses = subject_clauses(subjects, id_col, text_col,
                              question=question)
    # Match against KB *signatures*, not KB rows: whether a subject
    # matches a KB row depends only on the row's distinct term set, so
    # rows sharing a term set are interchangeable. Dedup the KB to its
    # signatures (here 31 vs 5000 rows) and evaluate the clause-hit
    # count as a JVM expression per (subject, signature) pair — but
    # only on PLAUSIBLE pairs: a signature can satisfy a clause only if
    # it shares >= 1 match key with the subject (ov >= msm >= 1 implies
    # a shared key, so the pre-filter is lossless). The term-level
    # semi-join below produces exactly those pairs, so the pair count
    # is bounded by real key overlap instead of
    # |subjects| * |signatures| — the crossJoin variant this replaces
    # degraded linearly with KB signature count (12.8 s at sf0.1 with
    # 31 signatures; a production KB has thousands). Shuffles carry
    # 8-byte sig_ids and subject ids only; qarr is already partitioned
    # by id from its groupBy, so the candidate join adds one small
    # exchange on the candidate side.
    qarr = (
        clauses.groupBy("id", "msm", "term", "mult")
        .agg(F.collect_list("match_key").alias("keys"))
        .groupBy("id")
        # max, not first: every clause row of one subject carries the
        # same msm today, but max is order-independent by
        # construction if a producer ever mixes them
        .agg(F.max("msm").alias("msm"),
             F.collect_list(F.struct("keys", "mult")).alias("qarr"))
    )
    kb_sets = kb_terms.groupBy("kb_id").agg(
        F.sort_array(F.collect_set("term")).alias("kbt"))
    sig_tag = (kb_sets.join(kb_tags, "kb_id")
               .groupBy("kbt", "tag").agg(F.count("*").alias("n"))
               .localCheckpoint(eager=False))
    # deterministic 8-byte signature id (hash of the sorted term set)
    sigs = sig_tag.select("kbt").distinct().withColumn(
        "sig_id", F.xxhash64(F.concat_ws(" ", "kbt")))
    sig_terms = sigs.select(
        "sig_id", F.explode("kbt").alias("match_key"))
    cand = (
        clauses.select("id", "match_key").distinct()
        .join(F.broadcast(sig_terms), "match_key")
        .select("id", "sig_id").distinct()
    )
    ov = F.expr(
        "aggregate(qarr, 0, (acc, q) -> acc + IF("
        "exists(q.keys, k -> array_contains(kbt, k)), q.mult, 0))")
    matched = (
        qarr.join(cand, "id")
        .join(F.broadcast(sigs), "sig_id")
        .where(ov >= F.col("msm"))
        .select("id", "kbt")
    )

    # per-subject aggregation of the matched rows' tags
    c = (matched.join(F.broadcast(sig_tag), "kbt")
         .groupBy("id", "tag").agg(F.sum("n").alias("c")))
    cnt = F.sum("c").over(Window.partitionBy("id"))

    # corpus-wide prior over the whole KB (all_tags_in_portion)
    total = kb_tags.count()
    prior = kb_tags.groupBy("tag").agg(
        ((F.count("*") + 1) / F.lit(total + smooth)).alias("prior"))

    scored = (
        c.withColumn("cnt", cnt)
        .join(F.broadcast(prior), "tag")
        # the raw lift is often an exact small rational (0.5 for a
        # perfectly-enriched tag); collapse engine-order ULP noise at 9
        # decimals before the banker's round so the integer score is
        # reproducible across engines
        .withColumn("score", F.bround(F.round(
            0.1 * (F.col("c") + 1) / (F.col("cnt") + smooth)
            / F.greatest(F.lit(1e-6), F.col("prior")), 9)).cast("long"))
    )
    rank = F.row_number().over(
        Window.partitionBy("id").orderBy(
            F.col("score").desc(), F.col("c").desc(), F.col("tag")))
    top = scored.withColumn("rk", rank).where(F.col("rk") <= topn_tags)
    if question:
        top = top.withColumn("score", F.greatest(F.lit(1), F.col("score")))
    else:
        top = top.where(F.col("score") > 0)
    return top.select(F.col("id").alias(id_col), "tag", "c", "score")
