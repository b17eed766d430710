"""Keyword retrieval over extracted documents/chunks — the Spark-native
re-expression of the reference's query/search stack
(rag/nlp/query.py FulltextQueryer + rag/nlp/search.py Dealer.search).

The reference compiles a question into an Elasticsearch match
expression: rmWWW strip -> tokenize -> Dealer term weights as boosts.
Spark-first, the same semantics become a relational plan: the weighted
query-term list (tiny) BROADCASTS, the corpus explodes once into
(doc, term, tf) postings, and score(q, d) = sum_t w_t * tf(t, d) — the
boost-weighted term match — aggregates map-side before a top-k
reduction identical to ann_topk's. No inverted index service: the
postings ARE the index, rebuilt or persisted as a bucketed table at
scale (the ES cluster's role). Vector fusion (search.py's hybrid
0.05/0.95 blend) composes downstream with ann_topk over the same ids —
seam documented, keyword scorer is what ships here.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ragflow_spark.job.extract import map_documents

# left-to-right double-precision dot / norm folds (shared shape with
# operators/similarity.py so the DuckDB oracle reproduces scores)
_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0 as double), (s, v) -> s + v)")
_NORM = ("sqrt(aggregate({a}, cast(0 as double), "
         "(s, x) -> s + x * x))")


def query_terms(queries: DataFrame) -> DataFrame:
    """(qid, question) -> (qid, term, weight): the match-side term set
    of FulltextQueryer.question() — the shared prelude + the English
    branch's double-rmWWW/huqie/cleanup pipeline (query.py:76-96, via
    fulltext_query.english_terms, the same code that assembles the
    DSL).  The is_chinese branch (also taken by <=3-token English
    questions, reference quirk) keeps the flat Dealer weighting over
    the preprocessed text — the documented relational reduction of the
    Chinese weighted-subterm DSL (which fulltext_query.question()
    renders in full)."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ragflow_spark.extractlib.fulltext_query import (
            english_terms, is_chinese, preprocess_question)
        from ragflow_spark.extractlib.huqie import default_tokenizer
        from ragflow_spark.extractlib.synonyms import SynonymDealer
        from ragflow_spark.extractlib.termweight import TermWeightDealer

        dealer = TermWeightDealer()
        syn = SynonymDealer()
        tok = default_tokenizer()
        for pdf in it:
            qids, terms, weights = [], [], []
            for qid, question in zip(pdf["qid"], pdf["question"]):
                txt = preprocess_question(question)
                if is_chinese(txt):
                    tw = dealer.weights(dealer.split(txt))
                else:
                    tw, _kws, _syns = english_terms(txt, dealer, syn,
                                                    tok)
                for t, w in tw:
                    qids.append(qid)
                    terms.append(t)
                    weights.append(w)
            yield pd.DataFrame({"qid": qids, "term": terms,
                                "weight": weights})

    return queries.mapInPandas(gen,
                               schema="qid long, term string, "
                                      "weight double")


def doc_postings(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, text) -> (id, term, tf) postings over huqie tokens (the
    content_ltks surface the reference indexes into ES)."""
    from ragflow_spark.extractlib.huqie import tokenize

    def postings(did, text):
        return [(did, t, n)
                for t, n in Counter(tokenize(text).split()).items()]

    return map_documents(docs.select(id_col, text_col), postings,
                         f"{id_col} long, term string, tf int")


def keyword_search(docs: DataFrame, queries: DataFrame,
                   k: int = 5, postings: DataFrame | None = None,
                   min_match: float = 0.0) -> DataFrame:
    """(qid, rank, doc_id, score): boost-weighted term-match top-k.

    Plan: postings (map-only) JOIN broadcast(query terms) -> partial-agg
    score per (qid, doc) -> Arrow local top-k -> tiny merge. The corpus
    never shuffles full documents; the exchange carries scored id pairs.
    ``postings`` accepts a pre-materialized (doc_id, term, tf) table —
    the persisted-index path (bucketed by doc_id at scale) that skips
    re-tokenizing the corpus per query batch. ``min_match`` is the ES
    minimum_should_match fraction the CJK question branch passes
    (query.py:75 default 0.6): ES rounds percentage values DOWN, so a
    document qualifies when at least max(floor(min_match * |query
    terms|), 1) distinct terms hit — a HAVING clause on the same
    partial aggregation, no extra shuffle. The >=1 clamp matches the
    engine: a pure-should match with a zero requirement still only
    returns documents hitting at least one clause.
    """
    terms = query_terms(queries)
    post = doc_postings(docs) if postings is None else postings
    # ranking happens on the 6-decimal score: float summation order
    # inside the partial agg is engine/partition dependent at the last
    # ulp, and ranking must be reproducible across engines and runs
    scored = (
        post.join(F.broadcast(terms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(F.col("weight") * F.col("tf")),
                     6).alias("score"),
             F.countDistinct("term").alias("nmatched"))
    )
    if min_match > 0:
        nterms = terms.groupBy("qid").agg(
            F.countDistinct("term").alias("nterms"))
        scored = (scored.join(F.broadcast(nterms), "qid")
                  .where(F.col("nmatched") >= F.greatest(
                      F.floor(min_match * F.col("nterms")), F.lit(1))))
    scored = scored.select("qid", "doc_id", "score")

    def local_topk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield (pdf.sort_values(["qid", "score", "doc_id"],
                                   ascending=[True, False, True])
                   .groupby("qid", sort=False).head(k))

    reduced = scored.mapInPandas(
        local_topk, schema="qid long, doc_id long, score double")
    item = F.struct(F.col("score"), (-F.col("doc_id")).alias("nid"))
    merged = (
        reduced.groupBy("qid")
        .agg(F.slice(F.sort_array(F.collect_list(item), asc=False),
                     1, k).alias("top"))
    )
    return (
        merged.select("qid", F.posexplode("top").alias("pos", "c"))
        .select("qid", (F.col("pos") + 1).alias("rank"),
                (-F.col("c.nid")).alias("doc_id"), "c.score")
    )


def rerank_query_terms(queries: DataFrame) -> DataFrame:
    """(qid, term, weight): the query token side of the RERANK paths.

    Both rerank entries (search.py:283,321) take ``keywords`` from
    FulltextQueryer.question(), whose non-Chinese branch extends the
    huqie base tokens with each term's huqie-tokenized synonyms
    (query.py:93-96 keywords.extend(syn)) — so the toDict weights
    (query.py:216-222, preprocess=False, normalized over the WHOLE
    list, duplicates accumulated) shift whenever any query term has a
    synonym, even one with zero corpus hits. This differs from
    query_terms (the match side) where synonyms ride as quarter-boost
    DSL clauses instead."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ragflow_spark.extractlib.fulltext_query import question
        from ragflow_spark.extractlib.huqie import default_tokenizer
        from ragflow_spark.extractlib.synonyms import SynonymDealer
        from ragflow_spark.extractlib.termweight import (TermWeightDealer,
                                                         to_weight_dict)

        dealer = TermWeightDealer()
        syn = SynonymDealer()
        tok = default_tokenizer()
        for pdf in it:
            qids, terms, weights = [], [], []
            for qid, q in zip(pdf["qid"], pdf["question"]):
                # the REAL question() keywords — prelude, double
                # rmWWW, cleanup regexes, synonym extension — not an
                # approximation of them
                _q, _extra, kws = question(q, dealer=dealer, syn=syn,
                                           tokenizer=tok)
                for t, w in to_weight_dict(dealer, kws).items():
                    qids.append(qid)
                    terms.append(t)
                    weights.append(w)
            yield pd.DataFrame({"qid": qids, "term": terms,
                                "weight": weights})

    return queries.mapInPandas(gen,
                               schema="qid long, term string, "
                                      "weight double")


def query_expansion(queries: DataFrame) -> DataFrame:
    """(qid, term, boost): the english branch of query.py:84-110 as a
    weighted term list — base terms at their Dealer weight, synonyms
    (synonym.py lookup, huqie-tokenized) at w/4 (query.py:96), and
    adjacent-pair phrases at 2 * max(w_left, w_right) (query.py:98-110,
    the '"a b"^w*2' quoted-phrase boosts); phrase terms are 'a b'
    strings matched against bigram postings."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ragflow_spark.extractlib.fulltext_query import (
            english_terms, preprocess_question)
        from ragflow_spark.extractlib.huqie import (default_tokenizer,
                                                    tokenize)
        from ragflow_spark.extractlib.synonyms import SynonymDealer
        from ragflow_spark.extractlib.termweight import TermWeightDealer

        dealer = TermWeightDealer()
        syn = SynonymDealer()
        tok = default_tokenizer()
        for pdf in it:
            qids, terms, boosts = [], [], []

            def emit(qid, t, w):
                qids.append(qid)
                terms.append(t)
                boosts.append(w)

            for qid, question in zip(pdf["qid"], pdf["question"]):
                tw, _kws, _syns = english_terms(
                    preprocess_question(question), dealer, syn, tok)
                for t, w in tw:
                    emit(qid, t, w)
                    for s in tokenize(" ".join(syn.lookup(t))).split():
                        emit(qid, s, w / 4.0)
                for (lt, lw), (rt, rw) in zip(tw, tw[1:]):
                    emit(qid, f"{lt} {rt}", max(lw, rw) * 2.0)
            yield pd.DataFrame({"qid": qids, "term": terms,
                                "boost": boosts})

    return queries.mapInPandas(
        gen, schema="qid long, term string, boost double")


def bigram_postings(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, term, tf) over adjacent huqie-token pairs — the posting
    surface the quoted-phrase boosts match against (the ES match_phrase
    leg of the reference's query DSL, relationally)."""
    from ragflow_spark.extractlib.huqie import tokenize

    def postings(did, text):
        tks = tokenize(text).split()
        return [(did, pair, n) for pair, n in Counter(
            f"{a} {b}" for a, b in zip(tks, tks[1:])).items()]

    return map_documents(docs.select(id_col, text_col), postings,
                         f"{id_col} long, term string, tf int")


def keyword_search_expanded(docs: DataFrame, queries: DataFrame,
                            k: int = 5) -> DataFrame:
    """(qid, rank, doc_id, score): keyword top-k where the broadcast
    side is the *expanded* term list — synonyms at quarter boost and
    adjacent-pair phrases at doubled boost alongside the base terms.

    Plan: identical shape to ``keyword_search`` — the corpus explodes
    into unigram + bigram postings (one map-only pass each), the tiny
    expanded term list broadcasts, score partial-aggregates map-side,
    then the same pre-shuffle local top-k. The bigram posting table is
    ~1x corpus tokens, same order as the unigram one — no new shuffle
    shape at 100 TB."""
    terms = query_expansion(queries)
    post = doc_postings(docs).unionByName(bigram_postings(docs))
    scored = (
        post.join(F.broadcast(terms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(F.col("boost") * F.col("tf")),
                     6).alias("score"))
    )

    def local_topk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield (pdf.sort_values(["qid", "score", "doc_id"],
                                   ascending=[True, False, True])
                   .groupby("qid", sort=False).head(k))

    reduced = scored.mapInPandas(
        local_topk, schema="qid long, doc_id long, score double")
    item = F.struct(F.col("score"), (-F.col("doc_id")).alias("nid"))
    merged = (
        reduced.groupBy("qid")
        .agg(F.slice(F.sort_array(F.collect_list(item), asc=False),
                     1, k).alias("top"))
    )
    return (
        merged.select("qid", F.posexplode("top").alias("pos", "c"))
        .select("qid", (F.col("pos") + 1).alias("rank"),
                (-F.col("c.nid")).alias("doc_id"), "c.score")
    )


def cite_answers(answers: DataFrame, chunks: list[str],
                 chunk_v: list[list[float]], tkweight: float = 0.1,
                 vtweight: float = 0.9) -> DataFrame:
    """(qid, cited, cites): insert_citations (search.py:163-250) over a
    DataFrame of answers carrying their piece embedding in ``vec``
    (the embedding-model seam composes upstream; single-sentence
    answers need exactly one vector). ``chunks``/``chunk_v`` are the
    retrieval page for the answer — a per-query handful of rows, passed
    by value into the Arrow closure the way the reference passes them
    by argument. Map-only plan: answers never shuffle."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ragflow_spark.extractlib.citations import (insert_citations,
                                                        split_pieces)

        for pdf in it:
            qids, cited, cites = [], [], []
            for qid, answer, vec in zip(pdf["qid"], pdf["answer"],
                                        pdf["vec"]):
                # the single answer-level vector stands in for the
                # per-piece embedding ONLY when there is exactly one
                # scorable piece — enforce the documented constraint
                # instead of silently scoring every piece with it
                npieces = sum(1 for p in split_pieces(answer)
                              if len(p) >= 5)
                if npieces > 1:
                    raise ValueError(
                        f"cite_answers: answer for qid={qid} splits "
                        f"into {npieces} scorable pieces but carries "
                        "one embedding; supply per-piece vectors")
                res, seted = insert_citations(
                    answer, chunks, chunk_v,
                    encode=lambda texts, v=vec: [list(v)] * len(texts),
                    tkweight=tkweight, vtweight=vtweight)
                qids.append(qid)
                cited.append(res)
                cites.append(",".join(sorted(seted, key=int)))
            yield pd.DataFrame({"qid": qids, "cited": cited,
                                "cites": cites})

    return answers.select("qid", "answer", "vec").mapInPandas(
        gen, schema="qid long, cited string, cites string")


def rerank_by_model(docs: DataFrame, queries: DataFrame,
                    model_sims: DataFrame, k: int = 5,
                    tkweight: float = 0.3,
                    vtweight: float = 0.7) -> DataFrame:
    """search.py:318-339 rerank_by_model: the cross-encoder similarity
    arrives as an input column (the rerank_mdl seam — (qid, doc_id,
    msim) for the candidate page it scored); this operator supplies
    the token side verbatim — ins_tw WITHOUT the dedup/boost treatment
    of plain rerank (content tokens keep multiplicity, so dtwt is
    tf-weighted) — and fuses

        score = tkweight * (tksim + rank_fea) + vtweight * msim

    with rank_fea 0 absent rank features. Same broadcast shape as
    rerank_fusion; the model-scored page is the tiny side."""
    # lazy localCheckpoint, not cache(): these pins have no unpersist
    # site (the result is lazy), and checkpointed blocks are reclaimed
    # by the ContextCleaner when the frames go out of scope instead of
    # living in the CacheManager forever (same idiom as tag_features).
    # Tradeoff: localCheckpoint severs lineage into unreplicated
    # executor blocks, so on a real cluster an executor loss fails the
    # job where cache() would recompute — acceptable for these small
    # pinned sides; a deployment that needs executor-loss resilience
    # should swap in reliable checkpointing (setCheckpointDir) here
    cands = model_sims.select("qid", "doc_id", "msim") \
        .localCheckpoint(eager=False)
    cand_ids = cands.select("doc_id").distinct()
    dtw = doc_term_weights(
        docs.join(F.broadcast(cand_ids), "doc_id"),
        dedup=False).localCheckpoint(eager=False)
    dstats = dtw.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    qtw = rerank_query_terms(queries).localCheckpoint(eager=False)
    qnorm = qtw.groupBy("qid").agg(
        F.sum(F.col("weight") * F.col("weight")).alias("qq"))
    overlap = (
        cands.join(dtw, "doc_id")
        .join(F.broadcast(qtw), ["qid", "term"])
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("weight") * F.col("dw")).alias("s"))
    )
    # dstats/qnorm LEFT-join: the reference scores every candidate in
    # sres.ids — a model-scored candidate whose text tokenizes to
    # nothing (dtwt = {}) still gets tksim = sqrt(3e-9 / q / log10(512))
    # and its vtweight * msim share; an inner join would silently drop
    # it from the page (search.py:318-339)
    scored = (
        cands
        .join(overlap, ["qid", "doc_id"], "left")
        .join(F.broadcast(dstats), "doc_id", "left")
        .join(F.broadcast(qnorm), "qid", "left")
        .withColumn("tksim", F.sqrt(
            3.0 * (F.coalesce(F.col("s"), F.lit(0.0)) + 1e-9)
            / (F.coalesce(F.col("qq"), F.lit(0.0)) + 1e-9)
            / F.log10(F.coalesce(F.col("dlen"), F.lit(0)) + 512)))
        .withColumn("score", F.round(
            tkweight * F.col("tksim") + vtweight * F.col("msim"), 6))
    )
    rank = F.row_number().over(
        Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("doc_id")))
    return (
        scored.withColumn("rank", rank).where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id",
                F.round("tksim", 6).alias("tksim"),
                F.round("msim", 6).alias("msim"), "score")
    )


def retrieval_page(docs: DataFrame, embeddings: DataFrame,
                   queries: DataFrame, page: int = 1, page_size: int = 5,
                   similarity_threshold: float = 0.2,
                   vector_similarity_weight: float = 0.3,
                   rerank_limit: int = 64) -> DataFrame:
    """Dealer.retrieval (search.py:347-430) as one relational flow:
    keyword search caps candidates at RERANK_LIMIT, hybrid rerank runs
    at (1 - w, w) — note the flipped default vs rerank's own 0.3/0.7 —
    then the page window slices the fused ordering and the similarity
    threshold cuts the tail (sorted, so the reference's break IS a
    filter). doc_aggs and highlights are presentation-side; the
    rerank-model path is the rerank_by_model seam."""
    ranked = rerank_fusion(docs, embeddings, queries,
                           topn=rerank_limit, k=rerank_limit,
                           tkweight=1.0 - vector_similarity_weight,
                           vtweight=vector_similarity_weight)
    lo, hi = (page - 1) * page_size, page * page_size
    return (
        ranked.where((F.col("rank") > lo) & (F.col("rank") <= hi))
        .where(F.col("score") >= similarity_threshold)
        .select("qid", (F.col("rank") - lo).alias("rank"), "doc_id",
                "tksim", "vtsim", "score")
    )


def retrieval_doc_aggs(docs: DataFrame, embeddings: DataFrame,
                       queries: DataFrame, page: int = 1,
                       page_size: int = 5,
                       similarity_threshold: float = 0.2,
                       vector_similarity_weight: float = 0.3,
                       rerank_limit: int = 64) -> DataFrame:
    """(qid, doc_id, count): the doc_aggs side of Dealer.retrieval —
    per query, matched-chunk counts per source document over the
    above-threshold candidates INSIDE the page window: search.py:377
    slices idx to [(page-1)*page_size, page*page_size) BEFORE the
    doc_aggs loop, so reference aggs only ever see in-page chunks
    (the aggs=True `continue` at :389 can only matter after the
    doc_ids branch widens page_size). The driver corpus is one chunk
    per document, so counts are 1 — the shape, not the cardinality,
    is what the aggregation contributes."""
    ranked = rerank_fusion(docs, embeddings, queries,
                           topn=rerank_limit, k=rerank_limit,
                           tkweight=1.0 - vector_similarity_weight,
                           vtweight=vector_similarity_weight)
    lo, hi = (page - 1) * page_size, page * page_size
    return (
        ranked.where((F.col("rank") > lo) & (F.col("rank") <= hi))
        .where(F.col("score") >= similarity_threshold)
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("count"))
    )


def doc_term_weights(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     dedup: bool = True) -> DataFrame:
    """(id, term, dw): the document side of token_similarity
    (rag/nlp/query.py:215-222 toDict over search.py:301-306 ins_tw with
    the reference's own empty-field paths for title/kwd/question):
    huqie tokens deduped preserving first occurrence
    (OrderedDict.fromkeys, search.py:302), then Dealer normalized
    weights with preprocess=False, accumulated per term. One row per
    distinct term; the row count per doc is len(dtwt) for the
    similarity log-damping. ``dedup=False`` is rerank_by_model's
    surface (search.py:323-331): occurrences keep their multiplicity,
    so dtwt is tf-weighted."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import OrderedDict

        from ragflow_spark.extractlib.huqie import tokenize
        from ragflow_spark.extractlib.termweight import (TermWeightDealer,
                                                         to_weight_dict)

        dealer = TermWeightDealer()
        for pdf in it:
            ids, terms, dws = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                tks = tokenize(text).split()
                if dedup:
                    tks = list(OrderedDict.fromkeys(tks))
                for t, w in to_weight_dict(dealer, tks).items():
                    ids.append(did)
                    terms.append(t)
                    dws.append(w)
            yield pd.DataFrame({id_col: ids, "term": terms, "dw": dws})

    return docs.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} long, term string, dw double")


def rerank_fusion(docs: DataFrame, embeddings: DataFrame,
                  queries: DataFrame, topn: int = 8, k: int = 5,
                  tkweight: float = 0.3, vtweight: float = 0.7,
                  postings: DataFrame | None = None) -> DataFrame:
    """Hybrid rerank of keyword-search candidates
    (rag/nlp/search.py:279-317 Dealer.rerank + query.py:205-241
    hybrid_similarity/token_similarity/similarity, rank_feature=None):

    - token similarity sqrt(3 * s / q / log10(|dtwt| + 512)) with the
      reference's 1e-9 floors (query.py:228-241)
    - vector cosine against the query embedding (vec_id == qid)
    - fused = tkweight * tksim + vtweight * vtsim, with the
      all-cosines-zero fallback to pure tksim (query.py:211-213)

    Plan: candidates (<= n_queries * topn rows) broadcast-semi-join
    prunes the corpus before tokenization, so only candidate documents
    pay the term-weight pass; every join against query-side tables is a
    broadcast; the only exchanges carry (qid, doc_id, scalar) rows.
    Missing embeddings fall back to the reference's zero vector
    (search.py:288-295) -> cosine 0."""
    # the candidate set (<= n_queries * topn rows) feeds three
    # branches; pin it so Spark's tree-shaped plans don't re-derive
    # the whole keyword_search DAG (postings + top-k) once per branch
    cands = keyword_search(docs, queries, k=topn, postings=postings) \
        .select("qid", "doc_id").localCheckpoint(eager=False)
    cand_ids = cands.select("doc_id").distinct()
    dtw = doc_term_weights(
        docs.join(F.broadcast(cand_ids), "doc_id")) \
        .localCheckpoint(eager=False)
    dstats = dtw.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    # the rerank token side is question()'s keywords — base tokens PLUS
    # huqie-tokenized synonyms (query.py:93-96), normalized together and
    # accumulated per term (toDict, query.py:218-221)
    qtw = rerank_query_terms(queries).localCheckpoint(eager=False)
    qnorm = qtw.groupBy("qid").agg(
        F.sum(F.col("weight") * F.col("weight")).alias("qq"))

    overlap = (
        cands.join(dtw, "doc_id")
        .join(F.broadcast(qtw), ["qid", "term"])
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("weight") * F.col("dw")).alias("s"))
    )

    emb = embeddings.withColumn(
        "v", F.col("embedding").cast("array<double>")).select(
        "vec_id", "v").withColumn("nrm", F.expr(_NORM.format(a="v")))
    qv = emb.select(F.col("vec_id").alias("qid"),
                    F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    dot = F.expr(_DOT.format(a="qv", b="v"))

    scored = (
        cands
        .join(overlap, ["qid", "doc_id"], "left")
        .join(F.broadcast(dstats), "doc_id")
        .join(F.broadcast(qnorm), "qid")
        .join(emb, F.col("doc_id") == F.col("vec_id"), "left")
        .join(F.broadcast(qv), "qid", "left")
        .withColumn("tksim", F.sqrt(
            3.0 * (F.coalesce(F.col("s"), F.lit(0.0)) + 1e-9)
            / (F.col("qq") + 1e-9)
            / F.log10(F.col("dlen") + 512)))
        .withColumn("vtsim", F.coalesce(
            dot / (F.col("qn") * F.col("nrm")), F.lit(0.0)))
        .select("qid", "doc_id", "tksim", "vtsim")
    )
    # query.py:211-213 — when every cosine for a query is exactly zero
    # (no embeddings at this scale factor), the fused score IS tksim
    vt_total = F.sum(F.col("vtsim")).over(Window.partitionBy("qid"))
    fused = F.when(vt_total == 0.0, F.col("tksim")).otherwise(
        tkweight * F.col("tksim") + vtweight * F.col("vtsim"))
    ranked = scored.withColumn("fused", F.round(fused, 6)).withColumn(
        "rank", F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.col("fused").desc(), F.col("doc_id"))))
    return (
        ranked.where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id",
                F.round("tksim", 6).alias("tksim"),
                F.round("vtsim", 6).alias("vtsim"),
                F.col("fused").alias("score"))
    )
