"""RAPTOR recursive abstractive clustering
(rag/raptor.py:33-180 ``RecursiveAbstractiveProcessing4TreeOrganized
Retrieval.__call__``, rag/svr/task_executor.py:429-468 ``run_raptor``),
re-expressed as a layer-at-a-time distributed fold.

The reference loops per document: cluster the current top layer
(UMAP + GaussianMixture), LLM-summarize each cluster, embed each
summary, append, repeat until one node remains.  Here every LAYER is
one distributed step over ALL documents simultaneously — a
doc_id-grouped ``applyInPandas`` that clusters, budget-truncates,
summarizes and embeds in one call — so a corpus of 10^9 docs
climbs its trees in ~log(max chunks/doc) Spark jobs instead of 10^9
driver loops.  Per layer the active set shrinks geometrically and each
round is ``localCheckpoint``-ed to truncate lineage (the dup_clusters
iteration shape).

Machinery kept from the reference:

- input gates (raptor.py:82-85): a document with fewer than 2 chunks
  yields nothing; chunks with empty text or an empty embedding are
  dropped first.  (The reference computes ``end``/``original_length``
  BEFORE the filter, so whenever the filter drops anything it either
  crashes — UMAP on ``n_components = -1`` when one survivor remains,
  the ``len(chunks) - end == n_clusters`` assert when >= 3 remain —
  or silently mis-slices the output window (2 survivors).  Here the
  filtered count is authoritative: every surviving doc builds its
  full tree.  Documented divergence to the evident intent.)
- the 2-node shortcut (raptor.py:119-133): a layer of exactly two
  chunks is summarized as one cluster without consulting the clusterer.
- per-cluster prompt budgeting (raptor.py:88-97): members are ordered
  by their position in the layer, each token-truncated to
  ``int((llm_max_length - max_token) / len(texts))`` (floor 1), then
  newline-joined.
- the continuation-marker strip on the summary (raptor.py:108-113).
- every cluster must be non-empty and each layer must shrink — the
  reference asserts both (``assert len(ck_idx) > 0``,
  ``n_clusters`` < layer size is what its BIC sweep guarantees); here
  a non-shrinking layer raises rather than looping.

The model calls are the seams: ``cluster_fn`` maps a layer's
(positions, texts, vectors) per doc to labels 0..k-1 (production:
UMAP+GMM per group in the same Arrow batch; tests/oracles: a
deterministic fan-in), ``summarize_fn`` is the LLM
(prompt format + chat), ``embed_fn`` the embedding model.  The
reference appends summaries in trio-nursery completion order, which is
nondeterministic; here new-layer positions are the cluster ids
(0..k-1), the order its ``for c in range(n_clusters)`` loop *starts*
them (SURVEY §10.1 adaptation).

``raptor_rows`` is run_raptor's search-row assembly
(task_executor.py:446-467): xxh64 chunk ids (a column expression), the
doc's ``docnm_kwd``/``title_tks``, huqie ``content_ltks``/``content_sm_ltks``
per summary (one Arrow batch), injectable clock — map-only.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ragflow_spark.extractlib.tokens import truncate
from ragflow_spark.extractlib.xxh64 import chunk_id_col

_CONTINUATION_RE = re.compile(
    "(······\n由于长度的原因，回答被截断了，要继续吗？"
    "|For the content length reason, it stopped, continue?)")

_TIER_SCHEMA = ("doc_id long, layer int, pos int, content string, "
                "vec array<double>")


def block_cluster_fn(fan_in: int = 4):
    """Deterministic clusterer seam: label = position-block // fan_in
    over the layer's pos order.  Stands in for the UMAP+GMM sweep
    (raptor.py:135-150) in tests and oracles; always shrinks for
    fan_in >= 2."""
    def fn(pdf: pd.DataFrame) -> pd.Series:
        order = pdf["pos"].rank(method="first").astype(int) - 1
        return order // fan_in
    return fn


def raptor_tiers(chunks: DataFrame,
                 cluster_fn: Callable[[pd.DataFrame], pd.Series],
                 summarize_fn: Callable[[str], str],
                 embed_fn: Callable[[str], list],
                 llm_max_length: int = 8192,
                 max_token: int = 512,
                 max_layers: int = 64) -> DataFrame:
    """(doc_id, layer, pos, content, vec) summary tiers, layer >= 1.

    ``chunks``: (doc_id, pos, content, vec array<double>) — the layer-0
    leaves, ``pos`` unique per doc.
    """
    spark = chunks.sparkSession
    orig_ok = (chunks.groupBy("doc_id")
               .agg(F.count("*").alias("_n"))
               .where(F.col("_n") > 1).select("doc_id"))
    # REPARTITION_BY_NUM both satisfies the groupBy's clustering (no
    # second exchange) and is exempt from AQE coalescing — without it
    # the tiny per-layer shuffles collapse to one partition and every
    # layer's Python step runs serially (measured 8.4s -> parallel at
    # sf0.1's 5000 docs)
    par = spark.sparkContext.defaultParallelism
    cur = (chunks
           .where((F.col("content").isNotNull())
                  & (F.col("content") != "")
                  & F.col("vec").isNotNull() & (F.size("vec") > 0))
           .join(orig_ok, "doc_id", "semi")
           .select("doc_id", "pos", "content", "vec")
           .repartition(par, "doc_id")
           .localCheckpoint())

    def layer_step(grp: pd.DataFrame) -> pd.DataFrame:
        # one call per (doc, layer): cluster AND summarize — the two
        # reference phases share the doc's rows, so fusing them saves
        # a shuffle + Arrow pass per layer
        grp = grp.sort_values("pos").reset_index(drop=True)
        n = len(grp)
        if n <= 1:                      # this doc's tree is done
            return pd.DataFrame(
                {"doc_id": pd.Series([], dtype="int64"),
                 "pos": pd.Series([], dtype="int32"),
                 "content": pd.Series([], dtype="object"),
                 "vec": pd.Series([], dtype="object")})
        if n == 2:                      # raptor.py:119 shortcut
            labels = [0, 0]
        else:
            labels = list(cluster_fn(grp).astype(int))
        k = max(labels) + 1
        if k >= n:
            raise RuntimeError(
                "raptor layer did not shrink; cluster_fn must emit "
                "fewer clusters than members")
        rows = []
        for c in range(k):
            texts = [grp["content"][i] for i in range(n)
                     if labels[i] == c]
            if not texts:               # reference asserts non-empty
                raise RuntimeError(f"raptor cluster {c} is empty")
            len_per_chunk = int((llm_max_length - max_token)
                                / len(texts))
            cluster_content = "\n".join(
                truncate(t, max(1, len_per_chunk)) for t in texts)
            cnt = _CONTINUATION_RE.sub("",
                                       summarize_fn(cluster_content))
            rows.append({"doc_id": grp["doc_id"][0], "pos": c,
                         "content": cnt,
                         "vec": [float(x) for x in embed_fn(cnt)]})
        return pd.DataFrame(rows)

    tiers = None
    for layer in range(1, max_layers + 1):
        nxt = (cur.groupBy("doc_id")
               .applyInPandas(layer_step,
                              schema=("doc_id long, pos int, "
                                      "content string, "
                                      "vec array<double>"))
               .localCheckpoint())
        if nxt.isEmpty():
            break
        lay = nxt.withColumn("layer", F.lit(layer)) \
            .select("doc_id", "layer", "pos", "content", "vec")
        tiers = lay if tiers is None else tiers.unionByName(lay)
        # the applyInPandas output loses the clustering property, so
        # re-fan the next layer's input (rows shrink ~4x per layer)
        cur = nxt.repartition(par, "doc_id")
    else:
        raise RuntimeError(f"raptor exceeded {max_layers} layers")

    if tiers is None:
        return spark.createDataFrame([], _TIER_SCHEMA)
    return tiers


def raptor_rows(tiers: DataFrame, docs: DataFrame,
                create_time: str = "1970-01-01 00:00:00",
                create_timestamp: float = 0.0) -> DataFrame:
    """run_raptor's per-summary search rows (task_executor.py:446-467).

    ``docs``: (doc_id, name, kb_id, pagerank) metadata. pagerank joins
    in as a field only where non-zero, as build_chunks does.
    """
    from ragflow_spark.extractlib.huqie import (fine_grained_tokenize,
                                                tokenize)

    joined = tiers.join(
        docs.select("doc_id", "name", "kb_id", "pagerank"), "doc_id"
    ).withColumn("id", chunk_id_col(F.col("content"), F.col("doc_id")))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"],
                # run_raptor wraps kb_id in a one-element list
                # (task_executor.py:448) — quirk kept
                "kb_id": [[str(k)] for k in pdf["kb_id"]],
                "docnm_kwd": pdf["name"],
                "title_tks": [tokenize(n) for n in pdf["name"]],
                "id": pdf["id"],
                "content_with_weight": pdf["content"],
                "content_ltks": [tokenize(c) for c in pdf["content"]],
                "vec": pdf["vec"],
                "pagerank": pdf["pagerank"],
            })
            out["content_sm_ltks"] = [
                fine_grained_tokenize(t) for t in out["content_ltks"]]
            yield out

    out = joined.mapInPandas(
        batches,
        schema=("doc_id long, kb_id array<string>, docnm_kwd string, "
                "title_tks string, id string, content_with_weight "
                "string, content_ltks string, vec array<double>, "
                "pagerank long, content_sm_ltks string"))
    return (out
            .withColumn("create_time", F.lit(create_time))
            .withColumn("create_timestamp_flt",
                        F.lit(float(create_timestamp)))
            .withColumn("pagerank_fea",
                        F.when(F.col("pagerank") != 0,
                               F.col("pagerank")))
            .drop("pagerank"))
