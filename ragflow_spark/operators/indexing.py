"""Index-row assembly: the tail of the reference's task executor that
turns template-chunker output into search-store documents
(rag/svr/task_executor.py:217-298 ``build_chunks`` field assembly,
:384-425 ``embedding``).

``embed_chunks`` grafts the embedding fold exactly:

- the content side is ``"\\n".join(question_kwd)`` when questions exist
  else ``content_with_weight``, with ES table markup stripped
  (``</?(table|td|caption|tr|th)( [^<>]{0,12})?>`` → a space) and the
  literal ``"None"`` substituted for a fully-empty string
  (task_executor.py:391-397) — all JVM expressions;
- the title side replicates the FIRST chunk's encoded title to every
  chunk of the task (task_executor.py:400-402 encodes ``tts[0:1]`` and
  ``np.concatenate``-replicates it) — a window ``first()`` per doc, so
  a chunk with a divergent ``docnm_kwd`` still gets the first chunk's
  vector, quirk preserved;
- content text is token-truncated to ``max_length - 10``
  (task_executor.py:408) in one Arrow batch over the pinned counter;
- the fused vector is ``title_w * t + (1 - title_w) * c`` with
  ``title_w = parser_config["filename_embd_weight"]`` defaulting to 0.1
  (task_executor.py:416-418), a ``zip_with`` over the two arrays.

The encoder itself is the model seam: a ``Column -> Column`` function
producing ``array<double>``, so production drops in an Arrow-batched
pandas UDF over a real model while tests and oracles use a closed-form
JVM expression.  Nothing here shuffles — the only window is per-doc
``first()`` on the already doc-partitioned chunk stream — so the op is
map-side at any corpus size.

``index_rows`` grafts the build_chunks per-chunk field assembly
(task_executor.py:256-293): chunk id ``xxh64(content + str(doc_id))``
hexdigest (the column expression ``xxh64.chunk_id_col``, no Python
pass), ``create_time``/``create_timestamp_flt`` from an injectable clock
(the reference stamps ``datetime.now()``; wall clocks are parameters
here, SURVEY §10.1), ``img_id`` = ``"{kb_id}-{id}"`` for image-bearing
chunks else ``""``, and the ``pagerank_fea`` field added only when the
task carries a pagerank (settings.PAGERANK_FLD).  Image bytes themselves
go to blob storage in the reference (MinIO put) — that sink is out of
scope; the field contract is what matters downstream.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ragflow_spark.extractlib.tokens import truncate
from ragflow_spark.extractlib.xxh64 import chunk_id_col

_TABLE_TAG_RE = r"</?(table|td|caption|tr|th)( [^<>]{0,12})?>"


def prep_embed_inputs(chunks: DataFrame,
                      max_length: int = 512) -> DataFrame:
    """chunks + (title_src, content_src): the exact strings the
    reference hands the embedding model.

    ``chunks`` columns: doc_id, chunk_seq (order within the task),
    docnm_kwd (nullable), question_kwd (nullable array<string>),
    content_with_weight.
    """
    w = (Window.partitionBy("doc_id").orderBy("chunk_seq")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = F.concat_ws("\n", F.coalesce(F.col("question_kwd"),
                                     F.array()))
    c = F.when(c == "", F.col("content_with_weight")).otherwise(c)
    c = F.regexp_replace(c, _TABLE_TAG_RE, " ")
    c = F.when(c == "", "None").otherwise(c)
    prepped = chunks.withColumn(
        "title_src",
        F.first(F.coalesce(F.col("docnm_kwd"), F.lit("Title")))
        .over(w)).withColumn("content_src", c)

    budget = max_length - 10

    def trunc_batches(it: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["content_src"] = [truncate(s, budget)
                                  for s in pdf["content_src"]]
            yield pdf

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in prepped.schema.fields)
    return prepped.mapInPandas(trunc_batches, schema=fields)


def embed_chunks(chunks: DataFrame,
                 encode: Callable[[Column], Column],
                 title_w: float = 0.1,
                 max_length: int = 512) -> DataFrame:
    """chunks + q_vec: the reference's fused chunk embedding."""
    prepped = prep_embed_inputs(chunks, max_length=max_length)
    tvec = encode(F.col("title_src"))
    cvec = encode(F.col("content_src"))
    return prepped.withColumn(
        "q_vec",
        F.zip_with(tvec, cvec,
                   lambda t, c: F.lit(title_w) * t
                   + F.lit(1.0 - title_w) * c))


def index_rows(chunks: DataFrame, kb_id: str,
               pagerank: int = 0,
               create_time: str = "1970-01-01 00:00:00",
               create_timestamp: float = 0.0) -> DataFrame:
    """chunks → search-store rows with the reference's id/meta fields.

    ``chunks`` columns: doc_id, content_with_weight, image (nullable
    binary); all other columns pass through, as build_chunks'
    ``d.update(ck)`` does.
    """
    out = (chunks
           .withColumn("id", chunk_id_col(F.col("content_with_weight"),
                                          F.col("doc_id")))
           .withColumn("kb_id", F.lit(kb_id))
           .withColumn("create_time", F.lit(create_time))
           .withColumn("create_timestamp_flt",
                       F.lit(float(create_timestamp)))
           .withColumn(
               "img_id",
               # the reference gates on Python falsiness
               # (task_executor.py:270) — empty bytes count as no image
               F.when(F.col("image").isNotNull()
                      & (F.octet_length("image") > 0),
                      F.concat(F.lit(kb_id), F.lit("-"), F.col("id")))
               .otherwise(F.lit("")))
           .drop("image"))
    if pagerank:
        out = out.withColumn("pagerank_fea", F.lit(int(pagerank)))
    return out
