"""spark-deepdoc-extract — a from-scratch PySpark-native main-content
extraction engine with the document-understanding capabilities of RAGFlow's
deepdoc stack (reference: /root/reference, MichaelXcc/ragflow).

Layout:
  extractlib/  pure-Python byte-defining core (no Spark imports) — DOM,
               readability scoring, html-text rendering, codecs, tokenizer,
               chunk-merge policies, template chunkers.
  corpus/      deterministic synthetic Common-Crawl-style `pages` corpus
               builder (seeded from the driver testdata `documents` table).
  job/         Spark session config, mapInPandas extraction wrappers,
               skew salting, checkpoint/lineage.
  operators/   web-scale training-data ops (dedup, similarity, text stats).
"""

from ragflow_spark.job import pyworker

__version__ = "0.1.0"

# every UDF the package ships unpickles from it, so each Python worker
# stops re-reading unchanged zip archives at the start of every task
pyworker.install()
