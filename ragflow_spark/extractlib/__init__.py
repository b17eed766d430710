"""Extraction core. No Spark imports here — this package is
imported both by unit tests (in-process) and inside pandas/Arrow UDF workers.

Byte-defining modules (the per-url extracted-text invariant lives here):
  codec      — find_codec equivalent (reference rag/nlp/__init__.py:53-71)
  dom        — minimal lxml-like DOM parsed by the system libxml2 2.9.14
  readability— Arc90 content scoring (readability-lxml 0.8.1 semantics,
               pinned at reference pyproject.toml:84)
  htmltext   — DOM -> text rendering (html-text 0.6.2 semantics, pinned at
               reference pyproject.toml:47)
  htmlparse  — RAGFlowHtmlParser equivalent (deepdoc/parser/html_parser.py)
  tokens     — deterministic token counter (documented substitute for
               tiktoken cl100k_base, reference rag/utils/__init__.py:78-89)
  xxh64      — pure-Python xxhash64 and its lazily imported Spark twin
               (chunk ids, task digests; rag/svr/task_executor.py:266)
  merge      — naive_merge / hierarchical_merge / bullets_category et al.
               (reference rag/nlp/__init__.py)
  templates  — naive / book / paper / one template chunkers (reference
               rag/app/{naive,book,paper,one}.py)
"""
