"""Task planning: the reference's document→task fan-out
(api/db/services/task_service.py:291-385 ``queue_tasks`` /
``new_task``) and its crash-resume chunk reuse
(task_service.py:389-433 ``reuse_prev_task_chunks``), re-expressed
relationally.

The reference builds the task list driver-side per document (a Python
loop over page ranges, one Redis message each).  Here the same rules
are a single ``explode(sequence(...))`` over the document table — the
fan-out itself is distributed, which is what makes the planner hold at
a 10^12-row corpus: no per-document driver work, no collect.

Split rules (task_service.py:312-346, defaults as shipped):

- PDF: ``page_size`` = parser_config ``task_page_size`` (12 default, 22
  for the paper template); the ``one``/``knowledge_graph`` templates or
  a non-DeepDOC layout setting collapse to one whole-document task
  (page_size 10^9).  The default page range (1, 10^5) clamps to
  [0, min(10^5 - 1, pages)); a zero-page PDF yields zero tasks, as the
  reference's empty ``range`` does.
- ``table`` template: 3000-row blocks over the sheet row count.
- everything else: one task spanning (0, 100000000).

Digests (task_service.py:349-360): xxh64 over ``str(value)`` of the
sorted chunking-config fields — with ``raptor``/``graphrag`` keys
removed from ``parser_config`` first — then doc_id/from_page/to_page.
The config prefix is per-job constant, so it is rendered once driver-side
byte-for-byte (Python ``str(dict)`` included); each row hashes it with
its tail in one column expression (``xxh64.xxh64_hex_col``), not Python.

Reuse (task_service.py:410-433): a new task adopts a previous task's
chunk ids when one exists with the same (from_page, digest) and that
task finished (progress >= 1) with non-empty chunk ids.  The
reference's first-match list scan with consumption
(``prev_task["chunk_ids"] = ""``) only differs from a plain join when
two live tasks share (from_page, digest) — impossible here, because
the digest covers doc_id and page bounds — so the join keeps the
reference's earliest-previous-row winner via a window and is otherwise
exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ragflow_spark.extractlib.xxh64 import xxh64_hex_col

WHOLE_DOC = 10 ** 9
DEFAULT_RANGE_END = 10 ** 5
TABLE_ROWS_PER_TASK = 3000


def plan_tasks(docs: DataFrame) -> DataFrame:
    """(doc_id, task_seq, from_page, to_page) for every document.

    ``docs`` columns: doc_id, file_type ('pdf'/...), parser_id,
    layout_recognize, task_page_size (nullable int — the parser_config
    override), pages (PDF page count), n_rows (table-template row
    count).
    """
    psize = F.coalesce(
        F.col("task_page_size"),
        F.when(F.col("parser_id") == "paper", F.lit(22))
        .otherwise(F.lit(12)))
    psize = F.when(
        F.col("parser_id").isin("one", "knowledge_graph") |
        (F.col("layout_recognize") != "DeepDOC"),
        F.lit(WHOLE_DOC)).otherwise(psize)

    pdf_end = F.least(F.lit(DEFAULT_RANGE_END - 1), F.col("pages"))
    pdf = (docs.where(F.col("file_type") == "pdf")
           .where(pdf_end > 0)
           .select("doc_id",
                   F.explode(
                       F.sequence(F.lit(0), pdf_end - 1, psize))
                   .alias("from_page"),
                   pdf_end.alias("end"), psize.alias("psize"))
           .select("doc_id", "from_page",
                   F.least(F.col("from_page") + F.col("psize"),
                           F.col("end")).alias("to_page")))

    tbl = (docs.where((F.col("file_type") != "pdf") &
                      (F.col("parser_id") == "table"))
           .where(F.col("n_rows") > 0)
           .select("doc_id",
                   F.explode(
                       F.sequence(F.lit(0), F.col("n_rows") - 1,
                                  F.lit(TABLE_ROWS_PER_TASK)))
                   .alias("from_page"),
                   F.col("n_rows").alias("end"))
           .select("doc_id", "from_page",
                   F.least(F.col("from_page") + TABLE_ROWS_PER_TASK,
                           F.col("end")).alias("to_page")))

    other = (docs.where((F.col("file_type") != "pdf") &
                        (F.col("parser_id") != "table"))
             .select("doc_id", F.lit(0).alias("from_page"),
                     F.lit(100000000).alias("to_page")))

    return (pdf.unionByName(tbl).unionByName(other)
            .withColumn(
                "task_seq",
                F.row_number().over(
                    Window.partitionBy("doc_id")
                    .orderBy("from_page")) - 1)
            .select("doc_id", "task_seq", "from_page", "to_page"))


def config_prefix(chunking_config: dict) -> bytes:
    """The per-job digest prefix: str(value) of each sorted field,
    raptor/graphrag stripped from parser_config
    (task_service.py:349-356)."""
    cfg = dict(chunking_config)
    if "parser_config" in cfg:
        pc = dict(cfg["parser_config"])
        for k in ("raptor", "graphrag"):
            pc.pop(k, None)
        cfg["parser_config"] = pc
    return b"".join(str(cfg[f]).encode("utf-8") for f in sorted(cfg))


def add_task_digests(tasks: DataFrame,
                     chunking_config: dict) -> DataFrame:
    """tasks + the reference's per-task xxh64 hexdigest column."""
    tail = [F.col(c).cast("string").cast("binary")
            for c in ("doc_id", "from_page", "to_page")]
    return tasks.withColumn("digest", xxh64_hex_col(
        F.concat(F.lit(config_prefix(chunking_config)), *tail)))


def reuse_prev_chunks(tasks: DataFrame,
                      prev_tasks: DataFrame) -> DataFrame:
    """tasks + (chunk_ids, reused) adopted from finished previous tasks.

    ``prev_tasks`` columns: prev_seq (list order), from_page, digest,
    progress, chunk_ids (space-separated string, '' for none).  A new
    task reuses the earliest previous row matching (from_page, digest)
    iff that row has progress >= 1.0 and non-empty chunk_ids
    (task_service.py:410-423).
    """
    first_prev = (prev_tasks
                  .withColumn(
                      "rn",
                      F.row_number().over(
                          Window.partitionBy("from_page", "digest")
                          .orderBy("prev_seq")))
                  .where(F.col("rn") == 1))
    eligible = F.when(
        (F.col("progress") >= 1.0) &
        (F.col("chunk_ids").isNotNull()) & (F.col("chunk_ids") != ""),
        F.col("chunk_ids"))
    return (tasks.join(
                first_prev.select("from_page", "digest",
                                  eligible.alias("prev_chunk_ids")),
                ["from_page", "digest"], "left")
            .withColumn("reused", F.col("prev_chunk_ids").isNotNull())
            .withColumn(
                "n_reused_chunks",
                # the reference counts with str.split() — whitespace
                # runs collapse, all-space strings count zero
                F.when(F.col("reused")
                       & (F.trim(F.col("prev_chunk_ids")) != ""),
                       F.size(F.split(
                           F.trim(F.col("prev_chunk_ids")), r"\s+")))
                .otherwise(F.lit(0)))
            .withColumnRenamed("prev_chunk_ids", "chunk_ids"))


def doc_progress(tasks: DataFrame, doc_flags: DataFrame) -> DataFrame:
    """The monitor's per-document progress rollup
    (api/db/services/document_service.py:387-433 ``update_progress``),
    one aggregation instead of a driver loop over unfinished docs:

    - ``finished`` = no task still in [0, 1); ``bad`` counts -1 tasks;
      progress averages non-negative task progress over ALL tasks;
    - finished + any bad → progress -1, status FAIL ('4');
    - finished + use_raptor without a raptor task → a follow-up task
      is due (``next_task`` = 'raptor') and progress snaps to
      0.98 * n/(n+1); same for graphrag, raptor checked first;
    - otherwise finished → DONE ('3'), else still RUNNING ('1') (the
      reference passes the doc's current run state through here; the
      monitored set is by construction running docs, so '1' is that
      state);
    - the progress message is the per-task messages SORTED and
      newline-joined (the reference sorts, so task order is moot).

    ``tasks``: (doc_id, progress, progress_msg, task_type, priority).
    ``doc_flags``: (doc_id, use_raptor, use_graphrag).
    """
    agg = tasks.groupBy("doc_id").agg(
        F.count("*").alias("_n"),
        F.max(F.when((F.col("progress") >= 0)
                     & (F.col("progress") < 1), 1).otherwise(0))
        .alias("_unfinished"),
        F.sum(F.when(F.col("progress") == -1, 1).otherwise(0))
        .alias("_bad"),
        F.sum(F.when(F.col("progress") >= 0, F.col("progress"))
              .otherwise(0.0)).alias("_prg_sum"),
        F.max(F.when(F.col("task_type") == "raptor", 1).otherwise(0))
        .alias("_has_raptor"),
        F.max(F.when(F.col("task_type") == "graphrag", 1).otherwise(0))
        .alias("_has_graphrag"),
        F.max("priority").alias("priority"),
        F.array_join(F.array_sort(F.collect_list("progress_msg")),
                     "\n").alias("msg"))
    j = agg.join(doc_flags, "doc_id")
    finished = F.col("_unfinished") == 0
    snap = 0.98 * F.col("_n") / (F.col("_n") + 1)
    next_task = (
        F.when(~finished | (F.col("_bad") > 0), F.lit(None))
        .when(F.col("use_raptor") & (F.col("_has_raptor") == 0),
              F.lit("raptor"))
        .when(F.col("use_graphrag") & (F.col("_has_graphrag") == 0),
              F.lit("graphrag")))
    progress = (
        F.when(finished & (F.col("_bad") > 0), F.lit(-1.0))
        .when(next_task.isNotNull(), snap)
        .otherwise(F.col("_prg_sum") / F.col("_n")))
    status = (
        F.when(finished & (F.col("_bad") > 0), F.lit("4"))
        .when(finished & next_task.isNull(), F.lit("3"))
        .otherwise(F.lit("1")))
    return j.select("doc_id", progress.alias("progress"),
                    status.alias("status"), next_task.alias("next_task"),
                    "priority", "msg")
