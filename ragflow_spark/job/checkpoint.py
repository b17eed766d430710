"""Per-partition checkpoint / lineage metadata for resumable extraction.

Mirrors the reference's resume machinery on Spark terms:

- **Config digest** — the reference keys completed work by
  ``xxh64(sorted(chunking_config) + doc_id + from_page + to_page)``
  (/root/reference/api/db/services/task_service.py:349-360) and reuses
  prior chunks when the digest matches (``reuse_prev_task_chunks``,
  task_service.py:389-420). Here the digest covers (template, parser
  config, pipeline version): change any knob and every bucket recomputes;
  keep them and a restart recomputes nothing.

- **Bucket** — the unit of checkpointing is a deterministic url hash
  bucket ``pmod(xxhash64(url), n_buckets)``, the Spark analog of the
  reference's page-range task (task_service.py:317-335): stable across
  runs and independent of physical partitioning, so resume semantics
  survive cluster resizes (N -> 4N executors sees identical buckets).

- **Lineage row** — one row per completed bucket per run:
  (run_id, digest, bucket, n_docs, n_chunks, n_bytes, wall_ms, wave,
  status, ts). The reference's analog is per-bulk progress checkpoints
  (task_executor.py:560-577, ``update_chunk_ids``).

Storage is a plain parquet directory (append-only, tiny: n_buckets rows
per full run). On a real deployment this is an Iceberg table and each
wave's output+lineage commit is a single atomic snapshot; parquet keeps
the sandbox dependency-free while the commit ordering (output first,
lineage last) preserves at-least-once safety: a crash between the two
re-extracts one wave into the same deterministic partition paths
(dynamic partition overwrite), never duplicating rows.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructType

from ragflow_spark.extractlib.xxh64 import jvm_class, xxh64_hexdigest

PIPELINE_VERSION = "1"

LINEAGE_SCHEMA = ("run_id string, digest string, bucket int, n_docs long, "
                  "n_chunks long, n_bytes long, wall_ms long, wave int, "
                  "status string, ts timestamp")


def config_digest(template: str, config: dict | None = None) -> str:
    """Deterministic digest of everything that changes output bytes
    (task_service.py:349-360 semantics: xxh64 over the sorted config)."""
    payload = json.dumps(
        {"template": template, "config": config or {},
         "version": PIPELINE_VERSION},
        sort_keys=True, ensure_ascii=False,
    )
    return xxh64_hexdigest(payload)


def bucket_sql(url_col: str = "url", n_buckets: int = 64) -> str:
    """Stable checkpoint bucket of a url column, as one SQL expression
    (one py4j call to build, where ``F.*`` calls make about a dozen
    each)."""
    return f"cast(pmod(xxhash64({url_col}), {n_buckets}) as int)"


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop ``FileSystem.exists``."""
    jpath = jvm_class("org.apache.hadoop.fs.Path")(path)
    return jpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()).exists(jpath)


def load_done_buckets(spark: SparkSession, ckpt_path: str,
                      digest: str) -> set[int]:
    """Buckets already extracted under this digest (resume anti-set).

    The checkpoint table is tiny (one row per bucket per run) — it is
    collected to the driver and becomes an IN-list filter, i.e. the
    'anti-join' never shuffles the 100 TB side. It is a data filter
    applied after the scan, which reads every row (ROADMAP direction 3).

    A first run has no checkpoint dir yet: one Hadoop ``exists`` call
    answers that (a failed read would plan and raise an
    ``AnalysisException`` first, about 65 ms of driver time).
    """
    if not _path_exists(spark, ckpt_path):
        return set()
    try:
        lineage = spark.read.parquet(ckpt_path)
    except AnalysisException as e:
        # a checkpoint dir with no files yet; any other error (an
        # unreadable file) must not recompute every bucket
        if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return set()
        raise
    rows = (
        lineage.where((F.col("digest") == digest) &
                      (F.col("status") == "ok"))
        .select("bucket").distinct().collect()
    )
    return {r["bucket"] for r in rows}


def append_lineage(spark: SparkSession, ckpt_path: str,
                   rows: list[dict]) -> None:
    """Append completed-bucket lineage rows (the commit point of a wave).

    The rows cross to the JVM as one Arrow batch of a pandas frame,
    typed by ``LINEAGE_SCHEMA``; ``ts`` is the commit's
    ``current_timestamp()``."""
    schema = StructType([f for f in StructType.fromDDL(LINEAGE_SCHEMA)
                         if f.name != "ts"])
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=schema.names), schema=schema,
    ).withColumn("ts", F.current_timestamp())
    df.coalesce(1).write.mode("append").parquet(ckpt_path)


def lineage_summary(spark: SparkSession, ckpt_path: str) -> DataFrame:
    """Per-digest rollup of the lineage table (ops metrics).

    ``wall_ms`` is a wave's wall time, stamped on each of its bucket
    rows, so it is summed once per (run_id, wave)."""
    lineage = spark.read.parquet(ckpt_path)
    wave = Window.partitionBy("digest", "status", "run_id", "wave")
    first_of_wave = F.row_number().over(wave.orderBy("bucket")) == 1
    return (
        lineage.withColumn("wave_ms",
                           F.when(first_of_wave, F.col("wall_ms")))
        .groupBy("digest", "status")
        .agg(F.countDistinct("bucket").alias("n_buckets"),
             F.sum("n_docs").alias("n_docs"),
             F.sum("n_chunks").alias("n_chunks"),
             F.sum("n_bytes").alias("n_bytes"),
             F.sum("wave_ms").alias("wall_ms"))
    )
