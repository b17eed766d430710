"""spark-submit entry point: resumable batch extraction over a pages table.

Usage (cluster):

    python tools/make_pyfiles.py          # -> dist/pipeline.zip
    spark-submit --py-files dist/pipeline.zip \\
        ragflow_spark/job/run_extract.py \\
        --input  /data/pages              # parquet/iceberg dir, input_hint schema
        --output /data/out                # writes extracted/ chunks/ _checkpoint/
        --template naive --buckets 64 --waves 8

Executors need the system libxml2 2.9.14 (``libxml2.so.2``, the library
lxml links for the reference): ``extractlib.dom`` parses HTML with it
and refuses to import with any other version.

Execution shape per wave (SURVEY.md §4.2):

    Scan(pages) --filter bucket IN wave--> [salted Repartition]
      -> MapInPandas(extract) -> persist    (the one Python pass: one
                                             parse, chunks as an array)
         concurrently, one driver thread each:
           -> one per-bucket agg and collect (the rows written beside it)
           -> drop chunks      -> range-cluster on (bucket, url)
                               -> write extracted/ (partitioned by bucket,
                                  dynamic partition overwrite = idempotent)
           -> inline(chunks)   -> range-cluster on (bucket, url)
                               -> write chunks/   (same)
           -> [index rows      -> write index/    (same; index=True)]
      -> every step ended -> unpersist
      -> every step succeeded -> append lineage rows (commit point)

The outputs read the same persisted frame and do not depend on each
other, so they run as concurrent Spark jobs: one step's driver-side
planning and commit overlap another's tasks. Lineage still comes last,
so a wave whose outputs are not all written never counts as done.

The range-cluster step gives each write task a contiguous run of
(bucket, key) rows, so a table gets at most |wave| + parallelism - 1
files per wave instead of one file per bucket per scan task. Each
output file has a fixed cost (about 13 ms on a local filesystem), which
dominates the commit once pages are small. It reads the persisted
frame, so neither its range sample nor its shuffle re-runs a parser.

Resume: completed (digest, bucket) pairs are loaded from the lineage
table and filtered out of the scan — no recompute, byte-identical final
tables (tests/test_checkpoint_resume.py proves both).
"""

from __future__ import annotations

import argparse
import json
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from ragflow_spark.job import checkpoint as ck, extract as ex
from ragflow_spark.job.salting import salted_repartition


def _wave_groups(buckets: list[int], waves: int) -> list[list[int]]:
    waves = max(1, min(waves, len(buckets)))
    return [buckets[i::waves] for i in range(waves)]


def _clustered(df: DataFrame, key: str) -> DataFrame:
    """``df`` range-partitioned on (bucket, ``key``) into
    ``defaultParallelism`` tasks: a bucket's rows land in as few tasks as
    possible, and a large bucket is still split across tasks. (A hash on
    bucket alone would leave only |wave| writer tasks when a wave holds
    fewer buckets than cores.)"""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n, "bucket", key)


def _write_partitioned(df: DataFrame, path: str) -> None:
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("bucket")
       .parquet(path))


@contextmanager
def _persisted(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` persisted for the block, unpersisted however it exits (a
    failed wave must not leak cached blocks)."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def _index_frame(chunks: DataFrame, kb_id: str, create_time: str,
                 create_timestamp: float) -> DataFrame:
    """Search-store rows (build_chunks field assembly,
    rag/svr/task_executor.py:256-293) of ``inline_chunks`` rows,
    range-clustered on (bucket, doc_id); embedding is a model seam the
    cluster job adds via indexing.embed_chunks(encode=<pandas UDF>)."""
    from ragflow_spark.operators.indexing import index_rows

    return index_rows(
        _clustered(chunks.select(
            F.col("url").alias("doc_id"),
            F.col("chunk_text").alias("content_with_weight"),
            F.lit(None).cast("binary").alias("image"),
            "chunk_seq", "bucket"), "doc_id"),
        kb_id, create_time=create_time, create_timestamp=create_timestamp)


def _run_concurrently(spark: SparkSession, steps: list[Callable]) -> list:
    """Run each step on its own driver thread; returns their results in
    order once every step has ended, or re-raises the first error.

    Each step is wrapped on its own, so its thread starts with a copy of
    the caller's local properties (job group, tracing): one wrapper for
    several steps would share one ``Properties`` object, into which Spark
    writes each query's ``spark.sql.execution.id``."""
    with ThreadPoolExecutor(max_workers=len(steps)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(step))
                   for step in steps]
    return [f.result() for f in futures]


def run_job(spark: SparkSession, input_path: str, output_dir: str,
            template: str = "naive", n_buckets: int = 64, waves: int = 8,
            resume: bool = True, salt_buckets: int = 8,
            repartition: int | None = None, run_id: str | None = None,
            fail_after_wave: int | None = None,
            index: bool = False, kb_id: str = "kb",
            input_format: str = "parquet",
            index_clock: float | None = None) -> dict:
    """Run the extraction job; returns a summary dict.

    ``fail_after_wave`` injects a crash after the k-th wave commits
    (test hook for the resume guarantee).
    """
    ex.check_template(template)
    run_id = run_id or f"run-{int(time.time() * 1000):x}"
    # one job-level index timestamp (injectable): a per-wave wall
    # clock would re-stamp replayed buckets on resume, leaving one
    # output dir mixing create_time values across waves/retries
    if index_clock is None:
        index_clock = time.time()
    index_create_time = time.strftime("%Y-%m-%d %H:%M:%S",
                                      time.localtime(index_clock))
    digest = ck.config_digest(template, {"n_buckets": n_buckets})
    ckpt_path = f"{output_dir}/_checkpoint"
    extracted_path = f"{output_dir}/extracted"
    chunks_path = f"{output_dir}/chunks"

    done = ck.load_done_buckets(spark, ckpt_path, digest) if resume else set()
    todo = [b for b in range(n_buckets) if b not in done]
    summary = {"run_id": run_id, "digest": digest,
               "buckets_done_prior": len(done), "buckets_run": len(todo),
               "waves": 0, "n_docs": 0, "n_chunks": 0}
    if not todo:
        return summary

    # input_format="iceberg" reads a catalog table name instead of a
    # parquet dir — same scan contract (url/html column pruning; the wave
    # filter is a data filter after the scan, ROADMAP direction 3); the
    # sandbox has no Iceberg runtime, so tests exercise the parquet path
    pages = spark.read.format(input_format).load(input_path)
    bucket = ck.bucket_sql("url", n_buckets)

    for wave_idx, wave in enumerate(_wave_groups(todo, waves)):
        t0 = time.perf_counter()
        # one SQL string is one py4j call; isin() makes several per
        # bucket, for the same INSET filter
        sub = pages.where(F.expr(f"{bucket} IN ({', '.join(map(str, wave))})"))
        if repartition:
            sub = salted_repartition(sub, num_partitions=repartition,
                                     salt_buckets=salt_buckets)
        # one Python pass per document feeds every output; bucket is
        # re-derived from url (cheaper than threading a passthrough
        # column through the Arrow UDF)
        docs = (ex.extract_documents(sub, template)
                .withColumn("bucket", F.expr(bucket)))
        with _persisted(docs) as docs:
            # each step plans its own frame on its own thread, so the
            # first job starts while the others are still being planned
            def metrics():
                # one Spark aggregate over the persisted rows the writes
                # consume, so exact under stage retries (unlike
                # accumulators)
                return docs.groupBy("bucket").agg(
                    F.count("*").alias("n_docs"),
                    F.sum(F.size("chunks")).alias("n_chunks"),
                    F.sum(F.octet_length("extracted_text"))
                    .alias("n_bytes")).collect()

            def write_extracted():
                _write_partitioned(_clustered(docs.drop("chunks"), "url"),
                                   extracted_path)

            def write_chunks():
                _write_partitioned(_clustered(
                    ex.inline_chunks(docs, template, "bucket"), "url"),
                    chunks_path)

            def write_index():
                _write_partitioned(_index_frame(
                    ex.inline_chunks(docs, template, "bucket"), kb_id,
                    index_create_time, index_clock), f"{output_dir}/index")

            steps = [metrics, write_extracted, write_chunks]
            if index:
                steps.append(write_index)
            met = {r["bucket"]: r
                   for r in _run_concurrently(spark, steps)[0]}
            wall_ms = int((time.perf_counter() - t0) * 1000)
        rows = []
        for b in wave:
            m = met.get(b)
            rows.append({
                "run_id": run_id, "digest": digest, "bucket": b,
                "n_docs": m["n_docs"] if m else 0,
                "n_chunks": m["n_chunks"] if m else 0,
                "n_bytes": m["n_bytes"] if m else 0,
                "wall_ms": wall_ms, "wave": wave_idx, "status": "ok",
            })
        ck.append_lineage(spark, ckpt_path, rows)
        summary["waves"] += 1
        summary["n_docs"] += sum(r["n_docs"] for r in rows)
        summary["n_chunks"] += sum(r["n_chunks"] for r in rows)

        if fail_after_wave is not None and wave_idx >= fail_after_wave:
            raise RuntimeError(
                f"injected failure after wave {wave_idx} ({run_id})")
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--template", default="naive",
                    choices=ex.TEMPLATES)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument("--salt-buckets", type=int, default=8)
    ap.add_argument("--repartition", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--index", action="store_true",
                    help="also write search-store rows to index/")
    ap.add_argument("--kb-id", default="kb")
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "iceberg"],
                    help="iceberg: --input is a catalog table name")
    args = ap.parse_args()

    from ragflow_spark.job.session import get_spark
    spark = get_spark(app="deepdoc-extract")
    summary = run_job(
        spark, args.input, args.output, template=args.template,
        n_buckets=args.buckets, waves=args.waves,
        resume=not args.no_resume, salt_buckets=args.salt_buckets,
        repartition=args.repartition, index=args.index,
        kb_id=args.kb_id, input_format=args.input_format,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
