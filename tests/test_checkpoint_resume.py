"""Resume guarantee (north rule): kill mid-job, restart, no recompute of
completed buckets, byte-identical final tables (SURVEY.md §5.2 item 4)."""

import glob

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
N_BUCKETS = 16
WAVES = 4


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from ragflow_spark.corpus.gen import build_pages

    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    build_pages(spark, SF).write.parquet(path)
    return path


def _collect_extracted(spark, out_dir):
    return sorted(
        (r.url, r.extracted_text)
        for r in spark.read.parquet(f"{out_dir}/extracted")
        .select("url", "extracted_text").collect()
    )


def test_config_digest_stability():
    from ragflow_spark.job.checkpoint import config_digest

    assert config_digest("naive", {"a": 1, "b": 2}) == \
        config_digest("naive", {"b": 2, "a": 1})
    assert config_digest("naive") != config_digest("book")


def test_crash_resume_no_recompute_byte_identical(spark, pages_path,
                                                  tmp_path):
    from ragflow_spark.job.run_extract import run_job

    out_crash = str(tmp_path / "out_crash")
    out_clean = str(tmp_path / "out_clean")

    # reference run: single shot, no failure
    run_job(spark, pages_path, out_clean, n_buckets=N_BUCKETS, waves=WAVES)

    # crashing run: waves 0 and 1 commit, then the job dies
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, pages_path, out_crash, n_buckets=N_BUCKETS,
                waves=WAVES, run_id="run1", fail_after_wave=1)

    lineage1 = spark.read.parquet(f"{out_crash}/_checkpoint")
    done1 = {r.bucket for r in lineage1.select("bucket").collect()}
    assert 0 < len(done1) < N_BUCKETS

    # restart: only the remaining buckets run
    summary = run_job(spark, pages_path, out_crash, n_buckets=N_BUCKETS,
                      waves=WAVES, run_id="run2")
    assert summary["buckets_done_prior"] == len(done1)
    assert summary["buckets_run"] == N_BUCKETS - len(done1)

    lineage = spark.read.parquet(f"{out_crash}/_checkpoint")
    # no bucket recomputed: exactly one lineage row per bucket
    per_bucket = dict(
        lineage.groupBy("bucket").count().collect()
    )
    assert set(per_bucket) == set(range(N_BUCKETS))
    assert all(c == 1 for c in per_bucket.values())
    # run1's buckets were NOT re-extracted by run2
    run2_buckets = {r.bucket for r in
                    lineage.where(F.col("run_id") == "run2").collect()}
    assert run2_buckets.isdisjoint(done1)

    # final tables byte-identical to the clean single-shot run
    assert _collect_extracted(spark, out_crash) == \
        _collect_extracted(spark, out_clean)
    n_chunks_crash = spark.read.parquet(f"{out_crash}/chunks").count()
    n_chunks_clean = spark.read.parquet(f"{out_clean}/chunks").count()
    assert n_chunks_crash == n_chunks_clean


def test_rerun_after_completion_is_noop(spark, pages_path, tmp_path):
    from ragflow_spark.job.run_extract import run_job

    out = str(tmp_path / "out")
    run_job(spark, pages_path, out, n_buckets=N_BUCKETS, waves=WAVES)
    summary = run_job(spark, pages_path, out, n_buckets=N_BUCKETS,
                      waves=WAVES)
    assert summary["buckets_run"] == 0
    assert summary["waves"] == 0


def test_digest_change_recomputes(spark, pages_path, tmp_path):
    from ragflow_spark.job.run_extract import run_job

    out = str(tmp_path / "out")
    run_job(spark, pages_path, out, template="naive",
            n_buckets=N_BUCKETS, waves=2)
    summary = run_job(spark, pages_path, out, template="book",
                      n_buckets=N_BUCKETS, waves=2)
    # different template -> different digest -> full recompute
    assert summary["buckets_run"] == N_BUCKETS


def test_lineage_metrics_cover_all_docs(spark, pages_path, tmp_path):
    from ragflow_spark.job.checkpoint import lineage_summary
    from ragflow_spark.job.run_extract import run_job

    out = str(tmp_path / "out")
    run_job(spark, pages_path, out, n_buckets=N_BUCKETS, waves=WAVES,
            repartition=8)
    n_pages = spark.read.parquet(pages_path).count()
    summ = lineage_summary(spark, f"{out}/_checkpoint").collect()
    assert len(summ) == 1 and summ[0].status == "ok"
    assert summ[0].n_docs == n_pages
    assert summ[0].n_bytes > 0 and summ[0].n_chunks > 0


def _committed_counts(spark, out_dir):
    """bucket -> (n_docs, n_chunks, n_bytes) of the files under
    extracted/ and chunks/; an empty or missing chunks/ counts 0."""
    counts = {}
    for r in spark.read.parquet(f"{out_dir}/extracted").collect():
        n_docs, n_chunks, n_bytes = counts.get(r.bucket, (0, 0, 0))
        counts[r.bucket] = (n_docs + 1, n_chunks,
                            n_bytes + len(r.extracted_text.encode()))
    if not glob.glob(f"{out_dir}/chunks/bucket=*/part-*"):
        return counts
    for r in spark.read.parquet(f"{out_dir}/chunks").select(
            "bucket").collect():
        n_docs, n_chunks, n_bytes = counts.get(r.bucket, (0, 0, 0))
        counts[r.bucket] = (n_docs, n_chunks + 1, n_bytes)
    return counts


def _assert_lineage_matches_committed(spark, out_dir):
    from pyspark.sql.types import StructType

    from ragflow_spark.job.checkpoint import LINEAGE_SCHEMA

    lineage = spark.read.parquet(f"{out_dir}/_checkpoint")
    assert lineage.schema == StructType.fromDDL(LINEAGE_SCHEMA)
    rows = lineage.collect()
    assert sorted(r.bucket for r in rows) == list(range(N_BUCKETS))
    assert all(r.ts is not None for r in rows)
    counts = _committed_counts(spark, out_dir)
    for r in rows:
        assert (r.n_docs, r.n_chunks, r.n_bytes) == \
            counts.get(r.bucket, (0, 0, 0)), r.bucket


@pytest.fixture
def arrow_no_fallback(spark):
    """Arrow conversions that cannot run raise instead of silently
    taking the pickled-row path."""
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def test_lineage_rows_equal_committed_counts(spark, pages_path, tmp_path,
                                             arrow_no_fallback):
    from ragflow_spark.job.run_extract import run_job

    out = str(tmp_path / "out")
    run_job(spark, pages_path, out, n_buckets=N_BUCKETS, waves=WAVES)
    _assert_lineage_matches_committed(spark, out)

    out_crash = str(tmp_path / "out_crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, pages_path, out_crash, n_buckets=N_BUCKETS,
                waves=WAVES, run_id="run1", fail_after_wave=1)
    run_job(spark, pages_path, out_crash, n_buckets=N_BUCKETS,
            waves=WAVES, run_id="run2")
    _assert_lineage_matches_committed(spark, out_crash)


@pytest.mark.parametrize("index", [False, True])
def test_one_python_pass_per_wave(spark, pages_path, tmp_path,
                                  monkeypatch, index):
    """Each wave parses and chunks its documents in one mapInPandas pass
    and persists one frame, which feeds every table and the metrics;
    the chunk ids of chunks/ and index/ are column expressions."""
    from ragflow_spark.job.run_extract import run_job

    # the session's concrete DataFrame class overrides the base methods
    cls = type(spark.range(0))
    calls = {"mapInPandas": 0, "persist": 0}
    for name in calls:
        def counting(self, *args, _real=getattr(cls, name), _name=name,
                     **kwargs):
            calls[_name] += 1
            return _real(self, *args, **kwargs)
        monkeypatch.setattr(cls, name, counting)
    summary = run_job(spark, pages_path, str(tmp_path / "out"),
                      n_buckets=N_BUCKETS, waves=2, index=index)
    assert summary["waves"] == 2
    assert calls == {"mapInPandas": 2, "persist": 2}


def test_lineage_summary_counts_wave_wall_once(spark, tmp_path):
    from ragflow_spark.job.checkpoint import append_lineage, lineage_summary

    ckpt = str(tmp_path / "_checkpoint")
    # 16 buckets over 4 waves; each wave stamps its wall on 4 rows
    for wave in range(4):
        append_lineage(spark, ckpt, [
            {"run_id": "r", "digest": "d", "bucket": b, "n_docs": 1,
             "n_chunks": 2, "n_bytes": 3, "wall_ms": 100 * (wave + 1),
             "wave": wave, "status": "ok"}
            for b in range(wave, 16, 4)])
    (summ,) = lineage_summary(spark, ckpt).collect()
    assert (summ.n_buckets, summ.n_docs, summ.n_chunks, summ.n_bytes) == \
        (16, 16, 32, 48)
    assert summ.wall_ms == 100 + 200 + 300 + 400


def test_failed_wave_leaks_no_cached_blocks(spark, pages_path, tmp_path):
    from ragflow_spark.job.run_extract import run_job

    out = tmp_path / "out"
    out.mkdir()
    (out / "chunks").write_text("not a directory")  # the chunk write fails
    spark.catalog.clearCache()
    with pytest.raises(Exception):
        run_job(spark, pages_path, str(out), n_buckets=N_BUCKETS,
                waves=WAVES)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_failed_concurrent_write_commits_nothing(spark, pages_path,
                                                 tmp_path):
    """The extracted/ write fails while chunks/ and the metrics run
    beside it: the wave raises after every step has ended, commits no
    lineage row and leaks no cached blocks, and a resumed run writes the
    tables of a clean run."""
    from test_template_digests import _digest

    from ragflow_spark.job.run_extract import run_job

    out = tmp_path / "out"
    out.mkdir()
    (out / "extracted").write_text("not a directory")
    spark.catalog.clearCache()
    with pytest.raises(Exception):
        run_job(spark, pages_path, str(out), n_buckets=N_BUCKETS,
                waves=WAVES)
    assert not glob.glob(f"{out}/_checkpoint/*.parquet")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    (out / "extracted").unlink()
    run_job(spark, pages_path, str(out), n_buckets=N_BUCKETS, waves=WAVES)
    clean = str(tmp_path / "clean")
    run_job(spark, pages_path, clean, n_buckets=N_BUCKETS, waves=WAVES)
    per_run = ("run_id", "wall_ms", "ts")
    for table, drop in (("extracted", ()), ("chunks", ()),
                        ("_checkpoint", per_run)):
        assert _digest(spark, f"{out}/{table}", drop) == \
            _digest(spark, f"{clean}/{table}", drop), table


def test_wave_jobs_carry_caller_job_group(spark, pages_path, tmp_path):
    """The jobs a wave starts on its own driver threads carry the
    caller's local properties (job group, tracing) like the rest."""
    from ragflow_spark.job.run_extract import run_job

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("wave-jobs", "every job of run_job")
    try:
        run_job(spark, pages_path, str(tmp_path / "out"),
                n_buckets=N_BUCKETS, waves=2, index=True)
        assert set(tracker.getJobIdsForGroup(None)) == ungrouped
        assert tracker.getJobIdsForGroup("wave-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_index_stage_rows(spark, pages_path, tmp_path):
    """--index writes search-store rows whose ids are the reference
    xxh64(content + doc_id) over the committed chunk files."""
    from ragflow_spark.extractlib.xxh64 import xxh64_hexdigest
    from ragflow_spark.job.run_extract import run_job

    out = str(tmp_path / "out_idx")
    run_job(spark, pages_path, out,
            n_buckets=4, waves=2, index=True, kb_id="kb9")
    idx = spark.read.parquet(f"{out}/index")
    rows = idx.collect()
    assert rows
    chunks = {(r["url"], r["chunk_seq"]): r["chunk_text"]
              for r in spark.read.parquet(f"{out}/chunks").collect()}
    assert len(rows) == len(chunks)
    for r in rows[:20]:
        text = chunks[(r["doc_id"], r["chunk_seq"])]
        assert r["content_with_weight"] == text
        assert r["id"] == xxh64_hexdigest(
            (text + r["doc_id"]).encode("utf-8"))
        assert r["kb_id"] == "kb9" and r["img_id"] == ""


def _data_files(table_dir):
    return [f for f in table_dir.glob("bucket=*/*")
            if f.name.startswith("part-")]


@pytest.mark.parametrize("waves", [1, 4])
def test_each_wave_writes_few_files_per_table(spark, pages_path, tmp_path,
                                              waves):
    """Rows are range-clustered on (bucket, key) before each partitioned
    write, so a wave writes at most |wave| + parallelism - 1 files per
    table, not one per bucket per scan task."""
    from ragflow_spark.job.run_extract import _wave_groups, run_job

    out = tmp_path / "out"
    run_job(spark, pages_path, str(out), n_buckets=N_BUCKETS, waves=waves,
            index=True)
    par = spark.sparkContext.defaultParallelism
    bound = sum(len(w) + par - 1
                for w in _wave_groups(list(range(N_BUCKETS)), waves))
    for table in ("extracted", "chunks", "index"):
        n_files = len(_data_files(out / table))
        assert 0 < n_files <= bound, (table, n_files, bound)


def test_unknown_template_rejected_before_any_job(spark, pages_path,
                                                  tmp_path):
    from ragflow_spark.job.extract import chunk_pages
    from ragflow_spark.job.run_extract import run_job

    out = tmp_path / "out"
    pages = spark.read.parquet(pages_path)
    sc = spark.sparkContext
    sc.setJobGroup("bogus-template", "must stay empty")
    try:
        with pytest.raises(ValueError, match="bogus"):
            run_job(spark, pages_path, str(out), template="bogus",
                    n_buckets=N_BUCKETS, waves=WAVES)
        with pytest.raises(ValueError, match="bogus"):
            chunk_pages(pages, "bogus")
        assert sc.statusTracker().getJobIdsForGroup("bogus-template") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # no extracted/, chunks/ or lineage row
    assert not out.exists()


def test_unreadable_checkpoint_raises_before_any_write(spark, pages_path,
                                                       tmp_path):
    """A corrupt lineage file is an error, not "nothing done yet": a
    silent full recompute would append a second lineage row per bucket
    on every later run."""
    from ragflow_spark.job.run_extract import run_job

    out = tmp_path / "out"
    (out / "_checkpoint").mkdir(parents=True)
    (out / "_checkpoint" / "part-00000.parquet").write_bytes(
        b"not a parquet file")
    with pytest.raises(Exception, match="is not a Parquet file"):
        run_job(spark, pages_path, str(out), n_buckets=N_BUCKETS,
                waves=WAVES)
    assert not (out / "extracted").exists()


def test_empty_checkpoint_dir_runs_every_bucket(spark, pages_path,
                                                tmp_path):
    from ragflow_spark.job.run_extract import run_job

    out = tmp_path / "out"
    (out / "_checkpoint").mkdir(parents=True)
    summary = run_job(spark, pages_path, str(out), n_buckets=N_BUCKETS,
                      waves=WAVES)
    assert summary["buckets_done_prior"] == 0
    assert summary["buckets_run"] == N_BUCKETS
