"""The repository benchmark: ``run_job`` end to end on one workload.

    python3 perfbench/run.py --workload web_small --seed 1 --seconds 20 \\
        --trace 0

Run from the root of a checkout. One invocation starts a local Spark
session, builds the workload's inputs from ``--seed``, then repeats
``ragflow_spark.job.run_extract.run_job`` on them (a fresh output
directory each time): one warm-up repetition, then at least three
measured ones and more until ``--seconds`` have been measured. Every
repetition's committed ``extracted/`` and ``chunks/`` rows are checked
before the next starts. The last stdout
line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the host labels and per-repetition figures.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` starts the
Python workers through ``perfbench.tracedaemon``, alternates traced and
untraced repetitions and reports the per-layer metrics (see
``perfbench/README.md`` for what each one is and what it should move).

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, procs  # noqa: E402

# Job shape of every run_job call. Each wave costs about 4 s of Spark
# jobs and commits on a 4-CPU host whatever its size, so the default 8
# waves would not fit a run: a repetition is one wave, which still runs
# the whole commit path (partitioned writes, lineage append). The
# crash-and-resume case runs 2, so that a crash can fall between them.
TEMPLATE = "naive"
N_BUCKETS = 64
WAVES = 1
CRASH_WAVES = 2
# measured repetitions per run at least, whatever --seconds says: the
# metrics are their medians, and repetitions of one run differ by up to
# a third on a shared host, so a median of two would follow a slow one
MIN_REPS = 3
JVM_HEAP = "1g"
EXPECTED = os.path.join(ROOT, "perfbench", "expected.json")

# Seeded documents per input; the pinned ones (perfbench/corpus.py) come
# on top.
# web_small: ~600 B pages, so per-document kernel time is small and
# wave, Arrow boundary and commit overhead dominate. After the measured
# repetitions of a traced run, one crash after wave 0 and a resumed
# run_job exercise the checkpoint read path and partition overwrite.
WEB_SMALL_DOCS = 1000
# large_mixed: 20-120 KB realistic pages and generated papers, about
# half of the kernel time each: DOM, readability, merge, xxh64 and the
# PDF stages take the kernel time
LARGE_MIXED_PAGES = 16
LARGE_MIXED_PAPERS = 136
WORKLOADS = ("web_small", "large_mixed")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile (0 for no samples)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


# ---------------------------------------------------------------------------
# Session and environment
# ---------------------------------------------------------------------------

def _prepare_env(work: str, traced: bool) -> None:
    """Keep every file the JVM and the workers write under ``work``; must
    run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        # A fixed, pre-touched heap: JVM heap growth is up to the
        # garbage collector, and would make peak memory differ by
        # gigabytes between identical runs. The JIT stops at C1: C2
        # is still compiling Spark's hot paths after four run_job
        # calls, so each repetition ran faster than the last and its
        # compiler threads added several CPU seconds to each. Neither is
        # how the program ships; perfbench/README.md has C1 and C2
        # figures, and peak_rss_mb cannot show JVM heap growth.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{JVM_HEAP} -XX:+AlwaysPreTouch "
            f"-XX:TieredStopAtLevel=1",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf["spark.python.daemon.module"] = "perfbench.tracedaemon"
        os.environ["PERFBENCH_TRACE_DIR"] = os.path.join(work, "trace")
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procs.reap_tree(os.getpid())


# ---------------------------------------------------------------------------
# Output digests
# ---------------------------------------------------------------------------

def _rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq
    if not os.path.isdir(path):
        return []
    return pq.read_table(path, partitioning="hive").to_pylist()


def _canon(row: dict) -> str:
    return json.dumps(row, sort_keys=True, ensure_ascii=False, default=str)


def url_digests(out_dir: str) -> dict[str, str]:
    """url -> sha256 over its extracted row and its chunk rows, sorted."""
    per: dict[str, list[str]] = {}
    for r in _rows(os.path.join(out_dir, "extracted")):
        per.setdefault(r["url"], []).append("E" + _canon(r))
    for r in _rows(os.path.join(out_dir, "chunks")):
        per.setdefault(r["url"], []).append(
            f"C{r['chunk_seq']:08d}" + _canon(r))
    return {u: hashlib.sha256("\n".join(sorted(v)).encode()).hexdigest()
            for u, v in per.items()}


def table_digest(digests: dict[str, str]) -> str:
    """sha256 over the sorted per-url digests: one fingerprint of a
    run's output, printed on the detail line."""
    return hashlib.sha256("".join(
        f"{u}\t{d}\n" for u, d in sorted(digests.items())).encode()
    ).hexdigest()


# ---------------------------------------------------------------------------
# Benchmark state
# ---------------------------------------------------------------------------

class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.wl = args.workload
        self.work = work
        self.cores = args.cores or len(os.sched_getaffinity(0))
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.warm: dict | None = None
        self.reps: list[dict] = []
        self.crash: dict | None = None

    # -- set-up ------------------------------------------------------
    def start_session(self):
        from ragflow_spark.job.session import get_spark
        spark = get_spark(app=f"perfbench-{self.wl}",
                          master=f"local[{self.cores}]",
                          shuffle_partitions=self.cores)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _scaled(self, n: int) -> int:
        return max(2, round(n * self.args.scale))

    def build_input(self, spark) -> tuple[str, set[str]]:
        """Write the workload's pages table; returns its directory and
        the pinned documents' urls."""
        from ragflow_spark.corpus.gen import build_pages, expected_extracted

        seed = self.args.seed
        out = os.path.join(self.work, "input")
        n_files = self.cores * 4
        if self.wl == "large_mixed":
            # one file per core: Spark packs a small input's files into
            # one scan task per core, largest files first, so more files
            # would put the largest pages into one task, which then
            # holds up the job
            return corpus.large_mixed_pages(
                seed, self._scaled(LARGE_MIXED_PAGES),
                self._scaled(LARGE_MIXED_PAPERS), out, self.cores)
        pinned = corpus.documents(None, corpus.N_PINNED_DOCS,
                                  os.path.join(self.work, "docs-pinned"))
        seeded = corpus.documents(seed, self._scaled(WEB_SMALL_DOCS),
                                  os.path.join(self.work, "docs"),
                                  first_id=corpus.N_PINNED_DOCS)
        (build_pages(spark, pinned, partitions=1)
         .unionByName(build_pages(spark, seeded, partitions=n_files))
         .write.mode("overwrite").parquet(out))
        self.docs_dirs = (pinned, seeded)
        return out, {r["url"] for r in
                     expected_extracted(spark, pinned).select("url")
                     .collect()}

    def start_workers(self, spark) -> None:
        """Fork a Python worker per core and load the extraction modules
        in each, before the first corpus build needs workers."""
        def load(batches):
            import ragflow_spark.job.extract  # noqa: F401
            import ragflow_spark.extractlib.templates  # noqa: F401
            yield from batches
        (spark.range(self.cores, numPartitions=self.cores)
         .mapInPandas(load, "id long").count())

    def setup(self):
        """Session start, worker start and the corpus build."""
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        spark = self.start_session()
        self.start_workers(spark)
        t1 = time.perf_counter()
        self.input, self.pinned_urls = self.build_input(spark)
        t2 = time.perf_counter()
        self.setup_s = t2 - t0
        self.setup_detail = {"session_and_workers_s": t1 - t0,
                             "corpus_build_s": t2 - t1}
        blobs = pq.read_table(self.input, columns=["url", "html"])
        self.urls = set(blobs.column("url").to_pylist())
        self.html_bytes = sum(len(b) for b in blobs.column("html").to_pylist()
                              if not b.startswith(b"%PDF-"))
        return spark

    # -- one repetition --------------------------------------------------
    def _run_job(self, spark, out: str, waves: int = WAVES, **kw) -> dict:
        from ragflow_spark.job.run_extract import run_job
        return run_job(spark, self.input, out, template=TEMPLATE,
                       n_buckets=N_BUCKETS, waves=waves, **kw)

    def run_rep(self, spark, k: int) -> dict:
        out = os.path.join(self.work, f"out-{k}")
        cpu0 = procs.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        s = self._run_job(spark, out)
        wall_s = time.perf_counter() - t0
        return {"k": k, "n_docs": s["n_docs"], "wall_s": wall_s,
                "cpu_s": procs.tree_cpu_s(os.getpid()) - cpu0, "out": out,
                "traced": False}

    def crash_resume(self, spark) -> dict:
        """run_job crashing after wave 0, then a resumed run_job; the
        final tables must equal the reference and no committed bucket
        may run again."""
        out = os.path.join(self.work, "out-crash")
        try:
            self._run_job(spark, out, waves=CRASH_WAVES, fail_after_wave=0)
            raise AssertionError("the injected crash did not happen")
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        committed = self._committed(out)
        t0 = time.perf_counter()
        s = self._run_job(spark, out, waves=CRASH_WAVES)
        rep = {"k": "crash_resume", "recovery_s": time.perf_counter() - t0,
               "n_docs": sum(committed["n_docs"].values()) + s["n_docs"],
               "out": out, "traced": False}
        self._check_resume(out, committed, s)
        self.check_rep(rep)
        return rep

    # -- checks ------------------------------------------------------
    def _committed(self, out: str) -> dict:
        """Buckets committed so far, and the files of their partitions."""
        lineage = _rows(os.path.join(out, "_checkpoint"))
        files = {}
        for sub in ("extracted", "chunks"):
            root = os.path.join(out, sub)
            for r in lineage:
                d = os.path.join(root, f"bucket={r['bucket']}")
                if os.path.isdir(d):
                    for name in sorted(os.listdir(d)):
                        st = os.stat(os.path.join(d, name))
                        files[os.path.join(d, name)] = (st.st_mtime_ns,
                                                        st.st_size)
        return {"buckets": {r["bucket"] for r in lineage},
                "n_docs": {r["bucket"]: r["n_docs"] for r in lineage},
                "files": files}

    def _check_resume(self, out: str, committed: dict, summary: dict):
        if summary["buckets_done_prior"] != len(committed["buckets"]):
            self.errors.append(
                f"resume saw {summary['buckets_done_prior']} committed "
                f"buckets, lineage has {len(committed['buckets'])}")
        lineage = _rows(os.path.join(out, "_checkpoint"))
        rerun = {r["bucket"] for r in lineage
                 if r["run_id"] == summary["run_id"]} & committed["buckets"]
        if rerun:
            self.errors.append(f"committed buckets re-run: {sorted(rerun)}")
        for path, sig in committed["files"].items():
            try:
                st = os.stat(path)
            except FileNotFoundError:
                self.errors.append(f"committed file removed: {path}")
                continue
            if (st.st_mtime_ns, st.st_size) != sig:
                self.errors.append(f"committed file rewritten: {path}")

    def check_rep(self, rep: dict) -> None:
        digests = url_digests(rep["out"])
        expected = self.reference
        self.attempted += len(expected)
        bad = {u for u, d in expected.items() if digests.get(u) != d}
        bad |= set(digests) - set(expected)
        if bad:
            self.errors.append(f"rep {rep['k']}: {len(bad)} documents "
                               f"differ from the reference")
        self.failed += len(bad)
        if rep["n_docs"] != len(expected):
            self.errors.append(f"rep {rep['k']}: committed "
                               f"{rep['n_docs']} of {len(expected)} docs")
        shutil.rmtree(rep["out"], ignore_errors=True)

    def make_reference(self, spark, out: str) -> None:
        """Per-url digests every repetition must reproduce, taken from
        the warm-up repetition after checking it against an oracle."""
        self.reference = url_digests(out)
        missing = self.urls - set(self.reference)
        if missing:
            self.errors.append(f"{len(missing)} input documents have no "
                               f"output")
        if self.wl == "web_small":
            self._check_expected_extracted(spark, out)
        else:
            self._check_kernels(out)
        self._check_pinned()

    def _check_expected_extracted(self, spark, out: str) -> None:
        from ragflow_spark.corpus.gen import expected_extracted
        want = {r["url"]: r["extracted_text"] for d in self.docs_dirs
                for r in expected_extracted(spark, d).collect()}
        got = {r["url"]: r["extracted_text"]
               for r in _rows(os.path.join(out, "extracted"))}
        bad = [u for u in want if got.get(u) != want[u]]
        self.failed += len(bad)
        if bad or len(got) != len(want):
            self.errors.append(f"extracted_text differs from "
                               f"expected_extracted on {len(bad)} of "
                               f"{len(want)} documents")

    def _check_kernels(self, out: str) -> None:
        """Spark output of a seeded sample of documents equals the
        extraction kernels called directly on the driver."""
        import pyarrow.parquet as pq
        from ragflow_spark.extractlib import templates as T
        from ragflow_spark.extractlib.codec import decode_blob
        from ragflow_spark.extractlib.htmlparse import parse_html_text
        from ragflow_spark.extractlib.pdfrules import remove_tag

        t = pq.read_table(self.input, columns=["url", "html"]).to_pylist()
        rng = random.Random(self.args.seed)
        sample = []
        for is_pdf in (False, True):
            kind = sorted((r for r in t
                           if r["html"].startswith(b"%PDF-") == is_pdf),
                          key=lambda r: (len(r["html"]), r["url"]))
            # the smaller half keeps the driver-side check short
            half = kind[:len(kind) // 2 + 1]
            sample += rng.sample(half, min(2, len(kind)))
        ext = {r["url"]: r for r in _rows(os.path.join(out, "extracted"))}
        chunks: dict[str, list] = {}
        for r in _rows(os.path.join(out, "chunks")):
            chunks.setdefault(r["url"], []).append(r)
        for row in sample:
            url, blob = row["url"], row["html"]
            if blob.startswith(b"%PDF-"):
                text = T.extract_pdf_text(blob)[1]
                raw = T.chunk_naive_pdf(blob, keep_tags=True)
            else:
                title, content = parse_html_text(decode_blob(blob))
                text = f"{title}\n{content}"
                raw = T.chunk_naive_html(blob)
            want = [remove_tag(t) for _, t, _ in T.chunks_with_ids(raw, url)]
            got = [r["chunk_text"] for r in
                   sorted(chunks.get(url, []), key=lambda r: r["chunk_seq"])]
            if ext.get(url, {}).get("extracted_text") != text or got != want:
                self.errors.append(f"{url}: Spark output differs from "
                                   f"the kernels run directly")

    def _check_pinned(self) -> None:
        """The pinned documents' rows equal the digests in expected.json,
        whatever the seed and scale. After a deliberate change of the
        program's output, the "pinned" object of the result's detail
        line is the new value for the workload's entry."""
        with open(EXPECTED) as f:
            want = json.load(f)[self.wl]
        if set(want) != self.pinned_urls:
            self.errors.append("the pinned documents are not those of "
                               "expected.json")
        bad = sorted(u for u, d in want.items()
                     if self.reference.get(u) != d)
        self.failed += len(bad)
        if bad:
            self.errors.append(f"{len(bad)} pinned documents differ from "
                               f"expected.json, first {bad[0]}")


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------

def _module_sum(funcs: dict, module: str, field: int) -> int:
    return sum(rec[field] for key, rec in funcs.items()
               if key.split(".", 1)[0] == module)


def layer_metrics(tr: dict, timelines: list[list], n_docs: int,
                  n_html: int, n_pdf: int, html_bytes: int, n_chunks: int,
                  cores: int, wall_s: float) -> dict:
    """Per-layer metrics from the summed worker spans of the traced
    repetitions (``tr``) and the driver's checkpoint timelines, one per
    repetition."""
    f = tr["funcs"]
    timeline = [span for rep in timelines for span in rep]

    def self_us(module: str, per: int) -> float:
        return _module_sum(f, module, 2) / 1e3 / per if per else 0.0

    def calls(key: str) -> int:
        return f.get(key, [0])[0]

    m = {}
    for mod in ("dom", "readability", "htmlser", "htmltext", "codec"):
        m[f"{mod}.us_per_doc"] = (self_us(mod, n_html), "us")
    m["dom.us_per_kb"] = (_module_sum(f, "dom", 2) / 1e3
                          / (html_bytes / 1e3) if html_bytes else 0.0,
                          "us/KB")
    m["dom.parses_per_doc"] = (calls("dom.parse_html") / n_html
                               if n_html else 0.0, "count")
    summaries = calls("readability.Document.summary_node")
    m["readability.retry_frac"] = (
        tr["edges"].get("readability.Document.summary_node>dom.parse_html",
                        0) / summaries if summaries else 0.0, "frac")
    for mod in ("merge", "xxh64", "templates"):
        m[f"{mod}.us_per_doc"] = (self_us(mod, n_docs), "us")
    xxh_entries = _module_sum(f, "xxh64", 3)
    m["xxh64.calls_per_chunk"] = (xxh_entries / n_chunks if n_chunks
                                  else 0.0, "count")
    for mod in ("pdfplain", "pdfrules"):
        m[f"{mod}.us_per_doc"] = (self_us(mod, n_pdf), "us")
    m["pdfplain.parses_per_doc"] = (calls("pdfplain.parse_pdf_boxes") / n_pdf
                                    if n_pdf else 0.0, "count")
    m["kernel.us_per_doc"] = (tr["root_ns"] / 1e3 / n_docs, "us")
    m["extract.rows_per_batch"] = (tr["batch_rows"] / tr["batches"]
                                   if tr["batches"] else 0.0, "rows")
    doc_ms = [ns / 1e6 for ns in tr["doc_ns"]]
    m["extract.doc_p50_ms"] = (_quantile(doc_ms, 0.5), "ms")
    m["extract.doc_p99_ms"] = (_quantile(doc_ms, 0.99), "ms")
    m["extract.doc_max_ms"] = (max(doc_ms, default=0.0), "ms")
    m["extract.spark_overhead_frac"] = (
        1.0 - tr["root_ns"] / 1e9 / (cores * wall_s), "frac")
    loads = [t1 - t0 for k, t0, t1 in timeline
             if k == "checkpoint.load_done_buckets"]
    appends = [t1 - t0 for k, t0, t1 in timeline
               if k == "checkpoint.append_lineage"]
    m["checkpoint.load_done_ms"] = (_median(loads) * 1e3, "ms")
    m["checkpoint.append_lineage_ms"] = (_median(appends) * 1e3, "ms")
    waves, prev = [], None
    for k, t0, t1 in timeline:
        if k == "checkpoint.load_done_buckets":
            prev = t1
        elif prev is not None:
            waves.append((t1 - prev) * 1e3)
            prev = t1
    m["run_extract.wave_p50_ms"] = (_median(waves), "ms")
    m["run_extract.wave_max_ms"] = (max(waves, default=0.0), "ms")
    return m


def _n_chunks_and_kinds(out: str) -> tuple[int, int, int]:
    import pyarrow.parquet as pq
    ext = pq.read_table(os.path.join(out, "extracted"),
                        columns=["parser"]).column("parser").to_pylist()
    n_chunks = pq.read_table(os.path.join(out, "chunks"),
                             columns=["url"]).num_rows
    return n_chunks, ext.count("html"), ext.count("pdf")


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------

def _scaling_child(args) -> float:
    """docs_per_s of the same workload at local[1], in a fresh process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload",
           args.workload, "--seed", str(args.seed), "--seconds", "1",
           "--trace", "0", "--cores", "1", "--scale", str(args.scale)]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=170, check=True)
    out = json.loads(res.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise RuntimeError("local[1] scaling run was not correct")
    return out["metrics"]["docs_per_s"]["value"]


def measure(bench: Bench, spark, traced: bool) -> dict:
    """Repeat run_job until the time is up. Repetition 0 is the warm-up:
    it pays for run_job's first-time query planning (about half its
    time), its output is checked against the oracle and becomes the
    reference, and no metric counts it. A traced run then alternates
    untraced and traced repetitions and has at least one of each."""
    from perfbench import trace

    sc = spark.sparkContext
    epochs, timeline = [], []
    bench.warm = bench.run_rep(spark, 0)
    bench.make_reference(spark, bench.warm["out"])
    bench.check_rep(bench.warm)
    # the local[1] run of the scaling case measures one repetition
    min_reps = 2 if traced else 1 if bench.args.cores else MIN_REPS
    procs.reset_peak_rss(os.getpid())
    t0 = time.perf_counter()
    k = 1
    # start another repetition while its expected midpoint falls inside
    # the measuring window
    while k <= min_reps or (
            time.perf_counter() - t0
            + 0.5 * _median([r["wall_s"] for r in bench.reps])
            < bench.args.seconds):
        on = traced and k % 2 == 0
        if on:
            sc.setLocalProperty(trace.TRACE_PROPERTY, f"rep{k}")
            trace.TRACER.timeline = []
            trace.TRACER.on = True
        try:
            rep = bench.run_rep(spark, k)
        finally:
            if on:
                trace.TRACER.on = False
                sc.setLocalProperty(trace.TRACE_PROPERTY, None)
        rep["traced"] = on
        if on:
            epochs.append(f"rep{k}")
            timeline.append(trace.TRACER.timeline)
            rep["n_chunks"], rep["n_html"], rep["n_pdf"] = \
                _n_chunks_and_kinds(rep["out"])
        bench.check_rep(rep)
        bench.reps.append(rep)
        k += 1
    peak_rss = procs.tree_peak_rss_bytes(os.getpid())
    if traced and bench.wl == "web_small":
        bench.crash = bench.crash_resume(spark)
    return {"peak_rss": peak_rss, "epochs": epochs, "timeline": timeline}


def traced_metrics(bench: Bench, res: dict, untraced_dps: list[float]):
    from perfbench import trace

    time.sleep(0.5)  # workers write their span files after a task ends
    tr = trace.load_epochs(os.environ["PERFBENCH_TRACE_DIR"], res["epochs"])
    tr_reps = [r for r in bench.reps if r["traced"]]
    metrics = layer_metrics(
        tr, res["timeline"],
        n_docs=sum(r["n_docs"] for r in tr_reps),
        n_html=sum(r["n_html"] for r in tr_reps),
        n_pdf=sum(r["n_pdf"] for r in tr_reps),
        html_bytes=len(tr_reps) * bench.html_bytes,
        n_chunks=sum(r["n_chunks"] for r in tr_reps),
        cores=bench.cores,
        wall_s=sum(r["wall_s"] for r in tr_reps))
    traced_dps = _median([r["n_docs"] / r["wall_s"] for r in tr_reps])
    metrics["trace.overhead_frac"] = (1.0 - traced_dps
                                      / _median(untraced_dps), "frac")
    metrics["run_extract.recovery_s"] = (
        bench.crash["recovery_s"] if bench.crash else 0.0, "s")
    eff = 0.0
    if bench.wl == "web_small" and bench.cores > 1:
        # docs_per_s(nproc) / (nproc * docs_per_s(1))
        eff = _median(untraced_dps) / (bench.cores
                                       * _scaling_child(bench.args))
    metrics["run_extract.scaling_eff"] = (eff, "frac")
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] level; default: every CPU")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies the workload's document count")
    args = ap.parse_args()
    traced = bool(args.trace)
    if importlib.util.find_spec("ragflow_spark") is None:
        print(f"no ragflow_spark package under {ROOT}", file=sys.stderr)
        return 2

    host = procs.HostLabels()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(work, traced)
    from perfbench import trace
    if traced:
        trace.install()
        trace.driver_spans()

    bench = Bench(args, work)
    spark = None
    try:
        spark = bench.setup()
        res = measure(bench, spark, traced)
        untraced = [r for r in bench.reps if not r["traced"]]
        dps = [r["n_docs"] / r["wall_s"] for r in untraced]
        if traced:
            metrics = traced_metrics(bench, res, dps)
        else:
            metrics = {
                "docs_per_s": (_median(dps), "1/s"),
                "cpu_s_per_kdoc": (_median(
                    [r["cpu_s"] / r["n_docs"] * 1e3 for r in untraced]),
                    "s"),
                "peak_rss_mb": (res["peak_rss"] / 2**20, "MB"),
                "setup_s": (bench.setup_s, "s"),
            }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # a whole-table check that fails counts at least one document
    failed = bench.failed or int(bool(bench.errors))
    for e in bench.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "labels": host.labels(), "setup": bench.setup_detail,
        "digest": table_digest(bench.reference),
        "pinned": {u: bench.reference.get(u)
                   for u in sorted(bench.pinned_urls)},
        "reps": [{k: v for k, v in r.items() if k != "out"}
                 for r in [bench.warm] + bench.reps + [bench.crash] if r]}))
    print(json.dumps({
        "correct": not bench.errors,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
