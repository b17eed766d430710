"""Span tracing of the extraction layers for the traced benchmark run.

``install()`` imports each layer module and replaces its public entry
points with wrappers that record a span per call: which function, how
long, and which traced call caused it. Spans are folded in memory into
per-function counters as they close, so a run of millions of calls keeps
a few hundred numbers:

- calls and inclusive time per function;
- self time: the span's duration minus the time its child spans cover;
- module entries: calls whose parent span is in another module (or
  none), so nested helpers of one module count once per entry;
- one duration per root span of a per-document kernel, for latency
  percentiles.

Spark forks its Python workers from a daemon; ``perfbench.tracedaemon``
calls ``install()`` there before the fork, and writes the counters to
``$PERFBENCH_TRACE_DIR/<epoch>/<pid>.json`` at the end of every task. A
task traces only when the driver set the ``perfbench.trace`` local
property (the epoch name) on the job, so one session can alternate
traced and untraced repetitions.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

# Modules in dependency order: a module binds names imported from an
# earlier one at its own import time, so each must be wrapped before the
# next is imported. Entries are "function" or "Class.method".
LAYERS: dict[str, tuple[str, ...]] = {
    "ragflow_spark.extractlib.codec": ("decode_blob",),
    "ragflow_spark.extractlib.xxh64": ("chunk_id", "xxh64_hexdigest"),
    "ragflow_spark.extractlib.dom": ("parse_html", "drop_tags"),
    "ragflow_spark.extractlib.htmlser": ("serialize_html",
                                         "clean_attributes"),
    "ragflow_spark.extractlib.htmltext": ("extract_text_from_node",),
    "ragflow_spark.extractlib.readability": ("Document.title",
                                             "Document.summary_node"),
    "ragflow_spark.extractlib.htmlparse": ("parse_html_text",
                                           "extract_html", "html_sections"),
    "ragflow_spark.extractlib.merge": ("naive_merge", "bullets_category",
                                       "title_frequency"),
    "ragflow_spark.extractlib.pdfplain": ("parse_pdf_boxes",
                                          "total_page_number"),
    "ragflow_spark.extractlib.pdfrules": ("pdf_to_sections", "remove_tag",
                                          "parse_positions"),
    "ragflow_spark.extractlib.templates": ("extract_pdf_text",
                                           "chunk_naive_html",
                                           "chunk_paper_pdf",
                                           "chunks_with_ids", "chunk_id_of"),
    "ragflow_spark.job.checkpoint": ("load_done_buckets", "append_lineage"),
}

# Root spans that are one document's extract-pass kernel call.
DOC_KERNELS = ("htmlparse.parse_html_text", "templates.extract_pdf_text")

# Arrow-batch generator of the extract pass: counted, not timed.
BATCH_FN = ("ragflow_spark.job.extract", "_extract_batches")

TRACE_PROPERTY = "perfbench.trace"


class Tracer:
    """Per-process span state. ``on`` gates recording; the stack holds
    one ``[module, child_ns]`` frame per open span."""

    def __init__(self) -> None:
        self.on = False
        self.epoch: str | None = None
        self.stack: list[list] = []
        self.reset()

    def reset(self) -> None:
        # key -> [calls, incl_ns, self_ns, entry_calls, entry_incl_ns]
        self.funcs: dict[str, list[int]] = {}
        # "parent>child" -> calls
        self.edges: dict[str, int] = {}
        self.doc_ns: list[int] = []
        self.root_ns = 0
        self.batches = 0
        self.batch_rows = 0
        # (key, start, end) of driver-side spans, perf_counter seconds
        self.timeline: list[tuple[str, float, float]] = []

    def close(self, key: str, module: str, t0: int, t1: int,
              child_ns: int) -> None:
        dur = t1 - t0
        rec = self.funcs.get(key)
        if rec is None:
            rec = self.funcs[key] = [0, 0, 0, 0, 0]
        rec[0] += 1
        rec[1] += dur
        rec[2] += dur - child_ns
        stack = self.stack
        if stack:
            parent = stack[-1]
            parent[1] += dur
            edge = f"{parent[2]}>{key}"
            self.edges[edge] = self.edges.get(edge, 0) + 1
            if parent[0] == module:
                return
        else:
            self.root_ns += dur
            if key in DOC_KERNELS:
                self.doc_ns.append(dur)
        rec[3] += 1
        rec[4] += dur

    def snapshot(self) -> dict:
        return {"funcs": self.funcs, "edges": self.edges,
                "doc_ns": self.doc_ns,
                "root_ns": self.root_ns, "batches": self.batches,
                "batch_rows": self.batch_rows}

    # -- worker side --------------------------------------------------
    def begin_task(self) -> None:
        """Called before a worker runs a task: tracing turns on at the
        first span, once the task context is known."""
        self.on = False
        self.epoch = None
        self._checked = False

    def check_task(self) -> None:
        from pyspark.taskcontext import TaskContext
        self._checked = True
        tc = TaskContext.get()
        epoch = tc.getLocalProperty(TRACE_PROPERTY) if tc else None
        if epoch and epoch != self._last_epoch:
            self.reset()
            self._last_epoch = epoch
        self.epoch = epoch
        self.on = bool(epoch)

    def flush(self, trace_dir: str) -> None:
        """Write this process's counters for the current epoch."""
        if not self.epoch:
            return
        out = os.path.join(trace_dir, self.epoch)
        os.makedirs(out, exist_ok=True)
        tmp = os.path.join(out, f".{os.getpid()}.tmp")
        with open(tmp, "w") as f:
            json.dump(self.snapshot(), f)
        os.replace(tmp, os.path.join(out, f"{os.getpid()}.json"))

    _checked = True
    _last_epoch: str | None = None


TRACER = Tracer()


def _wrap(fn, key: str, module: str):
    tracer = TRACER
    clock = time.perf_counter_ns

    def traced(*args, **kwargs):
        if not tracer._checked:
            tracer.check_task()
        if not tracer.on:
            return fn(*args, **kwargs)
        frame = [module, 0, key]
        tracer.stack.append(frame)
        t0 = clock()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = clock()
            tracer.stack.pop()
            tracer.close(key, module, t0, t1, frame[1])

    traced.__wrapped__ = fn
    traced.__name__ = fn.__name__
    traced.__qualname__ = fn.__qualname__
    return traced


def _wrap_batches(fn):
    tracer = TRACER

    def counted(it):
        def frames():
            for pdf in it:
                if tracer.on:
                    tracer.batches += 1
                    tracer.batch_rows += len(pdf)
                yield pdf
        if not tracer._checked:
            tracer.check_task()
        yield from fn(frames())

    counted.__wrapped__ = fn
    counted.__name__ = fn.__name__
    counted.__qualname__ = fn.__qualname__
    counted.__module__ = fn.__module__
    return counted


def install() -> None:
    """Import every layer module and wrap its entry points in place.

    Raises if a module was imported before this call: names other
    modules bound from it could then bypass the wrappers, and the trace
    would under-count without saying so."""
    pre = [m for m in LAYERS if m in sys.modules]
    if pre:
        raise RuntimeError(f"trace.install() after import of {pre}")
    for modname, entries in LAYERS.items():
        mod = importlib.import_module(modname)
        short = modname.rsplit(".", 1)[1]
        for entry in entries:
            owner_name, _, attr = entry.rpartition(".")
            owner = getattr(mod, owner_name) if owner_name else mod
            fn = getattr(owner, attr)
            setattr(owner, attr, _wrap(fn, f"{short}.{entry}", short))
    mod = importlib.import_module(BATCH_FN[0])
    setattr(mod, BATCH_FN[1], _wrap_batches(getattr(mod, BATCH_FN[1])))


def driver_spans(tracer: Tracer = TRACER):
    """Patch the driver's checkpoint wrappers to also keep a timeline of
    their calls (the wave boundaries of ``run_job``)."""
    import ragflow_spark.job.checkpoint as ck

    for name in LAYERS["ragflow_spark.job.checkpoint"]:
        fn = getattr(ck, name)

        def timed(*args, _fn=fn, _key=f"checkpoint.{name}", **kwargs):
            t0 = time.perf_counter()
            try:
                return _fn(*args, **kwargs)
            finally:
                if tracer.on:
                    tracer.timeline.append((_key, t0, time.perf_counter()))
        setattr(ck, name, timed)


def load_epochs(trace_dir: str, epochs: list[str]) -> dict:
    """Sum the worker files of the given epochs."""
    total = Tracer().snapshot()
    paths = []
    for epoch in epochs:
        d = os.path.join(trace_dir, epoch)
        if os.path.isdir(d):
            paths += [os.path.join(d, n) for n in sorted(os.listdir(d))
                      if n.endswith(".json")]
    for path in paths:
        with open(path) as f:
            part = json.load(f)
        for key, rec in part["funcs"].items():
            acc = total["funcs"].setdefault(key, [0, 0, 0, 0, 0])
            for i, v in enumerate(rec):
                acc[i] += v
        for edge, n in part["edges"].items():
            total["edges"][edge] = total["edges"].get(edge, 0) + n
        total["doc_ns"].extend(part["doc_ns"])
        for k in ("root_ns", "batches", "batch_rows"):
            total[k] += part[k]
    return total
