"""Union the pytest line coverage with an in-process corpus sweep.

The settrace tracer in tools/line_coverage.py cannot see Spark python
workers, so per-doc extraction code exercised only by the oracle gate
shows as missed.  This harness re-drives the same per-doc batch
functions (extract per template / office / table paths) over the full
sf0.01 synthetic corpus IN-PROCESS under the tracer, unions the hits
with tools/coverage_lines.json, and re-reports — surviving misses in
extractlib are then candidates for genuinely dead branches.

Usage: python tools/corpus_coverage.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.line_coverage import (  # noqa: E402
    OUT, PKG, _global_trace, _hits, executable_lines, report)


def collect_frames(sf_dir: str):
    """Build every corpus family via Spark (untraced) and collect to
    pandas; returns {name: pandas_frame}."""
    from ragflow_spark.corpus import gen
    from ragflow_spark.job.session import get_spark

    spark = get_spark("local[8]", shuffle_partitions=8)
    frames = {}
    for name in sorted(dir(gen)):
        if not name.startswith("build_"):
            continue
        fn = getattr(gen, name)
        try:
            df = fn(spark, sf_dir)
        except TypeError:
            continue  # helper with a different signature
        cols = set(df.columns)
        if not {"url", "html"} <= cols:
            continue
        frames[name] = df.select("url", "html").toPandas()
        print(f"collected {name}: {len(frames[name])} rows",
              file=sys.stderr)
    spark.stop()
    return frames


def sweep(frames) -> None:
    from functools import partial

    from ragflow_spark.job import extract as X

    def pages_pass(doc_fn, schema):
        return lambda it: X._map_documents(it, doc_fn, schema)

    def extract_pass(template):
        # run_job's single pass: parse and chunk in one call
        return lambda it: X._extract_batches(
            p.assign(template=template) for p in it)

    batch_fns = [(f"extract_{tpl}", extract_pass(tpl))
                 for tpl in (None, *X.TEMPLATES)]
    batch_fns += [("office", pages_pass(X._office_rows, X.OFFICE_SCHEMA)),
                  ("tables", pages_pass(partial(X._table_rows, False),
                                        X.TABLES_SCHEMA)),
                  ("tables_html", pages_pass(partial(X._table_rows, True),
                                             X.TABLES_SCHEMA))]

    sys.settrace(_global_trace)
    try:
        for fname, pdf in frames.items():
            for bname, fn in batch_fns:
                try:
                    for _out in fn(iter([pdf])):
                        pass
                except Exception as e:  # noqa: BLE001 - report, continue
                    print(f"{fname} x {bname}: {type(e).__name__}: {e}",
                          file=sys.stderr)
    finally:
        sys.settrace(None)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    frames = collect_frames(sf_dir)
    sweep(frames)

    with open(OUT) as f:
        data = json.load(f)
    for path, hit in _hits.items():
        rel = os.path.relpath(path, ROOT)
        ex = executable_lines(path)
        d = data.setdefault(rel, {"hit": [], "exec": sorted(ex)})
        d["hit"] = sorted(set(d["hit"]) | (hit & ex))
    with open(OUT, "w") as f:
        json.dump(data, f)
    report({k: v for k, v in data.items()
            if k.startswith("ragflow_spark/extractlib")
            or k.startswith("ragflow_spark/job")})


if __name__ == "__main__":
    main()
