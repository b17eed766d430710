"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark and its oracle SQL on DuckDB at the given
sf dir, compare row counts and order-insensitive value hashes.

Usage: python tools/check_correctness.py [sf_dir] [--skip=q1,q2,...]
       [--only=q1,q2,...] [--pandas]

An unknown name in --skip or --only is an error (exit 2).

--skip: omit queries whose DuckDB oracle is O(n^2) in corpus size (the
pair-dedup family: dedup_minhash, dedup_ngram, simhash_pairs,
embed_neardup, dup_clusters, entity_candidates) when stress-probing larger scale factors;
the driver gate itself runs at sf0.01 where they complete in seconds.

--pandas: materialize BOTH sides the way a pandas-based comparator
would (Spark ``toPandas()`` vs DuckDB ``.df()``) and hash with a
type-PRESERVING normalizer (ints stay int, floats stay float, NaN
folds to NULL).  The default fetchall() path is how this gate always
ran — and it is exactly the path that stayed green for two rounds
while the driver's comparator hashed DuckDB HUGEINT as float64
(msg_fit, SURVEY.md §12 cont. 3).  Running the full gate once in
this mode certifies there is no OTHER column class whose value
identity depends on the collector (float-vs-int aggregates,
timestamp units, nullable-int dtype conventions, array/struct
materialization).
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(rows: list[tuple], cols: list[str], norm=None) -> str:
    norm = norm or _norm
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # nulls sort last within their column (python can't compare None
    # to values); the key is order-isomorphic on non-null data so
    # hashes of fully non-null results are unchanged
    canon = sorted(
        (tuple(norm(r[i]) for i in order) for r in rows),
        key=lambda row: tuple((v is None, 0 if v is None else v)
                              for v in row),
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return round(float(v), 6)
    return v


def _pnorm(v):
    """Type-preserving normalizer for --pandas mode: int stays int,
    float stays float (so a collector that widens an integer column to
    float64 — the msg_fit HUGEINT class — hashes DIFFERENTLY from the
    true integer side), NaN folds to NULL (both engines surface SQL
    NULL as NaN inside float-materialized columns), containers recurse.
    Day-precision dates widen to midnight Timestamps: Spark
    ``toPandas()`` keeps a DATE column as ``datetime.date`` objects
    while DuckDB ``.df()`` materializes DATE as datetime64[ns] — the
    same day value under two classes (found live on ``events_rollup``,
    which is driver-green, so the driver's comparator also normalizes
    this pair).  Declared-type mismatches (a real DATE-vs-TIMESTAMP
    gap) stay policed by tools/type_audit.py.
    """
    import datetime as _dt

    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, _dt.date):  # datetime/Timestamp are date subclasses
        return pd.Timestamp(v)
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return None if math.isnan(f) else round(f, 6)
    if isinstance(v, np.ndarray):
        return tuple(_pnorm(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_pnorm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _pnorm(x)) for k, x in sorted(v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return tuple((k, _pnorm(x))
                     for k, x in sorted(v.asDict().items()))
    if v != v:  # pandas NaT
        return None
    return v


def oracle_db(sf_dir: str):
    """DuckDB connection with one view per testdata table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def check_query(spark, con, sf_dir: str, name: str, fn,
                oracle: str | None, pandas_mode: bool = False
                ) -> tuple[bool, list[str]]:
    """Run one registered query on Spark and its oracle SQL (None: a
    rows-only check) on DuckDB; returns (ok, report lines)."""
    sdf = fn(spark, sf_dir)
    scols = sorted(sdf.columns)
    if pandas_mode:
        srows = [tuple(r) for r in
                 sdf.toPandas().itertuples(index=False, name=None)]
    else:
        srows = [tuple(r) for r in sdf.collect()]
    if oracle is None:
        return True, [f"{name:16s} rows={len(srows):6d}  (rows-only check)"]
    lines = []
    ddf = con.sql(oracle)
    dcols = sorted(ddf.columns)
    # HUGEINT (an uncast DuckDB integer sum) is collector-
    # dependent: fetchall() yields plain ints (indistinguishable
    # from Spark's here) but .df() gives float64 and .arrow()
    # decimal128 — a comparator that materializes via pandas or
    # Arrow hashes 60.0/Decimal('60') against Spark's 60 on every
    # row.  That skew kept msg_fit driver-red for two rounds while
    # green under this fetchall()-based gate, so an oracle emitting
    # HUGEINT is now itself a failure.
    huge = [c for c, t in zip(ddf.columns, map(str, ddf.types))
            if t in ("HUGEINT", "UHUGEINT")]
    if huge:
        lines.append(f"{name:16s} FAIL oracle emits HUGEINT column(s) "
                     f"{huge} — cast to BIGINT (collector-dependent "
                     f"materialization)")
    if pandas_mode:
        drows = [tuple(r) for r in
                 ddf.df().itertuples(index=False, name=None)]
    else:
        drows = ddf.fetchall()
    # reorder duck rows to its own column order, hash both
    norm = _pnorm if pandas_mode else _norm
    sh = value_hash(srows, list(sdf.columns), norm)
    dh = value_hash(drows, list(ddf.columns), norm)
    ok_schema = scols == dcols
    ok_rows = len(srows) == len(drows)
    ok_hash = sh == dh
    ok = ok_schema and ok_rows and ok_hash
    lines.append(f"{name:16s} rows={len(srows):6d}/{len(drows):6d} "
                 f"schema={'=' if ok_schema else scols} hash "
                 f"{'=' if ok_hash else (sh + ' vs ' + dh)}  "
                 f"{'OK' if ok else 'FAIL'}")
    if not ok_hash and ok_rows:
        # show a sample mismatch for debugging
        ss = sorted(
            tuple(norm(r[i]) for i in
                  sorted(range(len(sdf.columns)),
                         key=lambda i: sdf.columns[i]))
            for r in srows
        )
        dd = sorted(
            tuple(norm(r[i]) for i in
                  sorted(range(len(ddf.columns)),
                         key=lambda i: ddf.columns[i]))
            for r in drows
        )
        for a, b in zip(ss, dd):
            if a != b:
                lines.append("  spark: " + repr(a)[:300])
                lines.append("  duck : " + repr(b)[:300])
                break
    return ok and not huge, lines


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    skip: set[str] = set()
    only: set[str] | None = None
    pandas_mode = "--pandas" in sys.argv[1:]
    for a in sys.argv[1:]:
        if a.startswith("--skip") or a.startswith("--only"):
            if "=" not in a:
                # `--skip q1,q2` used to parse as an EMPTY skip set and
                # run the quadratic oracles it was meant to avoid —
                # refuse the space-separated form loudly instead
                print(f"error: {a} requires the form {a}=q1,q2,...",
                      file=sys.stderr)
                return 2
            names = set(filter(None, a.split("=", 1)[1].split(",")))
            if a.startswith("--skip"):
                skip = names
            else:
                only = names
    if len(args) > 1:
        print(f"error: unexpected positional arguments {args[1:]} "
              "(only [sf_dir] is accepted)", file=sys.stderr)
        return 2
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # a misspelt name would otherwise run nothing and still pass
    unknown = sorted((skip | (only or set())) - set(qs))
    if unknown:
        print(f"error: unknown query name(s): {', '.join(unknown)}",
              file=sys.stderr)
        return 2

    import os

    from ragflow_spark.job.session import get_spark

    spark = get_spark(
        master=os.environ.get("CHECK_MASTER", "local[8]"),
        shuffle_partitions=int(os.environ.get("CHECK_SHUFFLE", "8")))
    spark.sparkContext.setLogLevel("ERROR")

    con = oracle_db(sf_dir)
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if name in skip or (only is not None and name not in only):
            if only is None:
                print(f"{name:16s} SKIPPED (--skip)")
            continue
        ok, lines = check_query(spark, con, sf_dir, name, fn,
                                oracles.get(name), pandas_mode)
        failures += not ok
        print("\n".join(lines))
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
