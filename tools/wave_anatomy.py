"""Where a run_job wave's wall time goes: task time against time with no
task running, job by job, from the Spark event log.

    python tools/wave_anatomy.py --workload web_small --seed 5 --reps 4
    python tools/wave_anatomy.py --checkout ../parent --workload web_small

Builds the input, the session and its configuration with perfbench's own
setup (``perfbench.run.Bench`` of the checkout measured, which is this
one unless ``--checkout`` names another), with the event log switched
on, uncompressed, in one file. It then runs one warm-up repetition of
one wave and ``--reps`` measured ones, checks each one's output as
perfbench does, stops the session and reads the log back.

For each measured repetition it prints the wall, the number of Spark
jobs, the time at least one task was running (``busy``) and the time no
task ran (``idle``), then one line per job: its start offset from the
repetition's start, its start gap (the time since the latest end of the
jobs started before it, or since the repetition started; negative when
it started while another job still ran), its duration, its task count
and its result stage's name. The last line is a JSON summary with the
median wall and idle time. Everything the run writes lives in a
temporary directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _union_ms(spans: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted(spans):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def read_event_log(log_dir: str) -> tuple[dict, list[tuple[int, int]]]:
    """Jobs (id -> submit ms, end ms, result stage name, n tasks) and task
    (launch ms, finish ms) spans of the one application in ``log_dir``."""
    (name,) = os.listdir(log_dir)
    jobs, tasks, stage_job = {}, [], {}
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                stages = ev["Stage Infos"]
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"], "end": None,
                    "stage": max(stages, key=lambda s: s["Stage ID"])
                    ["Stage Name"] if stages else "",
                    "tasks": 0}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                tasks.append((info["Launch Time"], info["Finish Time"]))
                job = stage_job.get(ev["Stage ID"])
                if job is not None:
                    jobs[job]["tasks"] += 1
    return jobs, tasks


def anatomy(jobs: dict, tasks: list, lo: int, hi: int) -> dict:
    """The split of one repetition's window [lo, hi] (epoch ms)."""
    mine = sorted((j for j in jobs.values() if lo <= j["submit"] <= hi),
                  key=lambda j: j["submit"])
    busy = _union_ms([t for t in tasks if lo <= t[0] <= hi], lo, hi)
    rows, latest_end = [], lo
    for j in mine:
        end = j["end"] if j["end"] is not None else hi
        rows.append({"start_ms": j["submit"] - lo,
                     "gap_ms": j["submit"] - latest_end,
                     "dur_ms": end - j["submit"], "tasks": j["tasks"],
                     "stage": j["stage"]})
        latest_end = max(latest_end, end)
    return {"wall_ms": hi - lo, "jobs": rows, "busy_ms": busy,
            "idle_ms": hi - lo - busy}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="web_small",
                    choices=("web_small", "large_mixed"))
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--reps", type=int, default=4,
                    help="measured repetitions after the warm-up")
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] level; default: every CPU")
    ap.add_argument("--checkout", default=ROOT,
                    help="root of the checkout to measure")
    args = ap.parse_args()
    checkout = os.path.abspath(args.checkout)
    sys.path.insert(0, checkout)
    from perfbench import run as pb

    work = tempfile.mkdtemp(prefix="wave-anatomy-")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    pb._prepare_env(work, traced=False)
    submit = shlex.split(os.environ["PYSPARK_SUBMIT_ARGS"])
    extra = {"spark.eventLog.enabled": "true",
             "spark.eventLog.compress": "false",
             "spark.eventLog.rolling.enabled": "false",
             "spark.eventLog.dir": f"file://{log_dir}"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        submit[:-1] + [a for k, v in extra.items()
                       for a in ("--conf", f"{k}={v}")] + submit[-1:])

    bench = pb.Bench(argparse.Namespace(
        workload=args.workload, seed=args.seed, cores=args.cores,
        scale=1.0, trace=0), work)
    windows = []
    try:
        spark = bench.setup()
        try:
            for k in range(args.reps + 1):
                lo = int(time.time() * 1000)
                rep = bench.run_rep(spark, k)
                windows.append((lo, int(time.time() * 1000)))
                if k == 0:
                    bench.make_reference(spark, rep["out"])
                bench.check_rep(rep)
        finally:
            pb._stop_spark(spark)  # also writes out the event log
        jobs, tasks = read_event_log(log_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    reps = [anatomy(jobs, tasks, lo, hi) for lo, hi in windows[1:]]
    for k, a in enumerate(reps, 1):
        print(f"rep {k}: wall {a['wall_ms']} ms, {len(a['jobs'])} jobs, "
              f"busy {a['busy_ms']} ms, idle {a['idle_ms']} ms")
        for j in a["jobs"]:
            print(f"  start {j['start_ms']:6d}  gap {j['gap_ms']:6d}  "
                  f"dur {j['dur_ms']:6d}  tasks {j['tasks']:3d}  "
                  f"{j['stage'][:50]}")
    print(json.dumps({
        "checkout": checkout, "workload": args.workload, "seed": args.seed,
        "correct": not bench.errors,
        "wall_ms": [a["wall_ms"] for a in reps],
        "idle_ms": [a["idle_ms"] for a in reps],
        "wall_ms_median": statistics.median(a["wall_ms"] for a in reps),
        "idle_ms_median": statistics.median(a["idle_ms"] for a in reps)}))
    return 0 if not bench.errors else 1


if __name__ == "__main__":
    sys.exit(main())
