"""Paired benchmark runs: a parent commit against the working tree.

    python tools/bench_pairs.py HEAD --workload web_small --seeds 61..70

Checks ``<parent-ref>`` out into a temporary detached worktree, then for
each seed runs ``perfbench/run.py --trace 0`` once from the parent and
once from the working tree (uncommitted edits included), alternating
which side goes first. The run length is ``run_seconds`` from
``BENCHMARK.json``; the metrics and their directions are its
``end_to_end`` list.

Prints one line per run (seed, side, correct/failed, steal %, metrics),
then per metric each side's median and quartiles, the change's wins
(ties count for neither side) and whether the claim rule holds: the
change wins at least 9/10 of the pairs and its median beats the
parent's by more than the parent's interquartile range. The last line
is the same summary as one JSON object. The worktree is removed at
exit, and nothing under ``perfbench/`` is written.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(spec: str) -> list[int]:
    lo, sep, hi = spec.partition("..")
    if not sep:
        return [int(lo)]
    return list(range(int(lo), int(hi) + 1))


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", str(ROOT), *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def _run(side_dir: Path, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=side_dir, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        raise RuntimeError(f"perfbench failed in {side_dir} (seed {seed}, "
                           f"exit {proc.returncode}):\n{proc.stderr[-2000:]}")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"correct": result["correct"], "failed": result["failed"],
            "steal_pct": detail["labels"]["steal_pct"],
            "metrics": {k: v["value"]
                        for k, v in result["metrics"].items()}}


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], end_to_end: list[dict]
              ) -> dict:
    """Per metric: both sides' quartiles, the change's wins and whether
    the claim rule holds (>= 9/10 wins, median gap > parent IQR)."""
    out = {}
    for m in end_to_end:
        name, sign = m["name"], (1 if m["better"] == "higher" else -1)
        par = [p["metrics"][name] for p, _ in pairs]
        chg = [c["metrics"][name] for _, c in pairs]
        wins = sum(sign * (c - p) > 0 for p, c in zip(par, chg))
        pq, cq = _quartiles(par), _quartiles(chg)
        gap = sign * (cq[1] - pq[1])
        out[name] = {
            "parent": pq, "change": cq, "wins": wins, "pairs": len(pairs),
            "claim_holds": (wins >= 0.9 * len(pairs)
                            and gap > pq[2] - pq[0]),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_ref")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="S..E or one seed")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    seeds = _seeds(args.seeds)
    parent_sha = _git("rev-parse", "--verify", args.parent_ref + "^{commit}")

    # a SIGTERM must still reach the finally below and drop the worktree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = Path(tempfile.mkdtemp(prefix="bench_pairs-"))
    tree = tmp / "parent"
    pairs = []
    try:
        _git("worktree", "add", "--detach", str(tree), parent_sha)
        sides = {"parent": tree, "change": ROOT}
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else \
                ("change", "parent")
            res = {}
            for side in order:
                res[side] = r = _run(sides[side], args.workload, seed,
                                     seconds)
                print(f"seed {seed} {side:6s} correct={r['correct']} "
                      f"failed={r['failed']} steal={r['steal_pct']:.1f}% "
                      + " ".join(f"{k}={v:.4g}"
                                 for k, v in r["metrics"].items()),
                      flush=True)
            pairs.append((res["parent"], res["change"]))
    finally:
        subprocess.run(["git", "-C", str(ROOT), "worktree", "remove",
                        "--force", str(tree)], capture_output=True)
        subprocess.run(["git", "-C", str(ROOT), "worktree", "prune"],
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    summary = summarize(pairs, bench["end_to_end"])
    print(f"\n{args.workload}, parent {parent_sha[:10]} vs working tree, "
          f"{len(pairs)} pairs, seeds {args.seeds}, {seconds} s runs")
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        print(f"{name:16s} parent {p[1]:9.4g} [{p[0]:.4g}, {p[2]:.4g}]  "
              f"change {c[1]:9.4g} [{c[0]:.4g}, {c[2]:.4g}]  "
              f"wins {s['wins']}/{s['pairs']}  "
              f"claim {'holds' if s['claim_holds'] else 'does not hold'}")
    runs = [r for pair in pairs for r in pair]
    print(f"all correct: {all(r['correct'] for r in runs)}, failed: "
          f"{sum(r['failed'] for r in runs)}, steal "
          f"{min(r['steal_pct'] for r in runs):.1f}-"
          f"{max(r['steal_pct'] for r in runs):.1f} %")
    print(json.dumps({"workload": args.workload, "parent": parent_sha,
                      "seeds": seeds, "metrics": summary,
                      "runs": [{"seed": s, "parent": p, "change": c}
                               for s, (p, c) in zip(seeds, pairs)]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
