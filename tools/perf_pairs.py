"""Alternating parent/change pairs of the repo benchmark.

    python3 tools/perf_pairs.py --base HEAD~1 [--pairs 10]

Runs ``perfbench/run.py`` (untraced, 12 s, the same runs as ``make
perf``) N times for each of the ``serve_hot`` and ``refresh`` workloads
on each of two checkouts: the *parent* — the committed files of ``--base``,
extracted with ``git archive`` under ``.perfbench_work/`` — and the
*change*, this checkout as it stands. Pair i uses seed i for both
sides, and which side runs first alternates from pair to pair, so the
host's drift over the session falls on both sides alike.

Prints, per workload and end-to-end metric of ``BENCHMARK.json``, each
side's median and quartiles, and in how many pairs the change was
better (in the metric's ``better`` direction), plus every run's
``failed`` count. The last line of standard output is one JSON object
holding every run's metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve_hot", "refresh")
SECONDS = 12


def _parent_checkout(ref: str) -> str:
    """The committed files of ``ref`` under ``.perfbench_work/``,
    extracted once per commit."""
    sha = subprocess.run(["git", "rev-parse", "--verify", ref + "^{commit}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    dest = os.path.join(ROOT, ".perfbench_work", f"parent-{sha[:12]}")
    if not os.path.isdir(dest):
        with tempfile.TemporaryFile() as tar:
            subprocess.run(["git", "archive", sha], cwd=ROOT, check=True,
                           stdout=tar)
            tar.seek(0)
            with tarfile.open(fileobj=tar) as t:
                t.extractall(dest + ".tmp")
        os.rename(dest + ".tmp", dest)
    return dest


def _run(checkout: str, workload: str, seed: int) -> dict:
    """One untraced run; its last-line JSON, or a failed record when
    the run produced none."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(SECONDS), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(proc.stderr[-2000:])
    return {"correct": False, "failed": None, "metrics": {}}


def _quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True,
                    help="git ref of the parent side")
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    sides = {"parent": _parent_checkout(args.base), "change": ROOT}
    runs: dict = {w: {"parent": [], "change": []} for w in WORKLOADS}
    for seed in range(1, args.pairs + 1):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for w in WORKLOADS:
            for side in order:
                got = _run(sides[side], w, seed)
                runs[w][side].append(got)
                p50 = got["metrics"].get("query_p50_ms", {}).get("value")
                print(f"pair {seed} {w} {side}: failed={got['failed']} "
                      f"query_p50_ms={p50}", flush=True)

    for w in WORKLOADS:
        print(f"\n{w} ({args.pairs} pairs; median [q1, q3]; change "
              "better in n pairs)")
        for side in ("parent", "change"):
            fails = [r["failed"] for r in runs[w][side]]
            print(f"  {side} failed per run: {fails}")
        for m in e2e:
            name = m["name"]
            vals = {side: [r["metrics"].get(name, {}).get("value")
                           for r in runs[w][side]]
                    for side in ("parent", "change")}
            if any(v is None for vs in vals.values() for v in vs):
                print(f"  {name}: missing in some runs")
                continue
            lower = m["better"] == "lower"
            wins = sum((c < p) if lower else (c > p)
                       for p, c in zip(vals["parent"], vals["change"]))
            cols = []
            for side in ("parent", "change"):
                q1, med, q3 = _quartiles(vals[side])
                cols.append(f"{side} {med:.4g} [{q1:.4g}, {q3:.4g}]")
            print(f"  {name:26s} {cols[0]:34s} {cols[1]:34s} "
                  f"{wins}/{args.pairs}")
    print(json.dumps({"base": args.base, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
