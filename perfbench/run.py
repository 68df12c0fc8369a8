"""Benchmark entry point for the full-text engine.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 --trace 0

Runs one workload (see README.md in this directory) against the
package ``hadoop_search_engine_spark`` in the checkout that contains
this directory. Human-readable ``metric ...`` lines come first; the
last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics from a
traced run (``--trace 1``). Everything the run writes stays under
``.perfbench_work/`` in the checkout; the span trace of a traced run
is kept there as ``traces/<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment(work: str) -> None:
    """Engine knobs at their defaults, Spark's Python workers able to
    import the package, and every temporary file inside ``work``."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher's too, would otherwise write its
    # hsperfdata file to the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import workloads  # fails here when the package is absent

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    tempfile.tempdir = None  # re-read TMPDIR
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work)
    try:
        workloads.run_workload(args.workload, run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if run.traced:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        run.rec.dump(os.path.join(base, "traces", f"{args.workload}-{args.seed}.jsonl"))

    for line in run.lines:
        print(line)
    attempted = max(1, run.attempted)
    print(f"metric failed_frac = {run.failed / attempted:.6g} share "
          f"(n={attempted})")
    chosen = run.layer if run.traced else run.e2e
    if run.traced:
        print(f"trace: {len(run.rec.spans)} spans")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
