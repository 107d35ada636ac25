"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload {ingest,scan,all} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Stdout ends with a report line
(``{"report": ...}``: every end-to-end metric with unit and sample count,
recorded inputs, checks, failures) and then the result line
(``{"correct", "attempted", "failed", "metrics"}``). With ``--trace 0``
the result metrics are the end-to-end metrics; with ``--trace 1`` they
are the per-layer metrics of a traced run. ``--workload all`` runs the
workloads one after another, each in its own process.

All scratch files live under ``.perfbench_work/`` in the working
directory and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("ingest", "scan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)

    root = os.getcwd()
    workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every scratch file (package zip, Spark blocks, Python
    # workers' temp files) inside the working directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    try:
        from perfbench.workloads import Run

        report, result = Run(args.workload, args.seed, args.seconds, bool(args.trace), workdir, T_START).execute()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Run each workload in its own process, then print one combined
    result line whose metric names are prefixed by the workload."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"workload {w} failed with exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print(lines[-2])
        res = json.loads(lines[-1])
        combined["correct"] = combined["correct"] and res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{w}.{k}"] = v
    print(json.dumps(combined))
    return 0


if __name__ == "__main__":
    sys.exit(main())
