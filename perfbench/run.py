"""Crawl benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 10 --trace 0

Generates the workload's input from ``--seed`` once (cached under
``.bench_cache/``), runs the workload in a fresh process on
``local[nproc]``, checks its outputs against the simulator and prints, as
the last line of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. The line before it (``# run-info ...``) records cores, heap, RAM and
the host's steal% / sys% over the run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402
from config import CACHE, ROOT, WORKLOADS, HostNoise, workload  # noqa: E402

#: wall-time limit of one run, input generation included; the measured
#: process is stopped when it would pass it, and the run fails
RUN_LIMIT_S = 150.0


def _on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the benchmark's own tests")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "twittercrawler_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    # the JVM, the pyspark daemon and its workers are re-parented here when
    # their parents end; all of them are stopped and reaped before we return
    procs.become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _on_signal)
    try:
        return _run(a, t_start)
    finally:
        procs.stop_descendants()


def _run(a: argparse.Namespace, t_start: float) -> int:
    sys.path.insert(0, ROOT)
    from inputs import ensure_inputs

    w = workload(a.workload, a.scale)
    os.makedirs(CACHE, exist_ok=True)
    inputs = ensure_inputs(w, a.seed, a.scale)

    out = os.path.join(CACHE, f"result-{os.getpid()}.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    # keep every file Python, Spark and the JVMs write inside the checkout
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--scale", a.scale, "--inputs", inputs, "--out", out,
    ]
    with HostNoise() as noise:
        # the child's stdout goes to our stderr: only the result is on stdout
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr)
        try:
            rc = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            print(f"perfbench: measured process passed {RUN_LIMIT_S:.0f} s", file=sys.stderr)
            return 1
        finally:
            procs.stop_descendants()  # what the child's JVM left behind ends first
            shutil.rmtree(os.path.join(CACHE, f"work-{proc.pid}"), ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: measured process failed (exit {rc})", file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    for err in res["errors"]:
        print(err, file=sys.stderr)

    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "scale": a.scale,
        "steal_pct": noise.steal_pct, "sys_pct": noise.sys_pct, **res["info"],
    }
    record = {"info": info, "attempted": res["attempted"], "failed": res["failed"],
              "metrics": res["metrics"]}
    with open(os.path.join(CACHE, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print("# run-info " + json.dumps(info))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
