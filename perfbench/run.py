#!/usr/bin/env python3
"""Run one benchmark workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload ops_batch|serve_read|serve_rw \
      --seed N --seconds S --trace 0|1

Builds the program and the benchmark if their sources changed
(perfbench/build.py), runs the workload in one JVM at sf0.1, relays its
output and exits with its code. The last line of standard output is the
result object {"correct", "attempted", "failed", "metrics"}; the line
before it carries the host-weather canaries, per-dialect latencies and
any wrong answers. Exits nonzero, without a result line, when the build
fails or the run exceeds its time limit; exits 1 when an output check
fails.

Environment: PERFBENCH_FIXTURES (default ~/testdata/sf0.1, the location
TESTDATA.md gives) names the sf0.1 fixture directory; its sibling sf0.001
is the warm-up scale.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("ops_batch", "serve_read", "serve_rw")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=str(HERE / "data"),
                    help="directory of committed expectations (tests swap in a doctored copy)")
    a = ap.parse_args()

    build.build(ROOT)
    fixtures = Path(os.environ.get("PERFBENCH_FIXTURES", Path.home() / "testdata" / "sf0.1"))
    if not fixtures.is_dir():
        raise SystemExit(f"run: no fixtures at {fixtures}")
    tiny = fixtures.parent / "sf0.001"
    work = ROOT / ".bench_work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ)
    # Spark's SPARK_LOCAL_DIRS would override spark.local.dir (set under work)
    env.pop("SPARK_LOCAL_DIRS", None)
    # a shorter canary: two readings per run stay a small share of it
    env["SPARK_GRAFT_CANARY_ITERS"] = "100000000"
    t0_ms = int(time.time() * 1000)
    cmd = build.java_cmd(ROOT, work, "graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--fixtures", str(fixtures), "--tiny", str(tiny),
        "--data", str(Path(a.data).resolve()), "--work", str(work), "--t0-ms", str(t0_ms)])
    err_path = work / "stderr.log"
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             text=True, env=env, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.stderr.write(err_path.read_text()[-4000:])
            shutil.rmtree(work, ignore_errors=True)
            raise SystemExit(f"run: {a.workload} exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if p.returncode not in (0, 1) or result is None or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(err_path.read_text()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"run: {a.workload} ended with code {p.returncode} and no result")
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
