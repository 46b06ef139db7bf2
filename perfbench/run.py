"""Boosting benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads: train_dense, train_many_rounds and
query_mix (see workloads.py for what each stresses).  Each run
starts one fresh worker process with the host pinned in its environment:

- SPARK_GRAFT_CPUS = the CPUs this process may run on, so the program's
  local[N] matches the host instead of its default of 32;
- SPARK_DRIVER_MEM = a quarter of physical memory, at most 4g, below the
  program's 16g default;
- the console progress bar off;
- the JVM's JIT limited to its first tier (-XX:TieredStopAtLevel=1): with
  the full tiered JIT a fresh JVM took five fits (about 30 s) to reach a
  steady fit time, 1.8x faster than its first, which no run can afford to
  wait for; first-tier code is near steady after one warm-up operation.
  The cost: a fit takes about 1.8x as long as a steady full-JIT fit, and
  the difference is JVM-side work (generated code, shuffle) -- the Python
  driver is not JIT-compiled -- so the figures over-weight the JVM side: a
  JVM-side gain reads larger here than in a long-lived full-JIT process,
  a driver-side gain smaller;
- TMPDIR, SPARK_LOCAL_DIRS and java.io.tmpdir inside .perfbench/ in the
  checkout, so a run writes nothing outside it.

The worker generates its inputs from the seed, runs an untimed warm-up
operation, then runs operations back to back (closed loop, one client) for
``--seconds`` and checks each output against an independent reference.  The
last line printed is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (whose spans go to .perfbench/spans-*.jsonl).

End-to-end metrics:
- op_s: median wall seconds of one operation -- a fit (train_s) on the
  train_* workloads, one pass over the 17 queries (query_mix_s) on
  query_mix;
- setup_s: session start, input generation (and warm_cache on query_mix)
  and the untimed warm-up operation, excluding the correctness checks.

The line before the JSON restates them under the workload's own names
(train_s, query_mix_s), with train_hamming_loss, the CPU seconds per
operation of the JVM tree plus driver (op_cpu_s, reported but not gated:
its run-to-run spread on a shared host exceeded 20%) and error_rate.
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
WORKLOADS = ("train_dense", "train_many_rounds", "query_mix")
TIMEOUT_S = 170  # the whole run must end within 180 s


def _driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return f"{min(4096, total_mb // 4)}m"


def _group_members(pgid: int) -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if fields[0] != "Z" and int(fields[2]) == pgid:  # zombies hold nothing
                    pids.append(int(p))
            except (OSError, IndexError, ValueError):
                pass
    return pids


def _reap_group(pgid: int) -> None:
    """Stop every process left in the worker's process group (the JVM and
    its Python workers) and wait until none remains."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if not _group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while _group_members(pgid) and time.monotonic() < end:
            time.sleep(0.1)
    if _group_members(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("spark_multiboost_spark/__init__.py", "tests/harness.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2

    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    data = os.path.join(run_dir, "data")
    for d in (tmp, data):
        os.makedirs(d, exist_ok=True)
    spans = os.path.join(base, f"spans-{args.workload}-seed{args.seed}.jsonl")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=_driver_mem(),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYTHONPATH=root,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f"'-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1' pyspark-shell"
        ),
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data-dir", data, "--spans", spans]
    proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        out = None
    finally:
        _reap_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None or proc.returncode != 0:
        return 1
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print("perfbench: worker printed no result", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
