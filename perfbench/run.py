"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload sql_star --seed 1 --seconds 10 --trace 0

Run from the repository root. Prepares the workload's inputs for the
seed (untimed, under ``.perfbench/``), then starts the measured run in a
fresh process with cwd = repository root and its own environment
(``run_env`` below), and prints one JSON object as the last line of
stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see BENCHMARK.json). The client is
closed loop with one caller: queries run one after another on
``local[<cpus>]``. The measured process's log and its spans stay in
``.perfbench/``. Exits non-zero without a result when the engine is not
present or the run fails.
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

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
# Every run must end within this many seconds, builds excluded.
RUN_LIMIT_S = 175.0
# The engine's driver heap. Its own default (48g) is sized for a large
# host; the inputs here need far less.
DRIVER_MEM = "2g"


def run_env(root: str, work: str, sf_dir: str) -> dict[str, str]:
    """The measured process's environment: all cores of this machine,
    the workload's data dir (the engine sizes shuffle width from it), a
    driver heap that fits the host, and temp/local dirs private to the
    run so staged copies never leak between runs and writes can be
    counted."""
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "TMPDIR")
    }
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "PYTHONHASHSEED": "0",
    })
    return env


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _reap(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the process group (JVM, Python workers)
    and wait until all of it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 15
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def spawn(root: str, env: dict, argv: list[str], log_path: str, limit: float) -> dict:
    """Run worker.py with ``argv`` in a fresh process; return its result."""
    result = os.path.join(os.path.dirname(log_path), "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *argv,
           "--result", result, "--spawned-at", repr(time.monotonic())]
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, limit))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            _reap(proc)
    if rc != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"measured process ended with {rc}")
    with open(result) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    root = os.getcwd()
    for need in ("etl_spark_eks_spark/registry.py", "tests/compare.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2

    wl = WORKLOADS[args.workload]
    top = os.path.join(root, ".perfbench")
    work = os.path.join(top, f"run-{wl.name}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log = os.path.join(work, "worker.log")
    try:
        sf_dir = wl.inputs(os.path.join(work, "data"), args.seed)
        env = run_env(root, work, sf_dir)
        spans = os.path.join(top, f"spans-{wl.name}-s{args.seed}-t{args.trace}.jsonl")
        result = spawn(
            root, env,
            ["--workload", wl.name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--spans", spans],
            log, RUN_LIMIT_S - (time.monotonic() - t_start),
        )
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        if os.path.exists(log):
            shutil.move(log, os.path.join(top, f"{wl.name}-s{args.seed}-t{args.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
