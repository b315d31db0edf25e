"""Benchmark entry point.

    python3 perfbench/run.py --workload city_job --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Sizes the Spark session from the host
(cores, RAM), starts ``perfbench/worker.py`` in a session of its own with
every temporary directory inside ``.perfbench_work/`` and prints one JSON
line as the last line of stdout: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  A traced run also samples the
memory of the whole process tree (Python driver, JVM, Python UDF workers).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: a run that takes longer is killed and reported failed
CHILD_TIMEOUT_S = 170
POLL_S = 0.2
#: reading smaps_rollup of a large JVM costs CPU, so memory is sampled sparsely
SAMPLE_EVERY_S = 1.0


def _load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _host_env(root: str, work: str) -> dict:
    """Session sizing from outside, applied before the first ``get_spark``."""
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=f"{max(2, min(8, mem_gb // 4))}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        # every JVM, spark-submit's launcher too: -UsePerfData writes no
        # hsperfdata file outside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _session_members(sid: int) -> list[int]:
    """Pids of every process in a session.  The worker is a session leader,
    and the JVM and pyspark's Python daemon and workers stay in its session,
    although the daemon moves them to a process group of their own."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[3]) == sid:
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def _session_pss(sid: int) -> int:
    """Proportional set size of a session, in bytes: pages shared by
    the forked Python workers count once, split between them."""
    total = 0
    for pid in _session_members(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def _stop_session(sid: int) -> None:
    """Stop every process left in the session and wait until all have ended."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if not _session_members(sid):
            return
        for pid in _session_members(sid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        end = time.time() + wait_s
        while time.time() < end and _session_members(sid):
            time.sleep(0.1)


def run_child(args, root: str, work: str) -> tuple[dict | None, list]:
    """Run the worker; a traced run also samples the session's memory."""
    result = os.path.join(work, "result.json")
    stderr = os.path.join(work, "child.stderr")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--trace", str(args.trace),
           "--work", work, "--result", result, "--stderr", stderr]
    samples = []
    with open(stderr, "wb") as err, open(os.path.join(work, "child.stdout"), "wb") as out:
        child = subprocess.Popen(cmd, cwd=root, env=_host_env(root, work), stdout=out,
                                 stderr=err, start_new_session=True)
        try:
            deadline = time.time() + CHILD_TIMEOUT_S
            next_sample = 0.0
            while child.poll() is None and time.time() < deadline:
                if args.trace and time.time() >= next_sample:
                    samples.append((time.time(), _session_pss(child.pid)))
                    next_sample = time.time() + SAMPLE_EVERY_S
                time.sleep(POLL_S)
        finally:
            if child.poll() is None:
                child.kill()
            child.wait()
            _stop_session(child.pid)
    if child.returncode != 0 or not os.path.exists(result):
        with open(stderr, "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        print(f"worker exited {child.returncode}:\n{tail}", file=sys.stderr)
        return None, samples
    with open(result) as fh:
        return json.load(fh), samples


def peak_mb(rec: dict, samples: list) -> float:
    """Highest sampled memory of the process tree during the timed passes."""
    return max((b for t, b in samples if any(lo <= t <= hi for lo, hi in rec["windows"])),
               default=0) / 2**20


def end_to_end(rec: dict) -> dict:
    wall = rec.get("wall", 0.0)
    return {
        "setup_s": rec["setup_s"],
        "wall_s": wall,
        "rows_per_s": rec["rows"] / wall if wall else 0.0,
        "written_bytes_per_input_byte": rec.get("written", 0) / rec["input_bytes"],
    }


def main() -> int:
    spec = _load_spec()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured time; a run is one cold pass, which lasts longer")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "main.py"))
            and os.path.isdir(os.path.join(root, "osm_cycling_quality_index_spark"))):
        print("run from the root of an osm_cycling_quality_index_spark checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        rec, samples = run_child(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    if rec is None:
        return 1

    kind = "per_layer" if args.trace else "end_to_end"
    values = {**rec["layer"], "mem.peak_pss_mb": peak_mb(rec, samples)} if args.trace \
        else end_to_end(rec)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    for err in rec["errors"]:
        print(f"FAILED {err}", file=sys.stderr)
    print(f"failed_frac {rec['failed'] / rec['attempted']:.4f} "
          f"({rec['failed']} of {rec['attempted']} operations)")
    if args.trace:
        print("n/a, the layer does no work on this workload (reported as 0): "
              + (", ".join(rec["na"]) or "none"))
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
