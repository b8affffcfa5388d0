"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload events_stream --seed 1 --seconds 2 --trace 0

Run it from the repository root. It generates the workload's inputs
from ``--seed`` under ``.bench_work/``, runs the workload in its own
Spark driver process (``worker.py``), and prints as its last stdout
line ``{"correct", "attempted", "failed", "metrics"}``; the line before
it is the run's environment record. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones and writes the
run's spans to ``.bench_work/traces/``.

The worker runs with the repository root as working directory and a
driver memory sized from this machine's RAM. Both work around engine
defects: Python workers started from another directory cannot import
the engine package (``ModuleNotFoundError`` in
``dedup_stream_custom_ttl``), and the engine's 24g driver-memory
default gets the JVM OOM-killed on a 15 GB machine.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import END_TO_END, PKG, WORKLOADS, per_layer_metrics  # noqa: E402

RUN_TIMEOUT_S = 170


def driver_memory() -> str:
    """30% of physical RAM, between 2 and 8 GiB, in MiB."""
    with open("/proc/meminfo") as fh:
        total_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mib = min(max(int(total_kib * 0.3 / 1024), 2048), 8192)
    return f"{mib // 256 * 256}m"


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                if os.getpgid(int(pid)) == pgid:
                    return True
            except OSError:
                pass
    return False


def stop_group(pgid: int) -> None:
    """Stop every process of the worker's group and wait until all ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    traces = os.path.join(ROOT, ".bench_work", "traces")
    for d in (data, tmp, traces):
        os.makedirs(d, exist_ok=True)

    t0 = time.perf_counter()
    truth = w.generate(data, args.seed, w.size)
    gen_s = time.perf_counter() - t0
    input_bytes = os.path.getsize(os.path.join(data, f"{w.table}.parquet"))

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEMORY=os.environ.get("SPARK_DRIVER_MEMORY") or driver_memory(),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
        PYTHONUNBUFFERED="1",
    )
    out_file = os.path.join(work, "result.json")
    spans_file = os.path.join(traces, f"{args.workload}-s{args.seed}.json")
    log_file = os.path.join(work, "worker.log")
    spawn = time.time()
    with open(log_file, "w") as log:
        proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "worker.py"),
                "--workload", args.workload,
                "--data", data,
                "--seconds", str(args.seconds),
                "--trace", str(args.trace),
                "--spawn-time", repr(spawn),
                "--out", out_file,
                "--spans", spans_file,
            ],
            cwd=ROOT,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out_file):
        with open(log_file) as fh:
            tail = fh.read()[-6000:]
        print(tail, file=sys.stderr)
        print(f"worker {'timed out' if code is None else f'exited with {code}'}", file=sys.stderr)
        return 1
    with open(out_file) as fh:
        result = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    environment = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": env["SPARK_DRIVER_MEMORY"],
        "cwd": ROOT,
        "git_commit": git_commit(),
        "input_rows": truth["rows"],
        "input_bytes": input_bytes,
        "planted": truth["planted"],
        "generate_s": gen_s,
        **result.pop("env"),
    }
    print(json.dumps({"environment": environment}))
    units = per_layer_metrics() if args.trace else END_TO_END
    if set(result["metrics"]) != set(units):
        print(f"worker metrics {sorted(result['metrics'])} differ from {sorted(units)}", file=sys.stderr)
        return 1
    metrics = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps({**result, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
