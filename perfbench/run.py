"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Every run starts from the same state: a fresh
run directory under ``.perfbench/`` holds a copy of the catalog (the
repository's fixed seed-42 test tables, kept byte for byte under
``perfbench/data/`` and checked against ``SHA256SUMS``), ``TMPDIR``,
``SPARK_LOCAL_DIRS``, the JVM's temp dir and the staged layout, and is removed
when the run ends. The run pins its own environment (``SPARK_GRAFT_CPUS`` and
DuckDB threads from the core count, ``PYTHONPATH`` at the checkout so Python
workers import the package from any directory), starts ``harness.py`` in its
own session, waits for it, stops anything it left behind and prints the
result JSON as the last line of standard output. A side record of every pass
wall (and, with ``--trace 1``, every span) goes to ``.perfbench/out/``; with
``--trace 1`` this script adds to it the host gauge timed after the worker has
ended, while no process of the package runs.

``--sf`` overrides the workload's scale factor (the self-check uses 0.001).
"""

from __future__ import annotations

import argparse
import hashlib
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

#: a run that has not finished by then is stopped and reported as failed
DEADLINE_S = 170.0
#: host gauges timed after a traced worker has ended, following IDLE_WARMUP_S of
#: untimed ones: the vCPUs run the gauge about twice as slow for the first
#: second of load after the host has been idle
IDLE_GAUGES = 9
IDLE_WARMUP_S = 1.5


def catalog_copy(sf: float, dest: str) -> str:
    """Copy the scale-``sf`` catalog from ``perfbench/data`` into ``dest``
    after checking every file against ``SHA256SUMS``; returns ``dest``."""
    data = os.path.join(HERE, "data")
    with open(os.path.join(data, "SHA256SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    prefix = f"sf{sf:g}/"
    files = [(digest, rel) for digest, rel in sums if rel.startswith(prefix)]
    if not files:
        raise SystemExit(f"perfbench: no catalog for sf{sf:g} in {data}")
    os.makedirs(dest)
    for digest, rel in files:
        with open(os.path.join(data, rel), "rb") as f:
            blob = f.read()
        if hashlib.sha256(blob).hexdigest() != digest:
            raise SystemExit(f"perfbench: {rel} does not match SHA256SUMS")
        with open(os.path.join(dest, os.path.basename(rel)), "wb") as f:
            f.write(blob)
    return dest


def idle_gauges(cpus: int) -> list[float]:
    """``IDLE_GAUGES`` timings of the host gauge, taken in this process while
    no process of the package runs, after ``IDLE_WARMUP_S`` of warm-up."""
    import duckdb

    from harness import host_gauge

    con = duckdb.connect()
    con.execute(f"SET threads = {cpus}")
    try:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < IDLE_WARMUP_S:
            host_gauge(con)
        return [host_gauge(con) for _ in range(IDLE_GAUGES)]
    finally:
        con.close()


def stop_group(pgid: int) -> None:
    """Stop every process left in the worker's session (the JVM and Python
    workers it may have left behind) and wait until none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            time.sleep(0.1)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "duckdb_fastlanes_spark", "__init__.py")):
        print(f"perfbench: no duckdb_fastlanes_spark package under {ROOT}", file=sys.stderr)
        return 2
    from harness import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sf = WORKLOADS[args.workload][0] if args.sf is None else args.sf

    base = os.path.join(ROOT, ".perfbench")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local")):
        os.makedirs(d)
    try:
        data = catalog_copy(sf, os.path.join(run_dir, "data", f"sf{sf:g}"))
        cpus = len(os.sched_getaffinity(0))
        env = dict(os.environ)
        env.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
            SPARK_GRAFT_CPUS=str(cpus),
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_SF_DIR"):
            env.pop(k, None)
        result = os.path.join(run_dir, "result.json")
        side = os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        )
        cmd = [
            sys.executable, os.path.join(HERE, "harness.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--run-dir", run_dir, "--out", result, "--side", side,
        ]
        # the worker's stdout goes to stderr: the result is the only stdout line
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {DEADLINE_S:.0f} s, stopped", file=sys.stderr)
            code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
        if code != 0 or not os.path.exists(result):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result) as f:
            line = json.dumps(json.load(f))
        if args.trace:
            with open(side) as f:
                record = json.load(f)
            record["idle_gauge_s"] = idle_gauges(cpus)
            with open(side, "w") as f:
                json.dump(record, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
