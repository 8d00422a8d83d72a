"""Benchmark command: run one workload in a supervised child process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1

Validates its arguments and ``SPARK_GRAFT_CPUS`` before any Spark work,
then starts ``worker.py`` in a process group of its own with a
parent-death signal.  The worker (and the JVM and Python workers it
starts, which inherit the group and the run's marker variable) is
stopped on exit, on SIGTERM/SIGINT, on timeout and on error; before
this command exits it scans ``/proc`` for any process still carrying
the run's marker and fails loudly if one survives.  The last line of
standard output is the result JSON of the workload.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import uuid

from common import MARKER, marked_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_cdc_analytics_pipeline_with_clickhouse_spark"
RUN_TIMEOUT_S = 170  # a run must end within 180 s
GRACE_S = 10


class Abort(Exception):
    """A signal asked the command to stop."""

    def __init__(self, signum: int):
        super().__init__(signal.Signals(signum).name)
        self.signum = signum


def fail(msg: str) -> None:
    """Bad configuration: say so and exit 2 before any work."""
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def load_workloads() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return {w["name"]: w for w in json.load(fh)["workloads"]}


def parse_args(argv: list[str], workloads: dict) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*workloads, "all"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    p.add_argument("--spans", default=None, help="write the traced run's spans here (JSON lines)")
    a = p.parse_args(argv)
    if not 0 <= a.seed < 2**32:
        p.error(f"--seed must be in [0, 2**32), got {a.seed}")
    if not 1 <= a.seconds <= 120:
        p.error(f"--seconds must be in [1, 120], got {a.seconds}")
    return a


def resolve_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` must be an integer from 1 to nproc; unset, it is
    pinned to nproc (the library would otherwise assume 32 task threads)."""
    nproc = len(os.sched_getaffinity(0))
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return nproc
    try:
        cpus = int(raw)
    except ValueError:
        fail(f"SPARK_GRAFT_CPUS={raw!r} is not an integer")
    if not 1 <= cpus <= nproc:
        fail(f"SPARK_GRAFT_CPUS={cpus} is outside 1..{nproc} (nproc)")
    return cpus


def check_program() -> None:
    """Fail before any work when the program under test is not here."""
    missing = [p for p in (PACKAGE, "__spark_entry__.py", "bench.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"program files missing from {ROOT}: {', '.join(missing)}")


def host_info() -> dict:
    model = platform.processor() or "unknown"
    try:
        with open("/proc/cpuinfo") as fh:
            model = next((ln.split(":", 1)[1].strip() for ln in fh if ln.startswith("model name")), model)
    except OSError:
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": model, "loadavg_1m": os.getloadavg()[0]}


def _set_pdeathsig() -> None:
    libc = ctypes.CDLL("libc.so.6", use_errno=True)
    libc.prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def stop_group(proc: subprocess.Popen, token: str) -> list[int]:
    """SIGTERM the worker's group, wait, SIGKILL what remains; returns the
    marked processes still alive afterwards (should be none)."""
    for sig, wait_s in ((signal.SIGTERM, GRACE_S), (signal.SIGKILL, 5)):
        pids = marked_pids(token)
        if proc.poll() is None or pids:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.time() + wait_s
        while time.time() < deadline:
            proc.poll()
            if proc.returncode is not None and not marked_pids(token):
                return []
            time.sleep(0.1)
    proc.poll()
    return marked_pids(token)


def run_one(name: str, args: argparse.Namespace, cpus: int, info: dict) -> dict | None:
    token = uuid.uuid4().hex
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}-{token[:8]}")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.update({
        MARKER: token,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": env.get("SPARK_DRIVER_MEM", "2g"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", name, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    proc = None
    survivors: list[int] = []
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True, preexec_fn=_set_pdeathsig,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: {name} exceeded {RUN_TIMEOUT_S} s; stopping it", file=sys.stderr)
        survivors = stop_group(proc, token)
        if survivors:
            raise RuntimeError(f"processes outlived the {name} run: {survivors}")
        path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.isfile(path):
            print(f"perfbench: {name} worker exited with code {proc.returncode}", file=sys.stderr)
            return None
        with open(path) as fh:
            res = json.load(fh)
        if args.spans and os.path.isfile(os.path.join(work, "spans.jsonl")):
            shutil.copyfile(os.path.join(work, "spans.jsonl"), args.spans)
        res["detail"]["host"] = info
        return res
    finally:
        if proc is not None:
            survivors = stop_group(proc, token)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))
        if survivors:
            print(f"perfbench: FATAL: processes survived the run: {survivors}", file=sys.stderr)


def _on_signal(signum, _frame):
    raise Abort(signum)


def main(argv: list[str]) -> int:
    workloads = load_workloads()
    args = parse_args(argv, workloads)
    cpus = resolve_cpus()
    check_program()
    info = host_info()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    names = list(workloads) if args.workload == "all" else [args.workload]
    results = {}
    try:
        for name in names:
            base = None
            if args.trace and len(names) > 1:
                # tracing overhead = traced minus untraced, per end-to-end metric
                base = run_one(name, argparse.Namespace(**{**vars(args), "trace": 0}), cpus, info)
            res = run_one(name, args, cpus, info)
            if res is None or (args.trace and len(names) > 1 and base is None):
                return 1
            if base is not None:
                traced = res["detail"]["end_to_end_traced"]
                res["detail"]["tracing_overhead"] = {
                    k: traced[k] - v["value"] for k, v in base["result"]["metrics"].items()}
            results[name] = res
            print(json.dumps({"workload": name, **res["detail"]}, sort_keys=True))
    except Abort as e:
        print(f"perfbench: stopped by {e}", file=sys.stderr)
        return 128 + e.signum
    if len(names) == 1:
        out = results[names[0]]["result"]
    else:
        rs = [r["result"] for r in results.values()]
        out = {
            "correct": all(r["correct"] for r in rs),
            "attempted": sum(r["attempted"] for r in rs),
            "failed": sum(r["failed"] for r in rs),
            "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["result"]["metrics"].items()},
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
