"""Tests of the benchmark itself (not of the library).

    python3 -m pytest perfbench/test_perfbench.py -q

The generator tests need no Spark.  The process tests start the real
command and take about a minute each.
"""

from __future__ import annotations

import contextlib
import filecmp
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402

TRAFFIC = {w["name"]: w["traffic"] for w in json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]}


def _write_inputs(d: str, seed: int) -> None:
    tr = TRAFFIC["cdc_ingest"]
    clock = gen.VirtualClock(seed, tr["rate_eps"])
    os.makedirs(d)
    with open(f"{d}/events.jsonl", "w") as fh:
        fh.write("\n".join(gen.engagement_lines(tr, seed, 2000, 0, clock)))
    changes = [line for _i, line in gen.content_change_lines(tr, seed, 2000, clock)]
    with open(f"{d}/content.jsonl", "w") as fh:
        fh.write("\n".join(gen.content_initial_lines(tr, clock) + changes))
    gen.corpus(f"{d}/documents.parquet", seed, 200, 10, TRAFFIC["corpus_10x"]["near_dup_share"])
    gen.warehouse_tables(f"{d}/tables", seed, 0.001)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _write_inputs(str(tmp_path / name), seed)
    files = ["events.jsonl", "content.jsonl", "documents.parquet"] + [
        f"tables/{t}" for t in sorted(os.listdir(tmp_path / "a" / "tables"))]
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert match == files and not mismatch and not errors
    _match, mismatch, _errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", files, shallow=False)
    # region and nation are fixed tables; every generated input differs
    assert set(mismatch) >= set(files) - {"tables/region.parquet", "tables/nation.parquet"}


def test_traffic_shape():
    tr = TRAFFIC["cdc_ingest"]
    lines = gen.engagement_lines(tr, 3, 20000, 0, gen.VirtualClock(3, tr["rate_eps"]))
    bad = sum(line.startswith('{"payload": {"after": {"id": ') for line in lines)
    parsed = [json.loads(line) for line in lines if not line.startswith('{"payload": {"after"')]
    ids = [(p.get("payload") or {}).get("after", p)["id"] for p in parsed]
    assert abs(bad / len(lines) - tr["malformed_share"]) < 0.005
    assert abs((len(ids) - len(set(ids))) / len(lines) - tr["duplicate_share"]) < 0.01
    users = [int((p.get("payload") or {}).get("after", p)["user_id"]) for p in parsed]
    top = max(users.count(u) for u in set(users))
    assert top / len(users) > 5.0 / tr["users"]  # Zipf: the hottest key is far above uniform


def test_content_changes_follow_the_repository_feed():
    """Every key is created once up front; then updates on about a third
    of the keys and deletes on about a seventeenth, never a re-create,
    and a key's delete never comes before its update."""
    tr = dict(TRAFFIC["cdc_ingest"], contents=3400)
    clock = gen.VirtualClock(5, tr["rate_eps"])
    ops: dict[str, list[str]] = {}
    last_at = {}
    for at, line in gen.content_change_lines(tr, 5, 1000, clock):
        p = json.loads(line)["payload"]
        cid = (p["after"] or p["before"])["id"]
        ops.setdefault(cid, []).append(p["op"])
        assert at >= last_at.get(cid, 0)
        last_at[cid] = at
    assert all(o in (["u"], ["d"], ["u", "d"]) for o in ops.values())
    n = tr["contents"]
    assert abs(sum("u" in o for o in ops.values()) / n - tr["cud_mix"]["u"]) < 0.03
    assert abs(sum("d" in o for o in ops.values()) / n - tr["cud_mix"]["d"]) < 0.015
    assert len(gen.content_initial_lines(tr, clock)) == n


def _bench(*args, cwd=ROOT, env=None, **kw):
    return subprocess.Popen([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args], cwd=cwd,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env, **kw)


@pytest.mark.parametrize("bad", [["--seed", "-1"], ["--seconds", "0"], ["--trace", "2"], ["--workload", "nope"]])
def test_bad_arguments_fail_before_spark(bad):
    args = {"--workload": "cdc_ingest", "--seed": "1", "--seconds": "5", "--trace": "0"}
    args.update(dict(zip(bad[::2], bad[1::2])))
    t = time.time()
    p = _bench(*[x for kv in args.items() for x in kv])
    out, _err = p.communicate(timeout=30)
    assert p.returncode != 0 and out == "" and time.time() - t < 10


@pytest.mark.parametrize("cpus", ["abc", "0", str((os.cpu_count() or 1) + 1)])
def test_bad_spark_graft_cpus_fails_before_spark(cpus):
    p = _bench("--workload", "cdc_ingest", "--seed", "1", "--seconds", "5", "--trace", "0",
               env={**os.environ, "SPARK_GRAFT_CPUS": cpus})
    out, err = p.communicate(timeout=30)
    assert p.returncode != 0 and out == "" and "SPARK_GRAFT_CPUS" in err


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench("--workload", "cdc_ingest", "--seed", "1", "--seconds", "5", "--trace", "0", cwd=str(tmp_path))
    out, _err = p.communicate(timeout=60)
    assert p.returncode != 0 and out == ""


@contextlib.contextmanager
def _running(*args):
    """A benchmark run that is stopped however the test ends."""
    p = _bench(*args)
    try:
        yield p
    finally:
        if p.poll() is None:
            p.send_signal(signal.SIGTERM)
            p.communicate(timeout=60)


def _work_dirs(p) -> list[str]:
    return glob.glob(os.path.join(ROOT, ".perfbench_work", f"*-{p.pid}-*"))


def _wait_for_workload(p) -> None:
    """Until the session is up and the workload has made its first dir."""
    deadline = time.time() + 120
    while not any(os.path.isdir(os.path.join(w, "srv")) for w in _work_dirs(p)):
        assert time.time() < deadline and p.poll() is None, "the workload never started"
        time.sleep(0.2)
    time.sleep(3)  # Spark jobs of the workload are running now


def _marked_by_us(before: set[int]) -> list[int]:
    """Processes started since ``before`` that carry a run marker."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in before:
            try:
                with open(f"/proc/{d}/environ", "rb") as fh:
                    if any(v.startswith(run.MARKER.encode() + b"=") for v in fh.read().split(b"\0")):
                        out.append(int(d))
            except OSError:
                pass
    return out


def _wait_for_java(before: set[int]) -> int:
    """The pid of the run's JVM, once Spark work has started."""
    deadline = time.time() + 120
    while time.time() < deadline:
        for q in _marked_by_us(before):
            try:
                with open(f"/proc/{q}/cmdline", "rb") as fh:
                    argv = fh.read().split(b"\0")
                # the driver JVM, not the short-lived launcher JVM before it
                if (argv[0].endswith(b"java") and b"org.apache.spark.deploy.SparkSubmit" in argv
                        and b"org.apache.spark.launcher.Main" not in argv):
                    return q
            except OSError:
                pass
        time.sleep(0.5)
    raise AssertionError("the run's JVM never started")


def test_normal_exit_leaves_nothing():
    """A run that ends normally prints its result last and leaves no
    process and no work directory behind."""
    before = {int(d) for d in os.listdir("/proc") if d.isdigit()}
    with _running("--workload", "corpus_10x", "--seed", "1", "--seconds", "1", "--trace", "0") as p:
        out, _err = p.communicate(timeout=180)
    assert p.returncode == 0
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"} and res["correct"]
    assert set(res["metrics"]) == set(worker.END_TO_END)
    assert _marked_by_us(before) == []
    assert _work_dirs(p) == []


@pytest.mark.parametrize("sig", [signal.SIGTERM, signal.SIGINT])
def test_signal_mid_run_leaves_nothing(sig):
    before = {int(d) for d in os.listdir("/proc") if d.isdigit()}
    with _running("--workload", "serving_rw", "--seed", "1", "--seconds", "30", "--trace", "0") as p:
        _wait_for_workload(p)
        p.send_signal(sig)
        out, _err = p.communicate(timeout=60)
    assert p.returncode == 128 + sig
    assert out == ""
    assert _marked_by_us(before) == []
    assert _work_dirs(p) == []


def test_worker_error_leaves_nothing():
    """The JVM dies mid-workload: the worker's next Spark call fails, the
    run ends without a result and nothing it started survives."""
    before = {int(d) for d in os.listdir("/proc") if d.isdigit()}
    with _running("--workload", "serving_rw", "--seed", "1", "--seconds", "30", "--trace", "0") as p:
        java = _wait_for_java(before)
        _wait_for_workload(p)
        os.kill(java, signal.SIGKILL)
        out, _err = p.communicate(timeout=120)
    assert p.returncode != 0 and out == ""
    assert _marked_by_us(before) == []
    assert _work_dirs(p) == []


def test_benchmark_json_declares_workloads_as_defined():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    defined = {w["name"]: w["why"] for w in json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]}
    assert bench["workloads"] and all(defined.get(w["name"]) == w["why"] for w in bench["workloads"])
    assert {m["name"] for m in bench["end_to_end"]} == set(worker.END_TO_END)
