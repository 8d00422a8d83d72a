"""One workload in one process: start the session, run, check, report.

Started by ``run.py`` (never run by hand): it owns the Spark session,
stops every streaming query and then the session in ``finally`` (also
on SIGTERM), and writes ``result.json`` into its work directory.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import common  # noqa: E402

MODULES = {
    "cdc_ingest": "w_cdc",
    "serving_rw": "w_serving",
    "corpus_10x": "w_corpus",
    "warehouse_queries": "w_warehouse",
}
# Every end-to-end metric, in BENCHMARK.json order, with its unit.
END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms"}


class Ctx:
    """What a workload gets: the session, its inputs' seed and traffic
    properties, the run length, a private work dir and the tracer."""

    def __init__(self, args, traffic: dict):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = args.work
        self.traffic = traffic
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.tracer = common.Tracer(self.trace)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def start_session(ctx: Ctx):
    java_opts = f"-Djava.io.tmpdir={ctx.path('tmp')}"
    conf = [f"--driver-java-options {java_opts}"]
    if ctx.trace:
        os.makedirs(ctx.path("eventlog"))
        conf += ["--conf spark.eventLog.enabled=true", "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{ctx.path('eventlog')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.session import get_spark

    with ctx.tracer.span("session.get_spark", tag=False):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if ctx.trace:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    ctx.tracer.spark = spark
    return spark


def stop_session(spark) -> None:
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception as e:  # keep stopping the rest
            print(f"perfbench: stopping query {q.id}: {e}", file=sys.stderr)
    spark.stop()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=list(MODULES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, required=True)
    p.add_argument("--work", required=True)
    args = p.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        defs = {w["name"]: w for w in json.load(fh)["workloads"]}
    mod = importlib.import_module(MODULES[args.workload])
    ctx = Ctx(args, defs[args.workload]["traffic"])
    leg = defs[args.workload].get("traced_leg") if ctx.trace else None
    with common.RssSampler() as rss:
        t0 = time.time()
        spark = ctx.spark = start_session(ctx)
        session_s = time.time() - t0
        try:
            out = mod.run(ctx)
            udf_s = common.udf_profile_seconds(spark) if ctx.trace else 0.0
            if leg:
                leg_mod, leg_ctx, leg_out = _run_leg(ctx, leg, defs)
                leg_udf_s = common.udf_profile_seconds(spark) - udf_s
        finally:
            stop_session(spark)
    lat = out["latency_ms"]
    values = {
        "setup_s": session_s + out["setup_s"],
        "pass_s": common.median(out["pass_s"]),
        "latency_p50_ms": common.median(lat),
        "latency_p90_ms": common.pct(lat, 90),
    }
    detail = {
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "samples": {"pass_s": len(out["pass_s"]), "latency_ms": len(lat)},
        "fail_frac": out["failed"] / max(1, out["attempted"]),
        # reported, not gated: JVM heap growth depends on GC timing
        "peak_rss_mb": rss.peak_mb,
        "checks": out.get("checks", {}),
        **out["detail"],
    }
    if ctx.trace:
        ev = common.EventLog(ctx.path("eventlog"))
        layers = {"session.get_spark_s": (session_s, "s"), **out["layers"]}
        layers.update(mod.event_layers(ctx, out, ev, udf_s))
        if leg:
            layers.update(leg_out["layers"])
            layers.update(leg_mod.event_layers(leg_ctx, leg_out, ev, leg_udf_s))
            detail["traced_leg"] = {"workload": leg["workload"], "setup_s": leg_out["setup_s"],
                                    "checks": leg_out["checks"], **leg_out["detail"]}
            out["attempted"] += leg_out["attempted"]
            out["failed"] += leg_out["failed"]
            detail["fail_frac"] = out["failed"] / max(1, out["attempted"])
        declared = _declared_layers(args.workload)
        if declared:
            detail["not_exercised"] = sorted(set(declared) - set(layers))
            detail["extra_layers"] = {k: v for k, v in _with_units(layers).items() if k not in declared}
            layers = {k: layers.get(k, (0.0, u)) for k, u in declared.items()}
        metrics = {k: {"value": float(v[0]), "unit": v[1]} for k, v in _with_units(layers).items()}
        ctx.tracer.write(ctx.path("spans.jsonl"))
        detail["spans"] = len(ctx.tracer.spans)
        detail["unmeasured"] = out.get("unmeasured", {})
        detail["end_to_end_traced"] = values
    else:
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    correct = out["failed"] == 0
    result = {"correct": correct, "attempted": int(out["attempted"]), "failed": int(out["failed"]), "metrics": metrics}
    with open(ctx.path("result.json.tmp"), "w") as fh:
        json.dump({"result": result, "detail": detail}, fh)
    os.replace(ctx.path("result.json.tmp"), ctx.path("result.json"))
    return 0


def _run_leg(ctx: Ctx, leg: dict, defs: dict):
    """A traced run's extra leg: another workload's code run once, on the
    same session and tracer, after the workload itself (so it changes
    none of the workload's end-to-end values).  Its traffic is that
    workload's, with the leg's overrides."""
    mod = importlib.import_module(MODULES[leg["workload"]])
    args = argparse.Namespace(seed=ctx.seed, seconds=0, trace=1, work=ctx.work)
    leg_ctx = Ctx(args, {**defs[leg["workload"]]["traffic"], **leg["traffic"]})
    leg_ctx.spark, leg_ctx.tracer = ctx.spark, ctx.tracer
    return mod, leg_ctx, mod.run(leg_ctx)


def _declared_layers(workload: str) -> dict:
    """Per-layer metric names and units declared in BENCHMARK.json, when
    it declares this workload: the traced run then reports every one, 0
    for a layer the workload does not call (listed as ``not_exercised``).
    A workload run by name only reports its own layers."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return {}
    with open(path) as fh:
        bench = json.load(fh)
    if workload not in {w["name"] for w in bench["workloads"]}:
        return {}
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


def _with_units(layers: dict) -> dict:
    """Per-layer values carry their unit as ``(value, unit)``; a bare
    number is a count."""
    return {k: (v if isinstance(v, tuple) else (v, "count")) for k, v in layers.items()}


if __name__ == "__main__":
    sys.exit(main())
