"""cdc_ingest: the paper's write path, live and in a burst.

Part one is an open-loop stream at the offered rate through
``maintain_dim_table`` plus ``start_enriched_warehouse_pipeline`` (the
ClickHouse leg with a live dimension): a writer thread drops a file of
the events that fell due every tick into the engagement topic
directory, and content changes into the content topic directory.
Each event's freshness runs from the time it was due to the end of
the micro-batch that committed it; events map to batches by
cumulative ``numInputRows``, because the file source consumes files in
the order they appeared.  Part two drops one-shot bursts, each one
file, into the running pipeline's topic and times each drain, from
the drop to the end of the micro-batch that committed it.
"""

from __future__ import annotations

import bisect
import os
import threading
import time

import pyspark.sql.functions as F

import common
import gen

TICK_S = 0.1
BURST_ID0 = 10_000_000  # burst event ids start here (live ids from 0, warm-up from 5,000,000)
BURST_SEQ = 100_000  # topic file numbers of the bursts
DRAIN_TIMEOUT_S = 40


def _write_file(topic_dir: str, seq: int, lines: list[str]) -> float:
    """Publish one topic file atomically (the file source skips dot files)."""
    tmp = os.path.join(topic_dir, f".{seq:06d}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(topic_dir, f"{seq:06d}.jsonl"))
    return time.time()


def _wait_rows(listener, query, rows: int, timeout_s: float) -> list[dict]:
    """Progress reports of ``query`` once it has read ``rows`` input rows."""
    deadline = time.time() + timeout_s
    while True:
        evs = listener.for_query(str(query.id))
        if sum(e["numInputRows"] for e in evs) >= rows:
            return evs
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"stream read {sum(e['numInputRows'] for e in evs)} of {rows} rows in {timeout_s} s")
        time.sleep(0.05)


def _mismatch(a, b) -> int:
    """Rows in one frame and not the other, both ways (multiset)."""
    cols = sorted(a.columns)
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def _inputs(ctx):
    tr = ctx.traffic
    clock = gen.VirtualClock(ctx.seed, tr["rate_eps"])
    n_live = int(tr["rate_eps"] * ctx.seconds)
    return {
        "live": gen.engagement_lines(tr, ctx.seed, n_live, 0, clock),
        "warmup": gen.engagement_lines(tr, ctx.seed, tr["warmup_events"], 5_000_000, clock),
        "content0": gen.content_initial_lines(tr, clock),
        "changes": gen.content_change_lines(tr, ctx.seed, n_live, clock),
        "bursts": [gen.engagement_lines(tr, ctx.seed, tr["burst_events"], BURST_ID0 * (b + 1), clock)
                   for b in range(tr["bursts"])],
    }


def _start_dim(ctx, listener, inputs, d: str):
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import pipeline as P

    os.makedirs(f"{d}/content")
    _write_file(f"{d}/content", 0, inputs["content0"])
    q = P.maintain_dim_table(ctx.spark, P.read_json_lines_stream(ctx.spark, f"{d}/content"), f"{d}/dim", f"{d}/ck_dim")
    _wait_rows(listener, q, len(inputs["content0"]), DRAIN_TIMEOUT_S)
    return q


def run(ctx) -> dict:
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark import lakehouse
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import cdc, enrich, rollups
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import pipeline as P

    # streaming spans carry no job tag: a query's jobs are attributed by
    # its runId, and PySpark's listener cannot convert the started event
    # of a query started with a job tag set
    spark, tr, T = ctx.spark, ctx.traffic, ctx.tracer
    listener = common.make_progress_listener()
    spark.streams.addListener(listener)

    # set-up: inputs plus the dimension's initial state
    d = ctx.path("cdc")
    t = time.time()
    inputs = _inputs(ctx)
    with T.span("streaming.pipeline.maintain_dim_table", tag=False):
        dim_q = _start_dim(ctx, listener, inputs, d)
    setup_s = time.time() - t

    # live part: open loop at the offered rate
    rate, live = tr["rate_eps"], inputs["live"]
    os.makedirs(f"{d}/events")
    # untimed batches first (the bootstrap merge, then a merge into an
    # existing table), so the live window measures a warm pipeline
    warm = inputs["warmup"]
    n_warm = tr["warmup_batches"]
    _write_file(f"{d}/events", 0, warm[: len(warm) // n_warm])
    with T.span("streaming.pipeline.start_enriched_warehouse_pipeline", tag=False):
        wh_q = P.start_enriched_warehouse_pipeline(
            spark, P.read_json_lines_stream(spark, f"{d}/events"), f"{d}/dim", f"{d}/warehouse", f"{d}/ck_wh")
    _wait_rows(listener, wh_q, len(warm) // n_warm, DRAIN_TIMEOUT_S)
    for k in range(1, n_warm):
        part = warm[k * len(warm) // n_warm:(k + 1) * len(warm) // n_warm]
        _write_file(f"{d}/events", k, part)
        _wait_rows(listener, wh_q, (k + 1) * len(warm) // n_warm, DRAIN_TIMEOUT_S)
    files: list[tuple[int, float]] = []  # (lines offered so far, time visible)
    t0 = time.time() + 0.2

    def writer():
        seq, sent, ch = n_warm, 0, inputs["changes"]
        ci = 0
        while sent < len(live):
            due = min(len(live), int((time.time() - t0) * rate) + 1) if time.time() >= t0 else 0
            if due > sent:
                files.append((due, _write_file(f"{d}/events", seq, live[sent:due])))
                cl = []
                while ci < len(ch) and ch[ci][0] < due:
                    cl.append(ch[ci][1])
                    ci += 1
                if cl:
                    _write_file(f"{d}/content", seq + 1, cl)
                seq, sent = seq + 1, due
            time.sleep(TICK_S - (time.time() - t0) % TICK_S)

    w = threading.Thread(target=writer, name="open-loop-writer", daemon=True)
    w.start()
    w.join()
    wh_ev = _wait_rows(listener, wh_q, len(warm) + len(live), DRAIN_TIMEOUT_S)
    n_content = len(inputs["content0"]) + len(inputs["changes"])
    dim_ev = _wait_rows(listener, dim_q, n_content, DRAIN_TIMEOUT_S)
    live_end = time.time()

    # freshness per event, batches located by cumulative numInputRows
    batches = [e for e in wh_ev if e["numInputRows"] > 0][n_warm:]  # warm-up batches are not measured
    cum, ends = [], []
    for e in batches:
        cum.append((cum[-1] if cum else 0) + e["numInputRows"])
        ends.append(common.progress_end_s(e))
    bad = '{"payload": {"after": {"id": '
    fresh_ms, late_ms = [], []
    fi = 0
    for i, line in enumerate(live):
        while files[fi][0] <= i:
            fi += 1
        due_t = t0 + i / rate
        late_ms.append((files[fi][1] - due_t) * 1000)
        if line != bad:
            fresh_ms.append((ends[bisect.bisect_right(cum, i)] - due_t) * 1000)

    # burst part: each burst is dropped as one file into the running
    # pipeline's topic; it drains in one micro-batch, timed from the drop
    os.makedirs(f"{d}/bursts")
    drains, burst_batches, seen = [], [], len(warm) + len(live)
    for b, lines in enumerate(inputs["bursts"]):
        _write_file(f"{d}/bursts", b, lines)  # a copy for the check and the prefix split
        with T.span("streaming.pipeline.burst", tag=False):
            tb = _write_file(f"{d}/events", BURST_SEQ + b, lines)
            seen += len(lines)
            last = [e for e in _wait_rows(listener, wh_q, seen, DRAIN_TIMEOUT_S) if e["numInputRows"] > 0][-1]
        drains.append(common.progress_end_s(last) - tb)
        burst_batches.append(last)
    wh_q.stop()
    dim_q.stop()

    # checks (untimed)
    wcols = P.WAREHOUSE_COLUMNS
    dim_cols = {"content_type", "length_seconds", "engagement_pct"}
    changes = cdc.unwrap_content(spark.read.text(f"{d}/content"))
    final_dim = P.read_dim(spark, f"{d}/dim")
    dim_bad = _mismatch(final_dim, enrich.compact_dim_latest(changes))

    def expected(topic):
        ev = cdc.unwrap_engagement(spark.read.text(topic))
        return rollups.dedup_latest_event_version(enrich.enrich_events(ev, final_dim)).select(*wcols)

    live_tab = lakehouse.read_merged(spark, f"{d}/warehouse").select(*wcols)
    ev_cols = [c for c in wcols if c not in dim_cols]
    live_bad = _mismatch(live_tab.select(*ev_cols), expected(f"{d}/events").select(*ev_cols))
    # the dimension changed under the live stream, so each row's content
    # fields must match some version the content topic offered
    versions = changes.where(~changes.is_delete).selectExpr("id AS content_id", "content_type", "length_seconds")
    live_bad += (live_tab.where("content_type IS NOT NULL").select("content_id", "content_type", "length_seconds")
                 .join(versions, ["content_id", "content_type", "length_seconds"], "left_anti").count())
    # no content changed during the bursts: their rows must match exactly
    burst_tab = live_tab.where(F.col("event_id") >= BURST_ID0)
    burst_bad = _mismatch(burst_tab, expected(f"{d}/bursts"))
    n_events = len(fresh_ms) + sum(len(x) for x in inputs["bursts"])
    attempted = n_events + n_content
    failed = min(attempted, dim_bad + live_bad + burst_bad)

    burst_lines = tr["burst_events"]
    out = {
        "setup_s": setup_s,
        "pass_s": drains,
        "latency_ms": fresh_ms,
        "attempted": attempted,
        "failed": failed,
        "checks": {"dim_rows_wrong": dim_bad, "live_rows_wrong": live_bad, "burst_rows_wrong": burst_bad},
        "detail": {
            "live_freshness_p50_s": common.median(fresh_ms) / 1000,
            "live_freshness_p99_s": common.tail(fresh_ms, 99)["value"] / 1000,
            "live_freshness_tail_pct": common.tail(fresh_ms, 99)["pct"],
            "live_events": len(fresh_ms),
            "live_batches": len(batches),
            "burst_eps": burst_lines / common.median(drains),
            "burst_drains_s": drains,
            "burst_events": burst_lines,
            "offered_rate_eps": rate,
        },
        "layers": {},
        "_state": {"d": d, "wh": wh_q, "dim_ev": dim_ev, "batches": batches, "files": files, "cum": cum,
                   "t0": t0, "live_end": live_end, "late_ms": late_ms, "bursts": burst_batches},
    }
    if ctx.trace:
        out["layers"].update(_prefix_split(ctx, f"{d}/bursts/000000.jsonl", final_dim))
    return out


def _prefix_split(ctx, topic: str, dim) -> dict:
    """Self time of the lazy unwrap and enrich layers on the burst input,
    split by materializing each prefix of the plan in turn."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import cdc, enrich

    spark, T = ctx.spark, ctx.tracer
    dim = dim.cache()
    dim.count()
    raw = spark.read.text(topic)
    times = {}
    for name, df in (("source", raw), ("operators.cdc.unwrap_engagement", cdc.unwrap_engagement(raw)),
                     ("operators.enrich.enrich_events", enrich.enrich_events(cdc.unwrap_engagement(raw), dim))):
        runs = []
        for _ in range(3):
            with T.span(f"prefix.{name}") as s:
                df.write.mode("overwrite").format("noop").save()
            runs.append(s["end"] - s["start"])
        times[name] = common.median(runs)
    dim.unpersist()
    return {
        "operators.cdc.unwrap_engagement.self_s": (times["operators.cdc.unwrap_engagement"] - times["source"], "s"),
        "operators.enrich.enrich_events.self_s": (times["operators.enrich.enrich_events"] - times["operators.cdc.unwrap_engagement"], "s"),
    }


def _dur(e: dict, *keys: str) -> float:
    return float(sum(e["durationMs"].get(k, 0) for k in keys))


def event_layers(ctx, out: dict, ev: common.EventLog, udf_s: float) -> dict:
    st = out.pop("_state")
    batches = st["batches"]
    dim_batches = [e for e in st["dim_ev"] if e["numInputRows"] > 0]
    files = st["files"]
    # files each live batch consumed: its backlog when it started
    bounds = [f[0] for f in files]
    prev, lag = 0, []
    for c in st["cum"]:
        lag.append(bisect.bisect_right(bounds, c - 1) - bisect.bisect_right(bounds, prev - 1))
        prev = c
    busy = sum(_dur(e, "triggerExecution") for e in batches) / 1000.0
    window = st["live_end"] - st["t0"]
    run_id = str(st["wh"].runId)
    live_jobs = set().union(*(ev.job_ids(group=run_id, batch=e["batchId"]) for e in batches))
    d = st["d"]
    tab_files, tab_bytes = common.dir_stats(f"{d}/warehouse")
    wh_sum = ev.summary(ev.job_ids(group=run_id), window, ctx.cores)
    b0 = st["bursts"][0]
    burst_jobs = ev.job_ids(group=run_id, batch=b0["batchId"])
    burst_sum = ev.summary(burst_jobs, b0["durationMs"]["triggerExecution"] / 1000.0, ctx.cores)
    return {
        "sources.gen_late_ms_p99": (common.tail(st["late_ms"], 99)["value"], "ms"),
        "sources.lag_files_max": max(lag, default=0),
        "streaming.pipeline.warehouse.planning_ms_p50": (
            common.median([_dur(e, "getBatch", "latestOffset", "queryPlanning") for e in batches]), "ms"),
        "streaming.pipeline.warehouse.commit_ms_p50": (
            common.median([_dur(e, "walCommit", "commitOffsets") for e in batches]), "ms"),
        "streaming.pipeline.warehouse.addBatch_ms_p50": (common.median([_dur(e, "addBatch") for e in batches]), "ms"),
        "streaming.pipeline.dim.addBatch_ms_p50": (common.median([_dur(e, "addBatch") for e in dim_batches]), "ms"),
        "streaming.pipeline.jobs_per_batch": (len(live_jobs) / max(1, len(batches)), "count"),
        "streaming.pipeline.idle_frac": (max(0.0, 1 - busy / window), "ratio"),
        "lakehouse.merge_upsert.write_amp": (wh_sum["output_bytes"] / max(1, tab_bytes), "ratio"),
        "lakehouse.merge_upsert.files_out": tab_files,
        "cdc_ingest.executor_busy_frac": (burst_sum["executor_busy_frac"], "ratio"),
    }
