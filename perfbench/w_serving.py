"""serving_rw: the Redis leg, one closed-loop client.

The client alternates one ``serving.apply_serving_increment`` (the exact
per-epoch call ``start_serving_sink`` makes) with a batch of point reads
in the ESJ key mix, keys drawn from the generator's Zipf distribution.
Reads and writes share one partition layout, so a layout change that
speeds one and slows the other shows here.  A traced ``cdc_ingest`` run
ends with one cycle of this workload (its ``traced_leg`` in
``workloads.json``), so the ``serving.*`` layer metrics come from every
traced run of a declared workload.
"""

from __future__ import annotations

import os
import shutil
import time

import common
import gen

GETTERS = ("get_user_leaderboard", "get_latest_event", "get_event_counter", "get_trending")
MERGES = ("merge_leaderboard_increment", "merge_trending_increment",
          "merge_latest_event_increment", "merge_event_counters_increment")


def _enriched_inputs(ctx, d: str):
    """Generated events, unwrapped and enriched once, stored as parquet:
    the serving layer only ever sees enriched rows."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import cdc, enrich

    tr, spark = ctx.traffic, ctx.spark
    clock = gen.VirtualClock(ctx.seed, tr["rate_eps"])
    n = tr["initial_events"] + tr["increment_events"] * tr["max_increments"]
    lines = gen.engagement_lines(tr, ctx.seed, n, 0, clock)
    with open(f"{d}/events.jsonl", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(f"{d}/content.jsonl", "w") as fh:
        fh.write("\n".join(gen.content_initial_lines(tr, clock)) + "\n")
    dim = enrich.compact_dim_latest(cdc.unwrap_content(spark.read.text(f"{d}/content.jsonl")))
    ev = enrich.enrich_events(cdc.unwrap_engagement(spark.read.text(f"{d}/events.jsonl")), dim)
    # offer order = event id order; re-deliveries keep their first slot
    ev.repartition(1).sortWithinPartitions("event_id").write.parquet(f"{d}/enriched")
    return spark.read.parquet(f"{d}/enriched")


def _slices(ev, tr):
    import pyspark.sql.functions as F

    ids = [r[0] for r in ev.select("event_id").distinct().orderBy("event_id").collect()]
    cuts = [0, tr["initial_events"]] + [tr["initial_events"] + tr["increment_events"] * (k + 1)
                                        for k in range(tr["max_increments"])]
    out = []
    for a, b in zip(cuts, cuts[1:]):
        if a >= len(ids):
            break
        hi = ids[min(b, len(ids)) - 1]
        out.append(ev.where((F.col("event_id") >= ids[a]) & (F.col("event_id") <= hi)))
    return out


def _reads(ctx, rng):
    """One cycle's point reads, (getter, args), in the ``read_mix`` shares
    with Zipf-drawn keys."""
    tr = ctx.traffic
    mix = [g for g in GETTERS for _ in range(tr["read_mix"][g])]
    n = tr["reads_per_cycle"]
    users = gen.zipf_ids(rng, n, tr["users"], tr["zipf_user"])
    contents = gen.zipf_ids(rng, n, tr["contents"], tr["zipf_content"])
    kinds = rng.integers(0, len(gen.EVENT_TYPES), n)
    args = {
        "get_user_leaderboard": lambda i: (int(users[i]),),
        "get_latest_event": lambda i: (int(users[i]), int(contents[i])),
        "get_event_counter": lambda i: (gen.EVENT_TYPES[kinds[i]],),
        "get_trending": lambda i: (),
    }
    return [(mix[i % len(mix)], args[mix[i % len(mix)]](i)) for i in range(n)]


def run(ctx) -> dict:
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark import serving as S

    spark, tr, T = ctx.spark, ctx.traffic, ctx.tracer
    d = ctx.path("srv")
    os.makedirs(d)
    t = time.time()
    ev = _enriched_inputs(ctx, d)
    slices = _slices(ev, tr)
    with T.span("serving.materialize_serving_tables"):
        S.materialize_serving_tables(slices[0], f"{d}/state")
    for g, args in dict(_reads(ctx, gen.rng_for(ctx.seed, "warm"))).items():
        getattr(S, g)(spark, f"{d}/state", *args).collect()  # each getter's first plan, untimed
    setup_s = time.time() - t
    base = f"{d}/state"

    rng = gen.rng_for(ctx.seed, "reads")
    writes, lookups, per_getter = [], [], {g: [] for g in GETTERS}
    read_log, failed_ops, attempted = [], 0, 0
    t_end = time.time() + ctx.seconds
    k = 0
    while k + 1 < len(slices) and (k == 0 or time.time() < t_end):
        k += 1
        attempted += 1
        with T.span("serving.apply_serving_increment", op=T.new_op()):
            t = time.time()
            S.apply_serving_increment(spark, base, slices[k], epoch=k)
            writes.append(time.time() - t)
        for g, args in _reads(ctx, rng):
            attempted += 1
            op = T.new_op()
            t = time.time()
            try:
                with T.span(f"serving.{g}.build", op=op):
                    df = getattr(S, g)(spark, base, *args)
                with T.span(f"serving.{g}.collect", op=op):
                    rows = df.collect()
            except Exception as e:  # a failed read counts, the loop goes on
                failed_ops += 1
                print(f"perfbench: {g}{args} failed: {e}")
                continue
            dt_ms = (time.time() - t) * 1000
            lookups.append(dt_ms)
            per_getter[g].append(dt_ms)
            read_log.append((k, g, args, rows))
    folded = k

    # check (untimed): the final cycle's reads against a batch recomputation
    # over every event folded so far
    wrong = _check(slices[: folded + 1], [r for r in read_log if r[0] == folded])
    state_files, state_bytes = common.dir_stats(base)
    out = {
        "setup_s": setup_s,
        "pass_s": writes,
        "latency_ms": lookups,
        "attempted": attempted,
        "failed": min(attempted, failed_ops + wrong),
        "checks": {"final_reads_wrong": wrong, "reads_failed": failed_ops},
        "detail": {
            "serve_write_p50_s": common.median(writes),
            "serve_write_p90_s": common.tail(writes, 90)["value"],
            "serve_write_tail_pct": common.tail(writes, 90)["pct"],
            "lookup_p50_ms": common.median(lookups),
            "lookup_p99_ms": common.tail(lookups, 99)["value"],
            "lookup_tail_pct": common.tail(lookups, 99)["pct"],
            "increments": folded,
            "lookups_by_getter_p50_ms": {g: common.median(v) for g, v in per_getter.items()},
        },
        "layers": {"serving.state_files": state_files, "serving.state_bytes": (state_bytes, "bytes")},
        "_state": {"base": base, "slices": slices, "folded": folded},
    }
    if ctx.trace:
        out["layers"].update(_merge_split(ctx, slices, folded))
    return out


def _check(folded_slices, reads) -> int:
    """Rows that differ between each read and the same key looked up in
    ``rollups`` recomputed from scratch over the folded events."""
    import pyspark.sql.functions as F

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import rollups

    all_ev = folded_slices[0]
    for s in folded_slices[1:]:
        all_ev = all_ev.unionByName(s)
    all_ev = all_ev.cache()
    lb = rollups.user_leaderboard(all_ev).where("rnk <= 10").cache()
    latest = rollups.latest_event(all_ev).cache()
    counters = rollups.event_counters(all_ev).collect()
    trending = rollups.trending_recent(all_ev).collect()

    def canon(rows, cols):
        return sorted(tuple(repr(r[c]) for c in cols) for r in rows)

    wrong = 0
    for _k, g, args, rows in reads:
        if g == "get_user_leaderboard":
            exp = lb.where(F.col("user_id") == args[0]).collect()
            cols = ["user_id", "content_id", "total_score", "rnk"]
        elif g == "get_latest_event":
            exp = latest.where((F.col("user_id") == args[0]) & (F.col("content_id") == args[1])).collect()
            cols = ["user_id", "content_id", "event_id", "event_ts", "engagement_score"]
        elif g == "get_event_counter":
            exp = [r for r in counters if r["event_type"] == args[0]]
            cols = ["event_type", "cnt"]
        else:
            exp = trending
            cols = ["minute_bucket", "content_id", "total_score", "rnk"]
        a, b = canon(rows, cols), canon(exp, cols)
        if a != b:
            wrong += max(1, len(set(a) ^ set(b)))
            print(f"perfbench: {g}{args}: got {a[:3]} expected {b[:3]}")
    all_ev.unpersist()
    return wrong


def _merge_split(ctx, slices, folded) -> dict:
    """Each public merge timed on its own, on a copy of the final state,
    folding one more increment (traced run only)."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark import serving as S

    spark, T = ctx.spark, ctx.tracer
    d = ctx.path("merge_split")
    shutil.copytree(ctx.path("srv", "state"), d)
    nxt = slices[min(folded + 1, len(slices) - 1)].cache()
    nxt.count()
    out = {}
    for m in MERGES:
        fn = getattr(S, m)
        with T.span(f"serving.{m}") as s:
            if m == "merge_latest_event_increment":
                fn(spark, d, nxt)
            else:
                fn(spark, d, nxt, epoch=folded + 1)
        out[f"serving.{m}.self_s"] = (T.self_time(s), "s")
    nxt.unpersist()
    return out


def event_layers(ctx, out: dict, ev: common.EventLog, udf_s: float) -> dict:
    T = ctx.tracer
    out.pop("_state")
    res = {}
    incs = T.named("serving.apply_serving_increment")
    res["serving.apply_serving_increment.self_s_p50"] = (common.median([T.self_time(s) for s in incs]), "s")
    jobs = [len(ev.job_ids(tags=[s["tag"]])) for s in incs]
    res["serving.apply_serving_increment.jobs"] = common.median(jobs)
    res["serving.apply_serving_increment.files_written"] = common.median(
        [ev.sql_metric(ev.job_ids(tags=[s["tag"]]), common.FILES_WRITTEN) for s in incs])
    for g in GETTERS:
        b = T.named(f"serving.{g}.build")
        c = T.named(f"serving.{g}.collect")
        res[f"serving.{g}.build_ms"] = (1000 * common.median([s["end"] - s["start"] for s in b]), "ms")
        res[f"serving.{g}.collect_ms"] = (1000 * common.median([s["end"] - s["start"] for s in c]), "ms")
        res[f"serving.{g}.files_scanned"] = common.median([ev.sql_metric(ev.job_ids(tags=[s["tag"]]), common.FILES_READ) for s in c])
    return res
