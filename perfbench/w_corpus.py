"""corpus_10x: data-volume-bound curation, four stages chained.

Ten clones of a generated corpus (some clones with one word changed)
go through ``quality.quality_signals`` (keep ``quality_ok``), the
MinHash-LSH near-dup keeper ``dedup.fuzzy_dedup_keep``,
``lm_filter.perplexity_filter`` against an LM trained in set-up on the
trusted slice, and ``dsir.dsir_select`` towards that slice.  Each stage
writes its output as parquet, the way a staged curation pipeline
hands work on, so every stage has its own time.
"""

from __future__ import annotations

import contextlib
import os
import time

import common
import gen

STAGES = ("operators.quality", "operators.dedup", "operators.lm_filter", "operators.dsir")


def _setup(ctx, d: str) -> dict:
    import pyspark.sql.functions as F

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import lm_filter

    tr, spark = ctx.traffic, ctx.spark
    os.makedirs(f"{d}/corpus")
    gen.corpus(f"{d}/corpus/documents.parquet", ctx.seed, tr["base_docs"], tr["replicas"], tr["near_dup_share"])
    docs = spark.read.parquet(f"{d}/corpus/documents.parquet")
    # the trusted slice: first clone of each English document
    target = docs.where((F.col("lang") == "en") & (F.col("doc_id") % tr["replicas"] == 0)).select("doc_id", "text")
    lm_filter.train_ngram_lm(target, f"{d}/lm")
    return {"docs": docs, "target": target, "lm": f"{d}/lm"}


def _pass(ctx, st: dict, out_dir: str, trace: bool = True) -> list[float]:
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import dedup, dsir, lm_filter, quality

    spark, tr, T = ctx.spark, ctx.traffic, ctx.tracer
    docs = st["docs"]
    times = []

    def stage(i: int, df):
        with T.span(STAGES[i]) if trace else contextlib.nullcontext() as s:
            t = time.time()
            df.write.parquet(f"{out_dir}/s{i}")
            times.append(time.time() - t)
        return spark.read.parquet(f"{out_dir}/s{i}"), s

    q = quality.quality_signals(docs)
    s0, _ = stage(0, docs.join(q.where("quality_ok").select("doc_id"), "doc_id", "left_semi"))
    s1, _ = stage(1, s0.join(dedup.fuzzy_dedup_keep(s0).select("doc_id"), "doc_id", "left_semi"))
    s2, _ = stage(2, lm_filter.perplexity_filter(spark, s1, st["lm"], tr["max_ppl"]))
    s3, _ = stage(3, dsir.dsir_select(s2, st["target"], k=tr["dsir_k"], n_buckets=tr["dsir_buckets"], temperature=0.5))
    dsir.release_dsir_caches()
    return times


def _twin(ctx, name: str, sf_dir: str) -> int:
    """Rows that differ between ``queries()[name]`` and its DuckDB twin
    from ``oracle_sql()`` over the same corpus."""
    import duckdb

    import __spark_entry__ as E

    df = E.queries()[name](ctx.spark, sf_dir)
    scols, srows = df.columns, [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    res = con.sql(E.oracle_sql()[name])
    ocols, orows = [c[0] for c in res.description], res.fetchall()
    con.close()
    a, b = common.canon_rows(scols, srows), common.canon_rows(ocols, orows)
    return 0 if (sorted(scols) == sorted(ocols) and a == b) else max(1, len(set(a) ^ set(b)))


def _check(ctx, st: dict, out_dir: str) -> dict:
    """Stated invariants of each stage's output (no oracle twin exists
    for the chained stages)."""
    import pyspark.sql.functions as F

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import lm_filter

    spark, tr = ctx.spark, ctx.traffic
    s = [spark.read.parquet(f"{out_dir}/s{i}") for i in range(4)]
    subset = lambda a, b: a.join(b, "doc_id", "left_anti").count()  # noqa: E731
    n2 = s[2].count()
    ppl = lm_filter.perplexity_score(spark, s[1], st["lm"]).where(F.col("ppl") <= tr["max_ppl"]).count()
    return {
        "quality_not_subset": subset(s[0], st["docs"]),
        "dedup_not_subset": subset(s[1], s[0]),
        "dedup_exact_dups_left": s[1].groupBy("text").count().where("count > 1").count(),
        "lm_not_subset": subset(s[2], s[1]),
        "lm_wrong_count": abs(n2 - ppl),
        "dsir_wrong_count": abs(s[3].count() - min(tr["dsir_k"], n2)),
        "dsir_dup_ids": s[3].count() - s[3].select("doc_id").distinct().count(),
    }


def run(ctx) -> dict:
    tr = ctx.traffic
    d = ctx.path("corpus")
    t = time.time()
    st = _setup(ctx, d)
    setup_s = time.time() - t
    # untimed warm-up: the oracle twins (their Spark side starts the
    # Python workers and compiles the quality and LM code), then one
    # whole pass, which compiles every stage's code paths
    checks = {"quality_twin_rows_wrong": _twin(ctx, "quality_signals", f"{d}/corpus"),
              "lm_twin_rows_wrong": _twin(ctx, "lm_perplexity", f"{d}/corpus")}
    t = time.time()
    _pass(ctx, st, f"{d}/warmup", trace=False)
    warmup_s = time.time() - t
    passes, stage_s = [], []
    t_end = time.time() + ctx.seconds
    p = 0
    while p < tr["min_passes"] or time.time() < t_end:
        out_dir = f"{d}/pass{p}"
        times = _pass(ctx, st, out_dir)
        passes.append(sum(times))
        stage_s.append(times)
        p += 1
    # latency: how long after a pass starts each stage's output is
    # ready, the median over passes per stage.  The p50 lies halfway
    # down the chain; the p90 (nearest rank of four) is the whole chain,
    # so it equals pass_s.  One stage's own time, a median of three
    # samples, moved too much from run to run to be gated.
    ready_ms = [1000 * common.median([sum(times[:i + 1]) for times in stage_s]) for i in range(len(STAGES))]
    checks.update(_check(ctx, st, out_dir))
    failed = sum(1 for v in checks.values() if v)
    return {
        "setup_s": setup_s,
        "pass_s": passes,
        "latency_ms": ready_ms,
        "attempted": 4 * p + 2,
        "failed": failed,
        "checks": checks,
        "detail": {"corpus_pass_s": common.median(passes), "passes": p,
                   "warmup_pass_s": warmup_s,
                   "stage_s": {n: [times[i] for times in stage_s] for i, n in enumerate(STAGES)},
                   "docs": tr["base_docs"] * tr["replicas"]},
        "layers": {},
        "unmeasured": {f"{n}.python_udf_s": "the UDF profiler keys its results by UDF, not by job tag, "
                       "so UDF time is reported for the whole workload (corpus_10x.python_udf_s)"
                       for n in STAGES},
    }


def event_layers(ctx, out: dict, ev: common.EventLog, udf_s: float) -> dict:
    T = ctx.tracer
    res = {}
    for name in STAGES:
        spans = T.named(name)
        sums = [ev.summary(ev.job_ids(tags=[s["tag"]]), s["end"] - s["start"], ctx.cores) for s in spans]
        pick = lambda k: common.median([x[k] for x in sums])  # noqa: E731
        res[f"{name}.self_s"] = (common.median([T.self_time(s) for s in spans]), "s")
        res[f"{name}.jobs"] = pick("jobs")
        res[f"{name}.shuffle_write_bytes"] = (pick("shuffle_write_bytes"), "bytes")
        res[f"{name}.executor_busy_frac"] = (pick("executor_busy_frac"), "ratio")
        res[f"{name}.task_skew"] = (pick("task_skew"), "ratio")
    res["corpus_10x.python_udf_s"] = (udf_s, "s")
    return res
