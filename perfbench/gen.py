"""Seeded input generator for the benchmark.

Everything the program under test sees is produced here from
``(workload traffic properties, seed)``: Debezium-envelope CDC lines for
the engagement and content topics, the star-schema tables the warehouse
queries read, and the document corpus.  The generator uses only NumPy's
``default_rng(seed)`` and fixed formatting, so one seed always gives
byte-identical files and another seed gives different files.

Traffic shape of the engagement topic (see ``workloads.json``):
Zipf-skewed ``user_id`` and ``content_id``, a share of re-delivered
duplicates (identical payload sent again), the wire's malformed share
(truncated JSON the parser must drop), bare records without the
``payload`` wrapper, and event time taken from a seed-fixed virtual
clock, jittered back by 0-300 s like the reference generator.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DEVICES = ["ios", "android", "web", "tv"]
CONTENT_TYPES = ["podcast", "newsletter", "video"]
VOCAB = (
    "the a fast slow key order sort table scan merge part window small big hash "
    "join spark group query row data filter customer line batch value agg column "
    "vector stream"
).split()
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
EPOCH_2024 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, fixed by (seed, stream)."""
    return np.random.default_rng([seed, *stream.encode()])


def zipf_ids(rng: np.random.Generator, n: int, domain: int, s: float) -> np.ndarray:
    """``n`` draws from a bounded Zipf(s) over ``0..domain-1``; which id is
    hot is itself drawn, so different seeds heat different keys."""
    p = np.arange(1, domain + 1, dtype=float) ** -s
    ranks = rng.choice(domain, size=n, p=p / p.sum())
    return rng.permutation(domain)[ranks]


class VirtualClock:
    """Seed-fixed wall clock of the simulated producer.

    ``at(i)`` is the event time the producer stamps on the i-th event
    offered at ``rate`` events/s; the clock starts at a seed-chosen
    minute of 2024, so every run's events fall in a few recent minute
    buckets, as a live feed's do."""

    def __init__(self, seed: int, rate: float):
        self.start = EPOCH_2024 + dt.timedelta(minutes=int(rng_for(seed, "clock").integers(0, 525_000)))
        self.rate = rate

    def at(self, i: int | np.ndarray):
        return self.start.timestamp() + np.asarray(i, dtype=float) / self.rate


def _wire_ts(epoch_s: float, fmt: int) -> str:
    """The four event-time wire formats the parser accepts (ESJ:206-233)."""
    t = dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).replace(tzinfo=None)
    if fmt == 0:
        return t.strftime("%Y-%m-%dT%H:%M:%S") + "+00:00"
    if fmt == 1:
        return t.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if fmt == 2:
        return t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def engagement_lines(traffic: dict, seed: int, n: int, first_id: int, clock: VirtualClock) -> list[str]:
    """``n`` engagement-topic lines in offer order, ids from ``first_id``.

    Duplicates are re-deliveries of an already offered event (identical
    payload), so they occupy their own slot in the offer order."""
    rng = rng_for(seed, f"engagement:{first_id}")
    users = zipf_ids(rng, n, traffic["users"], traffic["zipf_user"])
    contents = zipf_ids(rng, n, traffic["contents"], traffic["zipf_content"])
    etype = rng.integers(0, len(EVENT_TYPES), n)
    device = rng.integers(0, len(DEVICES), n)
    dur = rng.integers(500, 600_000, n)
    fmt = rng.integers(0, 4, n)
    jitter = rng.uniform(0, traffic["jitter_s"], n)
    u = rng.random(n)
    dup_pick = rng.random(n)
    due = clock.at(np.arange(first_id, first_id + n))
    lines: list[str] = []
    fresh: list[str] = []
    for i in range(n):
        if u[i] < traffic["duplicate_share"] and fresh:
            lines.append(fresh[int(dup_pick[i] * len(fresh))])
            continue
        eid = first_id + i
        et = EVENT_TYPES[etype[i]]
        rec = {
            "id": str(eid),
            "user_id": str(int(users[i])),
            "content_id": str(int(contents[i])),
            "event_type": et,
            "device": DEVICES[device[i]],
            "duration_ms": None if et == "click" else int(dur[i]),
            "event_ts": _wire_ts(due[i] - jitter[i], int(fmt[i])),
            "raw_payload": json.dumps({"k": int(dur[i] % 100)}),
        }
        if u[i] < traffic["duplicate_share"] + traffic["malformed_share"]:
            line = '{"payload": {"after": {"id": '  # truncated on the wire
        elif u[i] < traffic["duplicate_share"] + traffic["malformed_share"] + traffic["bare_share"]:
            line = json.dumps(rec, separators=(",", ":"))
        else:
            src = {"ts_ms": int(due[i] * 1000), "db": "engagement_db", "table": "engagement_events"}
            line = json.dumps({"payload": {"op": "c", "after": rec, "source": src}}, separators=(",", ":"))
            fresh.append(line)
        lines.append(line)
    return lines


def _content_line(op: str, cid: int, version: int, ts_ms: int) -> str:
    after = None
    if op != "d":
        after = {
            "id": str(cid),
            "slug": f"content-{cid}",
            "title": f"Content {cid}",
            "content_type": CONTENT_TYPES[(cid + version) % 3],
            "length_seconds": 60 * (1 + (cid * 7 + version * 13) % 50),
            "publish_ts": "2024-01-01T00:00:00",
        }
    payload = {
        "op": op,
        "before": {"id": str(cid)} if op == "d" else None,
        "after": after,
        "source": {"ts_ms": ts_ms, "db": "engagement_db", "table": "content"},
    }
    return json.dumps({"payload": payload}, separators=(",", ":"))


def content_initial_lines(traffic: dict, clock: VirtualClock) -> list[str]:
    """One create per content id: the dimension's initial state."""
    base = int(clock.start.timestamp() * 1000) - 86_400_000
    return [_content_line("c", cid, 0, base + cid) for cid in range(traffic["contents"])]


def content_change_lines(traffic: dict, seed: int, n_events: int, clock: VirtualClock) -> list[tuple[int, str]]:
    """Content-topic changes interleaved with the engagement stream, as
    ``(offer index, line)`` pairs in offer order.

    The per-key mix is the repository's own content feed
    (``sources/cdc_feed.content_versions``): every key was created in the
    initial state, a ``cud_mix["u"]`` share of keys gets one update and a
    ``cud_mix["d"]`` share a final delete, and nothing is re-created.
    Which keys change, and when, is drawn from the seed."""
    rng = rng_for(seed, "content")
    n = traffic["contents"]
    mix = traffic["cud_mix"]
    upd, dele = rng.random(n) < mix["u"], rng.random(n) < mix["d"]
    at_u = rng.integers(0, max(1, n_events), n)
    at_d = at_u + (rng.random(n) * (max(1, n_events) - at_u)).astype(int)
    out = []
    for cid in range(n):
        for op, on, at, off in (("u", upd, at_u, 1), ("d", dele, at_d, 2)):
            if on[cid]:
                out.append((int(at[cid]), off, cid, _content_line(op, cid, 1, int(clock.at(int(at[cid])) * 1000) + off)))
    out.sort()
    return [(at, line) for at, _off, _cid, line in out]


# --- star-schema tables + corpus -------------------------------------------

def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _docs(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    lens = rng.integers(8, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def warehouse_tables(out_dir: str, seed: int, sf: float) -> None:
    """The ten tables ``__spark_entry__.queries()`` read, TPC-H-ish, at
    scale ``sf`` (row counts as in the repository's test tables at that sf)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "tables")
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")
    cents = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(-999, 9999, n_cust),
        "c_mktsegment": [["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"][i]
                         for i in rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(-999, 9999, n_supp),
    }), f"{out_dir}/supplier.parquet")
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"][i]
                   for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    }), f"{out_dir}/part.parquet")
    day0 = np.datetime64("1995-01-01", "us")
    days = lambda lo, hi, n: day0 + rng.integers(lo, hi, n).astype("timedelta64[D]")  # noqa: E731
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["O", "P", "F"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(1000, 500_000, n_ord),
        "o_orderdate": pa.array(days(0, 2404, n_ord)),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
                            for i in rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": cents(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(days(1, 2500, n_li)),
    }), f"{out_dir}/lineitem.parquet")
    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(ev_ts)),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
        "event_type": [["click", "error", "purchase", "signup", "view"][i] for i in rng.integers(0, 5, n_ev)],
        "value": cents(0, 560, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    _write(_docs(rng, n_doc), f"{out_dir}/documents.parquet")
    emb = rng.normal(0, 0.125, (n_emb, 64)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


def corpus(out_path: str, seed: int, n_docs: int, replicas: int, near_dup_share: float) -> None:
    """``replicas`` x ``n_docs`` documents: each base document is cloned
    ``replicas`` times under fresh ids, and a ``near_dup_share`` of the
    clones get one word changed, so the dedup stage has both exact and
    near duplicates to find (the 10x probe shape of the repo's bench)."""
    rng = rng_for(seed, "corpus")
    base = _docs(rng, n_docs)
    texts = base.column("text").to_pylist()
    out_text, out_ids = [], []
    tweak = rng.random(n_docs * replicas)
    word = rng.integers(0, len(VOCAB), n_docs * replicas)
    for r in range(replicas):
        for i, t in enumerate(texts):
            j = r * n_docs + i
            if r and tweak[j] < near_dup_share:
                t = VOCAB[word[j]] + t[t.index(" "):]
            out_text.append(t)
            out_ids.append(i * replicas + r)
    rep = lambda col: [v for _ in range(replicas) for v in base.column(col).to_pylist()]  # noqa: E731
    _write(pa.table({
        "doc_id": pa.array(out_ids, pa.int64()),
        "text": out_text,
        "lang": rep("lang"),
        "source": rep("source"),
        "n_chars": pa.array([len(t) for t in out_text], pa.int64()),
    }), out_path)
