#!/usr/bin/env python3
"""Seeded generator for the benchmark's inputs.

`tables(out_dir, sf, seed)` writes the ten star-schema tables the query
library reads (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings; one parquet file each, same
names, column order and physical types as the library's test data).
Row counts scale with `sf` the way the test data does (sf 0.1 = 600k
lineitem rows). Same (sf, seed) -> byte-identical files.

`daily(out_dir, fixture_dir, seed, ...)` writes the inputs of the daily
ingest-and-serve loop: each day's weather documents (one JSON document
per city, in the source API's shape, derived from the fixture documents
shipped with the program so every document carries the full key set)
and each day's txn operations. It returns the generator's own record of
what it wrote, which is the ground truth the workload checks against.
"""
import datetime as dt
import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["blue", "cold", "hot", "large", "old", "small", "red", "green"]
PNOUN = ["anvil", "bolt", "gear", "plate", "ring", "widget", "nut", "pin"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVTYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
US = "us"


def _ts(lo, hi, rng, n):
    base = np.datetime64(lo, US)
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(np.int64)
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(f"timedelta64[{US}]")
    return base + d


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events(rng, n, n_users):
    """`n` events over January 2024 (30 days), in time order."""
    ts = np.sort(np.datetime64("2024-01-01", US) + rng.integers(
        0, 30 * 86_400_000_000, n).astype(f"timedelta64[{US}]"))
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp(US)),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVTYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())}


def tables(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = n_ord * 4
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_t = pa.timestamp(US)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    ck = np.arange(n_cust)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck, i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})

    sk = np.arange(n_supp)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk, i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})

    pk = np.arange(n_part)
    names = np.char.add(np.char.add(rng.choice(PADJ, n_part), " "),
                        rng.choice(PNOUN, n_part))
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1), f64)})

    ok = np.arange(n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(_ts("1995-01-01", "2001-08-01", rng, n_ord), ts_t),
        "o_orderpriority": pa.array(rng.choice(PRIOS, n_ord), s)})

    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_ts("1995-01-02", "2001-11-04", rng, n_li), ts_t)})

    _write(out_dir, "events", events(rng, n_ev, max(10, n_cust // 10)))

    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def fixture_docs(fixture_dir):
    """The fixture weather documents, parsed, one per (date, city)."""
    docs = []
    for p in sorted(glob.glob(os.path.join(fixture_dir, "*", "*.txt"))):
        with open(p) as f:
            docs.append(json.load(f))
    return docs


def _cents(v):
    return np.rint(np.asarray(v, dtype=np.float64) * 100).astype(np.int64)


def _sums(t):
    """Row count and exact sums of key, user and value cents: the
    multiset signature the workload compares the txn table against."""
    return [int(len(t["event_id"])), int(np.sum(t["event_id"])),
            int(np.sum(t["user_id"])), int(np.sum(_cents(t["value"])))]


def daily(out_dir, fixture_dir, seed, cities=9, history=1, days=8,
          serve_per_day=6, all_share=0.25, events_per_day=1500,
          corrections=40, gdpr_users=3, compact_every=3):
    """Inputs of the daily ingest-and-serve loop.

    Writes `staging/<date>/<city>.txt` (the day's weather documents),
    `ops/{append,merge,delete}/<date>.parquet` (the day's events batch,
    late corrections of earlier events, and a GDPR key set of user ids)
    and returns the spec the workload checks against: per date the
    latest record per city, the served cities, the pruned-scan range with
    its expected row count, and the txn table's signature after the
    append, the merge and the delete."""
    rng = np.random.default_rng(seed)
    templates = fixture_docs(fixture_dir)
    first = dt.date(2024, 1, 1)
    n_days = history + days
    assert n_days <= 30, "the events batch slices January 2024"
    ev = events(rng, events_per_day * 30, 1500)
    ev_np = {k: np.asarray(v.to_numpy(zero_copy_only=False)) for k, v in ev.items()}
    day_of = ((ev_np["ts"] - np.datetime64("2024-01-01", US))
              // np.timedelta64(1, "D")).astype(np.int64)
    names = [f"City{c:03d}" for c in range(cities)]
    cols = list(ev.keys())
    state = {k: ev_np[k][:0] for k in cols}
    spec = {"dates": [], "history": history, "latest": {},
            "serve": {}, "scan": {}, "txn_sums": {}, "compact_every": compact_every}

    def table(cols_np):
        return pa.table({k: pa.array(cols_np[k], ev[k].type) for k in cols})

    for d in range(n_days):
        date = (first + dt.timedelta(days=d)).isoformat()
        spec["dates"].append(date)
        ddir = os.path.join(out_dir, "staging", date)
        os.makedirs(ddir, exist_ok=True)
        latest = {}
        for c, city in enumerate(names):
            doc = json.loads(json.dumps(templates[(c + d) % len(templates)]))
            hour, minute = int(rng.integers(0, 24)), int(rng.integers(0, 60))
            epoch = int(dt.datetime(2024, 1, 1 + d, hour, minute,
                                    tzinfo=dt.timezone.utc).timestamp())
            temp = round(float(rng.normal(10 + c % 7, 6)), 1)
            loc, cur = doc["location"], doc["current"]
            loc.update(name=city, region=city, localtime_epoch=epoch,
                       localtime=f"{date} {hour}:{minute:02d}")
            cur.update(last_updated_epoch=epoch - epoch % 900, temp_c=temp,
                       temp_f=round(temp * 9 / 5 + 32, 1),
                       humidity=int(rng.integers(20, 100)),
                       wind_kph=round(float(rng.uniform(0, 40)), 1),
                       pressure_mb=round(float(rng.normal(1013, 8)), 1))
            with open(os.path.join(ddir, f"{city}.txt"), "w") as f:
                json.dump(doc, f)
            latest[city] = [epoch, temp]
        spec["latest"][date] = latest
        picks = [("All" if rng.random() < all_share else names[int(rng.integers(0, cities))])
                 for _ in range(serve_per_day)]
        spec["serve"][date] = picks

        # txn operations of the day
        batch = {k: ev_np[k][day_of == d] for k in cols}
        os.makedirs(os.path.join(out_dir, "ops", "append"), exist_ok=True)
        pq.write_table(table(batch), os.path.join(out_dir, "ops", "append", f"{date}.parquet"))
        state = {k: np.concatenate([state[k], batch[k]]) for k in cols}
        after_append = _sums(state)
        if d < history:
            continue
        pick = rng.choice(len(state["event_id"]), size=min(corrections, len(state["event_id"])),
                          replace=False)
        fix = {k: state[k][pick].copy() for k in cols}
        fix["value"] = np.round(fix["value"] + rng.uniform(0.01, 20.0, len(pick)), 2)
        state["value"] = state["value"].copy()
        state["value"][pick] = fix["value"]
        after_merge = _sums(state)
        lo = int(rng.integers(0, int(state["event_id"].max()) + 1))
        hi = lo + int(rng.integers(100, 2000))
        in_range = (state["event_id"] >= lo) & (state["event_id"] <= hi)
        spec["scan"][date] = [lo, hi, int(in_range.sum())]
        users = rng.choice(np.unique(state["user_id"]), size=gdpr_users, replace=False)
        keep = ~np.isin(state["user_id"], users)
        state = {k: state[k][keep] for k in cols}
        after_delete = _sums(state)
        for kind, t in (("merge", table(fix)),
                        ("delete", pa.table({"user_id": pa.array(users, pa.int64())}))):
            os.makedirs(os.path.join(out_dir, "ops", kind), exist_ok=True)
            pq.write_table(t, os.path.join(out_dir, "ops", kind, f"{date}.parquet"))
        spec["txn_sums"][date] = after_append + after_merge + after_delete
    return spec
