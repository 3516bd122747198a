"""Seeded input generator for the graft benchmark.

Every input a run uses comes from here, from `--seed` and the run's size
parameters alone: the same arguments give byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <seconds> <out_dir>

writes, under <out_dir>:

  star/       the star-schema tables (region .. lineitem, events, documents,
              embeddings) as single parquet files, in the column layout the
              engine's corpus tables use, plus `order.json` (the per-round
              query order);
  cdc/        Debezium-envelope JSON-lines topics for `orders` and `lineitem`
              (`<table>/now/*.json`: snapshot + changes the first consumer
              sees; `<table>/later/*.json`: changes that land after the
              consumer restarts with a widened schema) and `expected.json`
              (row count and order-independent content hash of the
              latest-surviving version per key);
  curate/     `train.parquet` (the gate's held-out slice), `turn_<i>.parquet`
              (the docs each turn offers, duplicate variants included),
              `retract.parquet` and `expected.json`.

A small warm-up backlog for the CDC consumer sits next to it (`cdc_warm`),
and so does `cdc_star/`: a small star schema (the tables of `star/`) for
the CDC workload's downstream contract query (`q03_materialized`).
"""
import hashlib
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERIES = [
    "q01_pricing_summary", "q02_min_cost_supplier", "q03_shipping_priority",
    "q04_order_priority", "q05_local_supplier_volume", "q06_forecast_revenue",
    "q07_volume_shipping", "q08_market_share", "q09_product_profit",
    "q10_returned_items", "q11_important_stock", "q12_ship_priority_split",
    "q13_customer_distribution", "q14_promo_effect", "q15_top_supplier",
    "q16_supplier_count", "q17_small_qty_avg", "q18_large_volume_customer",
    "q19_disjunctive_brackets", "q20_part_supp_exists", "q21_late_supplier",
    "q22_global_sales_opportunity",
]

# Workload sizes. The number of ops per run follows --seconds; everything
# else is fixed.
STAR_SF = 0.01
STAR_SECONDS_PER_ROUND = 13
CDC_STAR_SF = 0.002
CDC_SNAPSHOT_ROWS = {"orders": 3000, "lineitem": 12000}
CDC_SNAPSHOT_FILES = 2
CDC_CHANGE_FILES_PER_S = 0.33  # per table
CDC_EVENTS_PER_FILE = {"orders": 30, "lineitem": 60}
CURATE_TRAIN = 400
CURATE_SECONDS_PER_TURN = 12
CURATE_DOCS_PER_TURN = 100
EXACT_DUP_RATE = 0.10
NEAR_DUP_RATE = 0.10
RETRACT_RATE = 0.05

EPOCH_1995_US = 788918400 * 1_000_000
DAY_US = 86400 * 1_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


# ---------------------------------------------------------------- star tables

def star_tables(rng, sf):
    n_cust, n_part, n_supp = int(150000 * sf), int(200000 * sf), max(int(10000 * sf), 25)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    ts = pa.timestamp("us")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    # every customer has orders (the q22 shape relies on it)
    custs = np.concatenate([np.arange(n_cust), rng.integers(0, n_cust, n_ord - n_cust)])
    rng.shuffle(custs)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(custs, pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US, ts),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(0, 2500, n_li) * DAY_US, ts)})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(1704067200 * 1_000_000 + np.sort(rng.integers(0, 30 * DAY_US, n_ev)), ts),
        "user_id": pa.array(rng.integers(0, max(n_cust, 1), n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = max(int(50000 * sf), 100)
    docs, langs = _docs(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": docs, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})
    emb = rng.normal(0, 0.12, (n_doc, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())})
    return t


def gen_star(rng, seconds, out):
    for name, table in star_tables(rng, STAR_SF).items():
        _write(table, f"{out}/{name}.parquet")
    rounds = max(1, round(seconds / STAR_SECONDS_PER_ROUND))
    order = []
    for _ in range(rounds):
        order.extend(QUERIES[i] for i in rng.permutation(len(QUERIES)))
    with open(f"{out}/order.json", "w") as f:
        json.dump(order, f)


# ---------------------------------------------------------------------- docs

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
COMMON = ("a the data table query spark stream batch join key value row column "
          "merge sort hash scan filter group window agg order line part").split()
LANG_WORDS = {lang: [f"{lang}{w}" for w in (
    "alpha bravo delta echo golf hotel india kilo lima mike oscar papa "
    "quebec romeo sierra tango victor whisky xray yankee zulu amber birch "
    "cedar dune ember fjord grove heath isle jade knoll").split()] for lang in LANGS}


def _doc(rng, lang):
    n = int(rng.integers(40, 81))
    own = LANG_WORDS[lang]
    pick_own = rng.random(n) < 0.7
    words = [own[rng.integers(0, len(own))] if p else COMMON[rng.integers(0, len(COMMON))]
             for p in pick_own]
    return " ".join(words)


def _docs(rng, n):
    langs = [LANGS[i] for i in rng.choice(5, n, p=LANG_P)]
    return [_doc(rng, lang) for lang in langs], langs


def _near(rng, text):
    words = text.split()
    for _ in range(2):
        words[rng.integers(0, len(words))] = COMMON[rng.integers(0, len(COMMON))]
    return " ".join(words)


def _doc_table(ids, texts, langs):
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs})


def gen_curate(rng, turns, per_turn, out):
    train_texts, train_langs = _docs(rng, CURATE_TRAIN)
    _write(_doc_table(range(CURATE_TRAIN), train_texts, train_langs), f"{out}/train.parquet")
    next_id = 1_000_000
    seen = []  # (text, lang) of every earlier original, the duplicate pool
    originals = []  # (id, text, lang) of every original
    offered = 0
    kinds = {"exact": 0, "near": 0, "original": 0}
    for turn in range(turns):
        ids, texts, langs = [], [], []
        for _ in range(per_turn):
            r = rng.random()
            if seen and r < EXACT_DUP_RATE:
                text, lang = seen[rng.integers(0, len(seen))]
                kinds["exact"] += 1
            elif seen and r < EXACT_DUP_RATE + NEAR_DUP_RATE:
                text, lang = seen[rng.integers(0, len(seen))]
                text = _near(rng, text)
                kinds["near"] += 1
            else:
                lang = LANGS[rng.choice(5, p=LANG_P)]
                text = _doc(rng, lang)
                seen.append((text, lang))
                originals.append((next_id, text, lang))
                kinds["original"] += 1
            ids.append(next_id)
            texts.append(text)
            langs.append(lang)
            next_id += 1
        offered += len(ids)
        _write(_doc_table(ids, texts, langs), f"{out}/turn_{turn:03d}.parquet")
    en = [o for o in originals if o[2] == "en"]
    pick = sorted(rng.choice(len(en), max(1, int(len(en) * RETRACT_RATE)), replace=False))
    rm = [en[i] for i in pick]
    _write(_doc_table([r[0] for r in rm], [r[1] for r in rm], [r[2] for r in rm]),
           f"{out}/retract.parquet")
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"turns": turns, "offered": offered, "kinds": kinds,
                   "removed": [int(r[0]) for r in rm]}, f, sort_keys=True)


# ----------------------------------------------------------------------- cdc

def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return str(int(round(v * 100)))
    return str(v)


def _row_hash(values):
    """Content hash of one row: the same canonical text the JVM side builds."""
    text = "␟".join([_canon(v) for v in values])
    return int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")


def _json(v):
    if v is None:
        return "null"
    if isinstance(v, str):
        return '"' + v + '"'  # generated strings never need escaping
    return repr(v)


TABLES = {
    "orders": {
        "cols": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
        "key": ["o_orderkey"], "added": "o_comment"},
    "lineitem": {
        "cols": ["l_orderkey", "l_rowid", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
        "key": ["l_orderkey", "l_rowid"], "added": "l_comment"},
}


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _cdc_row(r, table, key):
    """A fresh row image for `key` (a tuple of the key column values);
    `r` is a `random.Random`."""
    ri = r.randrange
    if table == "orders":
        return {"o_orderkey": key[0], "o_custkey": ri(0, 15000),
                "o_orderstatus": "FOP"[ri(0, 3)],
                "o_totalprice": ri(100000, 50000000) / 100.0,
                "o_orderdate": EPOCH_1995_US + ri(0, 2404) * DAY_US,
                "o_orderpriority": PRIORITIES[ri(0, 5)]}
    return {"l_orderkey": key[0], "l_rowid": key[1],
            "l_partkey": ri(0, 20000), "l_suppkey": ri(0, 1000),
            "l_linenumber": ri(1, 8), "l_quantity": float(ri(1, 51)),
            "l_extendedprice": ri(90000, 10500000) / 100.0,
            "l_discount": ri(0, 11) / 100.0, "l_tax": ri(0, 9) / 100.0,
            "l_returnflag": "ANR"[ri(0, 3)], "l_linestatus": "FO"[ri(0, 2)],
            "l_shipdate": EPOCH_1995_US + ri(0, 2500) * DAY_US}


def _image(row):
    if row is None:
        return "null"
    return "{" + ",".join(f'"{k}":{_json(v)}' for k, v in row.items()) + "}"


def _event(table, op, before, after, lsn, snapshot):
    ts = 1_700_000_000_000 + lsn
    return (f'{{"before":{_image(before)},"after":{_image(after)},"source":{{'
            f'"connector":"postgresql","db":"tpch","schema":"public","table":"{table}",'
            f'"lsn":{lsn},"snapshot":{"true" if snapshot else "false"},"ts_ms":{ts}}},'
            f'"op":"{op}","ts_ms":{ts}}}')


def gen_cdc_table(rng, table, n_rows, n_snap_files, n_change_files, per_file, out):
    spec = TABLES[table]
    added = spec["added"]
    r = random.Random(int(rng.integers(0, 2**63)))
    if table == "orders":
        keys = [(i,) for i in range(n_rows)]
    else:
        keys = [(int(rng.integers(0, max(n_rows // 4, 1))), i) for i in range(n_rows)]
    lsn = 0
    state = {}  # key -> (lsn, op, row)

    def emit(op, key, row, before=None, stale=False):
        nonlocal lsn
        if stale:
            v = state[key][0] - 5  # older than the version already applied
        else:
            lsn += 10
            v = lsn
        ev = _event(table, op, before if op != "c" and op != "r" else None,
                    None if op == "d" else row, v, op == "r")
        if not stale:
            state[key] = (v, op, row if op != "d" else before)
        return ev

    files_now, files_later = [], []
    snap = [emit("r", k, _cdc_row(r, table, k)) for k in keys]
    bounds = np.linspace(0, len(snap), n_snap_files + 1).astype(int)
    for i in range(n_snap_files):
        files_now.append(snap[bounds[i]:bounds[i + 1]])
    live = list(keys)
    live_set = set(live)
    dead = []
    # Zipf-skewed key choice: low ranks of a seeded permutation are hot
    perm = rng.permutation(len(live))
    next_new = n_rows
    widen_at = n_change_files // 2
    redeliver = None
    for f in range(n_change_files):
        widened = f >= widen_at
        evs = []
        for _ in range(per_file):
            u = rng.random()
            if u < 0.15:  # insert of a brand-new key
                if table == "orders":
                    k = (next_new,)
                else:
                    k = (int(rng.integers(0, max(n_rows // 4, 1))), next_new)
                next_new += 1
                row = _cdc_row(r, table, k)
                if widened and (f == widen_at or rng.random() < 0.5):
                    row[added] = f"c{lsn}"
                evs.append(emit("c", k, row))
                live.append(k)
                live_set.add(k)
                continue
            rank = min(int(rng.zipf(1.3)) - 1, len(perm) - 1)
            k = live[perm[rank]]
            if k not in live_set:
                k = live[int(rng.integers(0, len(live)))]
                if k not in live_set:
                    continue
            cur = state[k][2]
            if u < 0.30:  # delete
                evs.append(emit("d", k, None, before=cur))
                live_set.discard(k)
                dead.append(k)
            elif u < 0.40:  # stale version that must lose
                row = _cdc_row(r, table, k)
                evs.append(emit("u", k, row, before=cur, stale=True))
            else:  # update
                row = _cdc_row(r, table, k)
                if widened and (f == widen_at or rng.random() < 0.5):
                    row[added] = f"c{lsn}"
                evs.append(emit("u", k, row, before=cur))
        if dead and rng.random() < 0.5:  # a stale update of a deleted key stays dead
            k = dead[int(rng.integers(0, len(dead)))]
            if k not in live_set:
                evs.append(emit("u", k, _cdc_row(r, table, k), before=state[k][2],
                                stale=True))
        (files_later if widened else files_now).append(evs)
        if f == 1:
            redeliver = list(evs)
        if f == 2 and redeliver is not None:  # at-least-once: file 1 arrives again
            files_now.append(redeliver)
    for sub, files, first in (("now", files_now, 0), ("later", files_later, len(files_now))):
        d = f"{out}/{table}/{sub}"
        os.makedirs(d, exist_ok=True)
        for i, evs in enumerate(files, start=first):
            with open(f"{d}/{i:05d}.json", "w") as fh:
                fh.write("\n".join(evs) + "\n")
    cols = spec["cols"] + [added]
    h = 0
    n = 0
    last_delete = None
    for k, (v, op, row) in state.items():
        if op == "d":
            if last_delete is None or v > last_delete[0]:
                last_delete = (v, row)
            continue
        h = (h + _row_hash([row.get(c) for c in cols] + [v])) % (1 << 64)
        n += 1
    # the same state with its last delete dropped: the check must reject it
    v, row = last_delete
    bad = (h + _row_hash([row.get(c) for c in cols] + [v])) % (1 << 64)
    return {"rows": n, "hash": str(h), "corrupt_rows": n + 1, "corrupt_hash": str(bad),
            "columns": cols, "snapshot_files": n_snap_files,
            "snapshot_events": len(snap),
            "change_files": len(files_now) - n_snap_files + len(files_later),
            "change_events": sum(len(e) for e in files_now[n_snap_files:])
            + sum(len(e) for e in files_later)}


def gen_cdc(rng, scale, snap_files, change_files, out, tables=tuple(CDC_SNAPSHOT_ROWS)):
    expected = {}
    for table in tables:
        rows = CDC_SNAPSHOT_ROWS[table]
        expected[table] = gen_cdc_table(
            rng, table, max(int(rows * scale), 50), snap_files,
            change_files, CDC_EVENTS_PER_FILE[table], out)
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f, sort_keys=True)


# ---------------------------------------------------------------------- main

def generate(workload, seed, seconds, out):
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "star_queries":
        gen_star(rng, seconds, f"{out}/star")
    elif workload == "cdc_drain":
        n = max(4, round(seconds * CDC_CHANGE_FILES_PER_S))
        gen_cdc(rng, 1.0, CDC_SNAPSHOT_FILES, n, f"{out}/cdc")
        # one snapshot file, then one change file after the restart
        gen_cdc(rng, 0.05, 1, 1, f"{out}/cdc_warm", tables=("lineitem",))
        for name, table in star_tables(rng, CDC_STAR_SF).items():
            _write(table, f"{out}/cdc_star/{name}.parquet")
    elif workload == "curate_turns":
        # turn 0 primes the index and corpus in setup; the rest are timed
        turns = 1 + max(1, round(seconds / CURATE_SECONDS_PER_TURN))
        gen_curate(rng, turns, CURATE_DOCS_PER_TURN, f"{out}/curate")
    else:
        raise SystemExit(f"unknown workload {workload}")


if __name__ == "__main__":
    if len(sys.argv) != 5:
        raise SystemExit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
