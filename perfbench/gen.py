#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Two input sets, both pure functions of the seed:

* query_mix: the ten engine tables (region .. embeddings) at scale factor
  0.01, with the same schemas, physical types and value domains as the
  engine's reference test data, so every registered query runs.
* refresh_cycle: a documents corpus over the same 31-word vocabulary plus
  a churn sequence -- one full documents snapshot per cycle, each derived
  from the previous one by a seeded 1 % mix of updates, inserts and
  deletes. A manifest records the changed document ids of every cycle so
  the benchmark can check the engine's diff and CDC classification
  against them.

Run it alone to see the generated sizes:

    python3 perfbench/gen.py --workload refresh_cycle --seed 1 --out /tmp/g
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()

# query_mix scale factor (the engine's verification scale)
QM_SF = 0.01
# refresh_cycle corpus size, cycles and churn per cycle
REFRESH_DOCS = 500
REFRESH_CYCLES = 1
CHURN = 0.01

def _us(*ymd):
    return int(dt.datetime(*ymd, tzinfo=dt.timezone.utc).timestamp() * 1e6)


_EPOCH_US = _us(1995, 1, 1)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _texts(rng, n, lo=25, hi=100):
    lens = rng.integers(lo, hi + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _documents(ids, texts, mtime_us=None):
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
    cols = {
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs[np.asarray(ids) % 7].tolist(), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }
    if mtime_us is not None:
        cols["mtime"] = _ts(mtime_us)
    return pa.table(cols)


def gen_tables(rng, sf, out):
    """The ten engine tables at scale factor `sf` into `out`."""
    n_cust = max(50, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(100, int(200000 * sf))
    n_ord = max(500, int(1500000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1000000 * sf))
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "new",
                    "large"])
    noun = np.array(["ring", "widget", "bolt", "gear", "anvil", "rod",
                     "plate", "gizmo"])
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                      "PROMO"])
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, type=pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                             noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptype[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")
    days = 2404  # 1995-01-01 .. 2001-08-01
    odate = _EPOCH_US + rng.integers(0, days, n_ord) * 86400 * 10**6
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(1, n_cust // 10 * 10), n_ord),
                              type=pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist()}),
        f"{out}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": _ts(_EPOCH_US + rng.integers(1, days + 95, n_line)
                          * 86400 * 10**6)}),
        f"{out}/lineitem.parquet")
    ev_base = _us(2024, 1, 1)
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) + ev_base
    etype = np.array(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_ev),
                            type=pa.int64()),
        "event_type": etype[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    doc_ids = np.arange(n_doc)
    texts = _texts(rng, n_doc)
    for i in range(0, n_doc, 20):  # a near-duplicate every 20 docs
        if i > 0:
            w = texts[i - 7].split()
            w[len(w) // 2] = "dup"
            texts[i] = " ".join(w)
    _write(_documents(doc_ids, texts), f"{out}/documents.parquet")
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vec = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), type=pa.int64()),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32())}),
        f"{out}/embeddings.parquet")
    return {"sf": sf, "customer": n_cust, "orders": n_ord, "lineitem": n_line,
            "events": n_ev, "documents": n_doc, "embeddings": n_emb}


def gen_refresh(rng, out, n_docs=REFRESH_DOCS, cycles=REFRESH_CYCLES):
    """Snapshot 0 plus `cycles` churned snapshots, and the manifest."""
    day_us = 86400 * 10**6
    base_us = _us(2024, 1, 1)
    docs = {}
    texts = _texts(rng, n_docs)
    for i in range(n_docs):
        # every 25th document repeats an earlier text: near-dup clusters
        docs[i] = (texts[i - 11] if i % 25 == 24 else texts[i], base_us)
    next_id = n_docs

    def snapshot(k):
        ids = sorted(docs)
        return _documents(ids, [docs[i][0] for i in ids],
                          np.array([docs[i][1] for i in ids], dtype=np.int64))

    _write(snapshot(0), f"{out}/snap_000/documents.parquet")
    manifest = {"docs": n_docs, "cycles": [],
                "bytes": [os.path.getsize(f"{out}/snap_000/documents.parquet")]}
    for k in range(1, cycles + 1):
        live = np.array(sorted(docs))
        n_change = max(1, int(round(CHURN * len(live))))
        n_upd = n_change // 2
        n_del = n_change // 5
        n_ins = n_change - n_upd - n_del
        picked = rng.choice(live, size=n_upd + n_del, replace=False)
        upd, dele = sorted(picked[:n_upd].tolist()), sorted(picked[n_upd:].tolist())
        mtime = base_us + k * day_us
        for i, t in zip(upd, _texts(rng, len(upd))):
            docs[i] = (t, mtime)
        for i in dele:
            del docs[i]
        ins = list(range(next_id, next_id + n_ins))
        for i, t in zip(ins, _texts(rng, n_ins)):
            docs[i] = (t, mtime)
        next_id += n_ins
        path = f"{out}/snap_{k:03d}/documents.parquet"
        _write(snapshot(k), path)
        manifest["bytes"].append(os.path.getsize(path))
        manifest["cycles"].append({"updated": upd,
                                   "inserted": ins, "deleted": dele})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


def generate(workload, seed, out):
    """Generate the inputs of `workload` into `out` (replaced); returns a
    size summary."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = np.random.default_rng([seed, 0 if workload == "query_mix" else 1])
    if workload == "query_mix":
        sizes = gen_tables(rng, QM_SF, out)
    elif workload == "refresh_cycle":
        m = gen_refresh(rng, out)
        sizes = {"documents": m["docs"], "cycles": len(m["cycles"]),
                 "snapshot_bytes": m["bytes"][0],
                 "changed_per_cycle": [len(c["updated"]) + len(c["inserted"])
                                       + len(c["deleted"]) for c in m["cycles"]]}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    sizes["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(out) for f in fs)
    return sizes


def digest(out):
    """sha256 over every generated file, in path order."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(out)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "refresh_cycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    sizes = generate(a.workload, a.seed, a.out)
    print(json.dumps(sizes))


if __name__ == "__main__":
    main()
