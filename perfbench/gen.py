"""Seeded input generator for the benchmark.

Writes the ten tables the program reads (the schema of the repository's
testdata star schema: region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) as one parquet file each, and
the serve_mixed request plan. The same seed gives the same bytes.

A small share of rows carry a NULL in a column the entity catalog
requires (c_name, s_name, o_custkey), so the sync's reject path has
work to do and its counts can be checked.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: a twentieth of the repository's sf0.1 testdata. At this
# size the program's per-job overhead, not the row count, sets most of
# each operation's time, and a run, set-up included, fits in about a
# minute on a 4-core box.
ROWS = {
    "customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
    "lineitem": 30000, "events": 5000, "documents": 1000,
    "embeddings": 250,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "small", "big", "red", "hot", "large", "green"]
PART_NOUN = ["anvil", "widget", "gear", "bolt", "spring", "valve", "lever",
             "pump"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
# the documents corpus vocabulary; a Zipf-like draw gives BM25 both
# frequent and rare terms
VOCAB = ["the", "a", "data", "spark", "query", "table", "row", "column",
         "join", "sort", "merge", "hash", "scan", "window", "batch",
         "stream", "filter", "group", "agg", "key", "value", "order",
         "part", "line", "customer", "vector", "index", "shard", "fast",
         "slow", "big", "small", "dup", "lake", "sink", "token", "field",
         "score", "rank", "bucket"]
NULL_SHARE = {"c_name": 0.01, "s_name": 0.02, "o_custkey": 0.005}

# serve_mixed: one timed round of the closed loop, in order (the mix
# weights are the counts per class), and the untimed warm-up round.
ROUND = ["get", "rank", "get", "dsl", "bulk", "get", "scan", "get"]
WARM_ROUND = ["bulk", "rank", "scan", "dsl"] + ["get"] * 6
# what the n-th GET of a round reads: a customer the run wrote and kept,
# a part document it updated, a customer it deleted (the first two come
# before the round's _bulk, which deletes the first time in round 1)
GET_KINDS = ["live", "part", "deleted", "live"]
# six warm-up GETs: the GET path is still getting faster after two
WARM_GET_KINDS = ["live", "part"] * 3
# the action mix of one _bulk batch. New ids, replacements and deletes go
# to the customer store; partial updates go to synced part documents.
# Updates are kept off the store that takes new documents: a new
# document's id column lands as STRING, an updated synced row keeps
# BIGINT, and once both kinds of delta generation sit in one store every
# read of it fails to merge their schemas.
BULK_MIX = {"new": 25, "replace": 10, "delete": 5, "update": 10}
assert sum(BULK_MIX.values()) == 50  # the reference's bulk batch size
# the warm-up batch only writes what the first timed batch replaces and
# deletes, and touches the update path once
WARM_BULK_MIX = {"new": 15, "replace": 0, "delete": 0, "update": 2}
# A timed round takes about 16 s at 4 cores, so a 10 s run plays one;
# the harness stops at the end of the plan, which leaves room for a
# program five times faster.
PLAN_ROUNDS = 6
RUN_TS = "2026-01-01T00:00:00Z"  # Denormalize.RunTs, the sync's run stamp


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _with_nulls(rng, values, share):
    arr = pa.array(values)
    mask = rng.random(len(values)) < share
    return pa.array(values, mask=mask, type=arr.type)


def tables(seed):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _with_nulls(rng, [f"Customer#{i:09d}" for i in range(n)],
                              NULL_SHARE["c_name"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": _with_nulls(rng, [f"Supplier#{i:09d}" for i in range(n)],
                              NULL_SHARE["s_name"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = ROWS["part"]
    price = np.round(900 + (np.arange(n) % 1000) / 10, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": price})
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": _with_nulls(
            rng, rng.integers(0, ROWS["customer"], n).astype(np.int64),
            NULL_SHARE["o_custkey"]),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _days(rng, n, "1995-01-01", 2400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]})
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    pk = rng.integers(0, ROWS["part"], n).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pk]
                                    * rng.uniform(0.95, 1.05, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, "1995-01-02", 2500)})
    n = ROWS["events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 490, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    zipf = 1.0 / np.arange(1, len(VOCAB) + 1)
    zipf /= zipf.sum()
    texts = []
    for ln in rng.integers(8, 90, n):
        texts.append(" ".join(VOCAB[i] for i in
                              rng.choice(len(VOCAB), ln, p=zipf)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    n = ROWS["embeddings"]
    emb = (rng.standard_normal((n, 64)) * 0.1).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def write_tables(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables(seed).items():
        pq.write_table(tab, f"{out_dir}/{name}.parquet",
                       compression="snappy")


def _customer_doc(rng, key):
    return {"c_custkey": int(key),
            "c_name": f"Customer#{int(key):09d}",
            "c_nationkey": int(rng.integers(0, 25)),
            "c_acctbal": float(np.round(rng.uniform(-999.99, 9999.99), 2)),
            "c_mktsegment": SEGMENTS[int(rng.integers(0, 5))]}


def probe_term(seed):
    """full_sync's search after the pass: a ranked query over every
    entity index, of two part-name words."""
    rng = np.random.default_rng([seed, 2])
    return " ".join(rng.choice(PART_ADJ + PART_NOUN, 2, replace=False))


def _search(rng, cls):
    words = VOCAB[2:]  # skip the two stop-like words
    if cls == "rank":
        q = " ".join(rng.choice(words, 2, replace=False))
        return {"search_term": q, "index": "documents", "fields": ["text"],
                "rank": "bm25", "limit": 10}
    if cls == "scan":
        return {"search_term": str(rng.choice(words)), "index": "documents",
                "fields": ["text"], "limit": 10}
    lo = float(np.round(rng.uniform(1000, 400000), 2))
    hi = float(np.round(lo + rng.uniform(20000, 100000), 2))
    return {"index": "orders", "size": 5,
            "query": {"bool": {"filter": [
                {"range": {"o_totalprice": {"gte": lo, "lte": hi}}}]}},
            "aggs": {"by_priority": {"terms": {"field": "o_orderpriority",
                                               "size": 10}}}}


def request_plan(seed):
    """The serve_mixed requests: round 0 is the untimed warm-up, then
    PLAN_ROUNDS timed rounds of ROUND. Every write carries what the
    write model expects of it, and every GET what it must return. A run
    replays a prefix of whole rounds."""
    rng = np.random.default_rng([seed, 1])
    live = {}          # customer id -> expected fields (the write model)
    dead = []          # customer ids the run deleted
    parts = {}         # part document_id -> expected p_retailprice
    next_key = 10**6   # far above every synced c_custkey
    rounds = []
    for r in range(PLAN_ROUNDS + 1):
        reqs = []
        for cls in (WARM_ROUND if r == 0 else ROUND):
            if cls in ("rank", "scan"):
                reqs.append({"class": cls, "method": "POST",
                             "path": "/search", "body": _search(rng, cls)})
            elif cls == "dsl":
                reqs.append({"class": cls, "method": "POST",
                             "path": "/search/advanced",
                             "body": _search(rng, cls)})
            elif cls == "bulk":
                mix = WARM_BULK_MIX if r == 0 else BULK_MIX
                ids = sorted(live)
                k = mix["replace"] + mix["delete"]
                touch = [ids[i] for i in rng.choice(len(ids), k,
                                                     replace=False)]
                acts = [("new", None)] * mix["new"]
                acts += [("replace", i) for i in touch[:mix["replace"]]]
                acts += [("delete", i) for i in touch[mix["replace"]:]]
                acts += [("update", int(p)) for p in rng.choice(
                    ROWS["part"], mix["update"], replace=False)]
                acts = [acts[i] for i in rng.permutation(len(acts))]
                lines, expect = [], []
                for kind, i in acts:
                    if kind in ("new", "replace"):
                        if kind == "new":
                            i = str(next_key)
                            next_key += 1
                        doc = _customer_doc(rng, int(i))
                        # no "_id": the id rides the source body, as the
                        # reference's client sends it
                        lines += [{"index": {"_index": "customer"}}, doc]
                        expect.append({"op": "index", "index": "customer",
                                       "id": i, "status": 200 if
                                       kind == "replace" else 201})
                        live[i] = {"customer_c_name": doc["c_name"],
                                   "customer_c_acctbal": doc["c_acctbal"],
                                   "customer_c_mktsegment":
                                       doc["c_mktsegment"]}
                    elif kind == "delete":
                        lines.append({"delete": {"_index": "customer",
                                                 "_id": i}})
                        expect.append({"op": "delete", "index": "customer",
                                       "id": i, "status": 200})
                        del live[i]
                        dead.append(i)
                    else:
                        pid = f"{i}_{RUN_TS}"
                        price = float(np.round(rng.uniform(1, 2000), 2))
                        lines += [{"update": {"_index": "part", "_id": pid}},
                                  {"doc": {"part_p_retailprice": price}}]
                        expect.append({"op": "update", "index": "part",
                                       "id": pid, "status": 200})
                        parts[pid] = price
                reqs.append({"class": cls, "method": "POST",
                             "path": "/_bulk",
                             "ndjson": "".join(json.dumps(x) + "\n"
                                               for x in lines),
                             "expect": {"items": expect,
                                        "customers_written": len(live),
                                        "customers_deleted": len(dead)}})
            elif cls == "get":
                # read-after-write: the same kinds in the same slots of
                # every round, so each run's median covers one mix
                kind = (WARM_GET_KINDS if r == 0 else GET_KINDS)[
                    sum(q["class"] == "get" for q in reqs)]
                if kind == "live":
                    i = sorted(live)[int(rng.integers(0, len(live)))]
                    path, exp = f"/customer/{i}", {"status": 200,
                                                   "fields": dict(live[i])}
                elif kind == "deleted":
                    i = dead[int(rng.integers(0, len(dead)))]
                    path, exp = f"/customer/{i}", {"status": 404}
                else:
                    i = sorted(parts)[int(rng.integers(0, len(parts)))]
                    path, exp = f"/part/{i}", {"status": 200, "fields": {
                        "part_p_retailprice": parts[i]}}
                reqs.append({"class": cls, "method": "GET", "path": path,
                             "id": i, "expect": exp})
        rounds.append(reqs)
    return rounds


def write_plan(seed, path):
    with open(path, "w") as f:
        for r, reqs in enumerate(request_plan(seed)):
            for q in reqs:
                q["round"] = r
                f.write(json.dumps(q) + "\n")
