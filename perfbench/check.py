"""Correctness checks of one benchmark run, computed apart from the
program: DuckDB over the same generated parquet, the benchmark's own
BM25, and the request generator's model of the written store.

Each check function returns a list of failure messages (empty = pass).
"""
import glob
import json
import math
import re
from collections import Counter

import duckdb

RUN_TS = "2026-01-01T00:00:00Z"
# the entity catalog's required non-null columns, restated here so the
# check does not read them from the program
REQUIRED = {
    "customer": ["c_custkey", "c_name"], "supplier": ["s_suppkey", "s_name"],
    "part": ["p_partkey", "p_name"], "orders": ["o_orderkey", "o_custkey"],
    "nation": ["n_nationkey", "n_name"], "region": ["r_regionkey", "r_name"],
    "events": ["event_id", "user_id"],
}
# the standard analyzer's token pattern, restricted to the ASCII the
# generated corpus uses
TOKEN = re.compile(r"[a-z0-9_]+(?:['.][a-z0-9_]+)*")
K1, B = 1.2, 0.75
SCORE_TOL = 1e-3  # the program floors scores to a 1e-4 grid
PROBE_LIMIT = 10  # full_sync's ranked searches ask for ten hits


def tokens(s):
    return TOKEN.findall((s or "").lower())


def _db(data):
    con = duckdb.connect()
    for p in glob.glob(f"{data}/*.parquet"):
        name = p.rsplit("/", 1)[1][:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _valid_counts(con):
    out = {}
    for e, cols in REQUIRED.items():
        ok_pred = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        n, ok = con.sql(f"SELECT count(*), count(*) FILTER (WHERE {ok_pred}) "
                        f"FROM {e}").fetchone()
        out[e] = (ok, n - ok)
    return out


def _counts_match(got, want, fails, what):
    for e, (ok, bad) in want.items():
        g = tuple(got.get(e, (None, None)))
        if g != (ok, bad):
            fails.append(f"{what} {e}: synced/rejected {g} != {(ok, bad)}")


def check_full_sync(data, result):
    fails = []
    con = _db(data)
    p = result["last_pass"]
    synced = _valid_counts(con)
    _counts_match(result["check"]["counts"], synced, fails, "sync")
    n_orders = con.sql("SELECT count(*) FROM orders").fetchone()[0]
    want = {e: ok for e, (ok, _) in synced.items()}
    want["tickets"] = n_orders
    if result["check"]["verified"] != want:
        fails.append(f"count verification {result['check']['verified']} "
                     f"!= {want}")
    con.sql(f"CREATE VIEW tickets AS SELECT * FROM "
            f"read_parquet('{p}/tickets/data/*.parquet')")
    n, nd = con.sql("SELECT count(*), count(DISTINCT ticket_id) "
                    "FROM tickets").fetchone()
    if not (n == nd == n_orders == result["check"]["tickets"]):
        fails.append(f"tickets: {n} docs, {nd} distinct, written "
                     f"{result['check']['tickets']}, orders {n_orders}")
    # label set and latest status per order, recomputed from lineitem/part
    diff = con.sql("""
        WITH want_labels AS (
          SELECT l_orderkey AS k, string_agg(DISTINCT p_partkey || '|' ||
                 p_name || '|' || p_brand, ',' ORDER BY p_partkey || '|' ||
                 p_name || '|' || p_brand) AS labels
          FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        want_status AS (
          SELECT l_orderkey AS k, l_returnflag AS flag, l_linestatus AS name,
                 l_shipdate AS at FROM (
            SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY
              l_shipdate DESC, l_linenumber DESC, l_returnflag DESC,
              l_linestatus DESC) AS rn FROM lineitem) WHERE rn = 1),
        want AS (
          SELECT o_orderkey AS k, coalesce(l.labels, '') AS labels,
                 s.flag, s.name, s.at
          FROM orders LEFT JOIN want_labels l ON o_orderkey = l.k
          LEFT JOIN want_status s ON o_orderkey = s.k),
        got AS (
          SELECT ticket_number AS k, coalesce((SELECT string_agg(
                   x.id || '|' || x.name || '|' || x.color, ',' ORDER BY
                   x.id || '|' || x.name || '|' || x.color)
                 FROM (SELECT unnest(labels) AS x)), '') AS labels,
                 status_flag AS flag, status_name AS name, status_at AS at
          FROM tickets)
        SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT
                                      SELECT * FROM got)),
               (SELECT count(*) FROM (SELECT * FROM got EXCEPT
                                      SELECT * FROM want))""").fetchone()
    if diff != (0, 0):
        fails.append(f"tickets: label/status rows differ (missing, extra) "
                     f"= {diff}")
    # ranked searches over the fresh entity indexes: sorted, within the
    # limit, and every hit a part whose name holds a query term
    part_name = dict(con.sql("SELECT p_partkey || '_" + RUN_TS + "', p_name "
                             "FROM part").fetchall())
    term, hits = result["check"]["probe_term"], result["check"]["probe_hits"]
    terms = set(tokens(term))
    scores = [h["score"] for h in hits]
    if not 0 < len(hits) <= PROBE_LIMIT or \
            scores != sorted(scores, reverse=True):
        fails.append(f"probe {term!r}: {len(hits)} hits, scores {scores}")
    for h in hits:
        name = part_name.get(h["document_id"]) \
            if h["table"] == "part" else None
        if not terms & set(tokens(name)):
            fails.append(f"probe {term!r}: hit {h['table']} "
                         f"{h['document_id']} has no query term")
    # each entity index covers exactly the entity's synced documents
    for e in REQUIRED:
        gens = sorted(glob.glob(f"{p}/indexes/{e}/g*"))
        if not gens:
            fails.append(f"index {e}: missing")
            continue
        d = con.sql(f"""
            WITH i AS (SELECT DISTINCT document_id FROM
                       read_parquet('{gens[-1]}/doclens/*.parquet')),
                 s AS (SELECT document_id FROM
                       read_parquet('{p}/stores/{e}/data/*.parquet'))
            SELECT (SELECT count(*) FROM (SELECT * FROM i EXCEPT
                                          SELECT * FROM s)),
                   (SELECT count(*) FROM (SELECT * FROM s EXCEPT
                                          SELECT * FROM i))""").fetchone()
        if d != (0, 0):
            fails.append(f"index {e}: (extra, missing) docs = {d}")
    # traced runs: each lap query's row count, observed on its timed
    # write, against its oracle SQL run by DuckDB on the same parquet
    for name, q in result.get("queries", {}).items():
        sql = q["oracle"].strip().rstrip(";")
        want = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if q["rows"] != want:
            fails.append(f"query {name}: {q['rows']} rows != oracle {want}")
    return fails


class Bm25:
    """BM25 over one text column, Lucene's idf and defaults."""

    def __init__(self, docs):
        self.tf = {i: Counter(tokens(t)) for i, t in docs}
        self.dl = {i: sum(c.values()) for i, c in self.tf.items()}
        self.n = len(self.tf)
        self.avgdl = sum(self.dl.values()) / self.n
        self.df = Counter(t for c in self.tf.values() for t in c)

    def score(self, i, terms):
        s = 0.0
        for t in terms:
            f = self.tf[i].get(t, 0)
            if f:
                df = self.df[t]
                idf = math.log(1 + (self.n - df + 0.5) / (df + 0.5))
                s += idf * f * (K1 + 1) / (
                    f + K1 * (1 - B + B * self.dl[i] / self.avgdl))
        return s

    def top(self, terms, k):
        scored = [(self.score(i, terms), i) for i in self.tf]
        scored = [x for x in scored if x[0] > 0]
        scored.sort(key=lambda x: (-x[0], x[1]))
        return scored[:k]


def check_serve_mixed(data, result, plan_path, responses_path):
    fails = []
    con = _db(data)
    plan = {}
    with open(plan_path) as f:
        for line in f:
            q = json.loads(line)
            plan.setdefault(q["round"], []).append(q)
    rows = [json.loads(x) for x in open(responses_path)]
    want_n = sum(len(plan[r]) for r in range(result["rounds"]))
    if len(rows) != want_n:
        fails.append(f"{len(rows)} responses for {want_n} planned requests")
    docs = con.sql("SELECT doc_id, text FROM documents").fetchall()
    bm25, texts = Bm25(docs), dict(docs)
    written = None
    for rec in rows:
        q = plan[rec["round"]][rec["i"]]
        cls, body, st = q["class"], rec["body"], rec["status"]
        where = f"round {rec['round']} #{rec['i']} {cls}"
        if cls == "get":
            exp = q["expect"]
            if st != exp["status"]:
                fails.append(f"{where}: status {st} != {exp['status']}")
            elif st == 200:
                for k, v in exp["fields"].items():
                    if body.get(k) != v:
                        fails.append(f"{where}: {k} = {body.get(k)} != {v}")
            continue
        if st != 200:
            fails.append(f"{where}: status {st}: {str(body)[:200]}")
            continue
        if cls == "bulk":
            items = body["items"]
            exp = q["expect"]["items"]
            if body.get("errors") or len(items) != len(exp):
                fails.append(f"{where}: errors={body.get('errors')}, "
                             f"{len(items)} items for {len(exp)}")
                continue
            for it, e in zip(items, exp):
                (op, v), = it.items()
                if (op, v["_index"], v["_id"], v["status"]) != (
                        e["op"], e["index"], e["id"], e["status"]):
                    fails.append(f"{where}: item {op} {v['_index']} "
                                 f"{v['_id']} {v['status']} != {e}")
            written = q["expect"]["customers_written"]
            continue
        hits = body["hits"]["hits"]
        if cls == "rank":
            terms = sorted(set(tokens(q["body"]["search_term"])))
            want = bm25.top(terms, q["body"]["limit"])
            if len(hits) != len(want):
                fails.append(f"{where}: {len(hits)} hits != {len(want)}")
                continue
            for h, (ws, _) in zip(hits, want):
                own = bm25.score(h["doc_id"], terms)
                if abs(h["score"] - ws) > SCORE_TOL or \
                        abs(h["score"] - own) > SCORE_TOL:
                    fails.append(f"{where}: doc {h['doc_id']} score "
                                 f"{h['score']} vs own {own:.4f}, "
                                 f"rank slot {ws:.4f}")
        elif cls == "scan":
            term = q["body"]["search_term"].lower()
            scores = [h["score"] for h in hits]
            if len(hits) > q["body"]["limit"] or \
                    scores != sorted(scores, reverse=True):
                fails.append(f"{where}: {len(hits)} hits, scores {scores}")
            for h in hits:
                if term not in texts[h["doc_id"]].lower():
                    fails.append(f"{where}: doc {h['doc_id']} lacks {term}")
        elif cls == "dsl":
            rng = q["body"]["query"]["bool"]["filter"][0]["range"][
                "o_totalprice"]
            lo, hi = rng["gte"], rng["lte"]
            want = dict(con.sql(
                f"SELECT o_orderpriority, count(*) FROM orders WHERE "
                f"o_totalprice BETWEEN {lo} AND {hi} GROUP BY 1").fetchall())
            got = {b["o_orderpriority"]: b["doc_count"] for b in
                   body["aggregations"]["by_priority"]["buckets"]}
            if got != want:
                fails.append(f"{where}: buckets {got} != {want}")
            if len(hits) != min(q["body"]["size"], sum(want.values())) or \
                    any(not lo <= h["o_totalprice"] <= hi for h in hits):
                fails.append(f"{where}: hits outside the range filter")
    synced = _valid_counts(con)
    _counts_match(result["sync_counts"], synced, fails, "sync")
    want_final = {"customer": synced["customer"][0] + (written or 0),
                  "part": synced["part"][0]}
    if result["final_count"] != want_final:
        fails.append(f"final counts {result['final_count']} != {want_final}")
    return fails
