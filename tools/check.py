#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet
dumps against the DuckDB oracles in oracle_sql.json and diff.

Usage: python3 tools/check.py <sfDir> <outDir>
(outDir = what graft.Verify wrote). Driver-side tooling only — the shipped
Scala library does not depend on this.

       python3 tools/check.py diff <dumpA> <dumpB>
compares two graft.Verify dumps query by query, row for row after
sorting, with NO float rounding (a last-ulp change is a difference) —
the identity proof for a refactor that must not change any result.
Exits 1 on any difference or on a query present in only one dump.

       python3 tools/check.py plans <explainA> <explainB>
reads two graft.ExplainDump directories (one formatted plan per query)
and prints, per query, the count of each plan node in PLAN_NODES, A vs
B. Exits 1 when any count grew (or a query is in only one directory):
the plan-shape gate for a refactor that must not add work."""
import sys, json, glob, os, re
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s, utc=True).dt.tz_localize(None)
            s = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            s = s.round(6)
        out[c] = s
    df = pd.DataFrame(out)
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="last").reset_index(drop=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    for name in sorted(oracles):
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output at {spark_dir}")
            n_fail += 1
            continue
        try:
            got = canon(pd.read_parquet(spark_dir))
            want = canon(con.sql(oracles[name]).df())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} "
                  f"!= {list(want.columns)}")
            n_fail += 1
        elif len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
        else:
            eq = got.astype(str).equals(want.astype(str))
            if eq:
                print(f"PASS {name} ({len(got)} rows)")
                n_pass += 1
            else:
                diff = (got.astype(str) != want.astype(str))
                bad = diff.any(axis=1)
                print(f"FAIL {name}: {int(bad.sum())}/{len(got)} rows differ; "
                      f"cols: {list(diff.any()[diff.any()].index)}")
                i = bad.idxmax()
                print(f"  spark row {i}: {got.loc[i].to_dict()}")
                print(f"  duck  row {i}: {want.loc[i].to_dict()}")
                n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


def exact(v) -> str:
    """A value's exact, order-stable spelling: repr keeps every float
    bit (NaN and -0.0 included); nested lists/structs/maps recurse."""
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k!r}: {exact(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(exact(x) for x in v) + "]"
    return repr(v)


def dump_rows(query_dir: str):
    """(column names and types, sorted exact rows) of one Verify dump."""
    import pyarrow.parquet as pq
    t = pq.read_table(query_dir)
    schema = [(f.name, str(f.type)) for f in t.schema]
    rows = sorted(tuple(exact(v) for v in r.values()) for r in t.to_pylist())
    return schema, rows


def diff(dump_a: str, dump_b: str) -> int:
    def queries(d):
        return {os.path.basename(os.path.dirname(f))
                for f in glob.glob(f"{d}/*/*.parquet")}
    qa, qb = queries(dump_a), queries(dump_b)
    n_same = n_diff = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            print(f"DIFF {name}: only in {dump_a if name in qa else dump_b}")
            n_diff += 1
            continue
        (sa, ra), (sb, rb) = (dump_rows(f"{dump_a}/{name}"),
                              dump_rows(f"{dump_b}/{name}"))
        if sa != sb:
            print(f"DIFF {name}: schema {sa} != {sb}")
            n_diff += 1
        elif ra != rb:
            bad = [i for i, (x, y) in enumerate(zip(ra, rb)) if x != y]
            print(f"DIFF {name}: rows {len(ra)} vs {len(rb)}, "
                  f"{len(bad)} sorted rows differ")
            if bad:
                print(f"  A: {ra[bad[0]]}\n  B: {rb[bad[0]]}")
            n_diff += 1
        else:
            n_same += 1
    print(f"== {n_diff} differ, {n_same} identical, of {n_same + n_diff} "
          "queries ==")
    return 1 if n_diff else 0


def bench_fallback(repo_dir: str = ".") -> int:
    """Recover the bench JSON line when the stdout tail was truncated
    (the round-4 `parsed: null` failure mode): graft.Bench always writes
    its complete output to BENCH_LATEST.json as a file fallback — re-emit
    it as the single JSON line a driver parser expects."""
    p = os.path.join(repo_dir, "BENCH_LATEST.json")
    if not os.path.exists(p):
        print(f"no {p}", file=sys.stderr)
        return 1
    with open(p) as f:
        print(json.dumps(json.load(f), separators=(",", ":")))
    return 0


PLAN_NODES = ["Exchange", "BroadcastExchange", "FileScan", "Window",
              "HashAggregate", "TakeOrderedAndProject"]
NODE_HEADER = re.compile(r"^\((\d+)\) (\S+(?: \S+)?)")


def plan_counts(path: str) -> dict:
    """Distinct plan nodes per PLAN_NODES name, read from the numbered
    node details of a formatted explain. A file scan's header is
    `Scan <format>` (v1) or `BatchScan <table>` (v2); in-memory, local
    and RDD scans are not file scans."""
    ids = {n: set() for n in PLAN_NODES}
    with open(path) as f:
        for line in f:
            m = NODE_HEADER.match(line)
            if not m:
                continue
            node, words = m.group(1), m.group(2).split(" ")
            if words[0] in ids:
                ids[words[0]].add(node)
            elif (words[0] == "BatchScan" or (words[0] == "Scan" and
                    words[1:] not in (["ExistingRDD"], ["OneRowRelation"]))):
                ids["FileScan"].add(node)
    return {n: len(v) for n, v in ids.items()}


def plans(dir_a: str, dir_b: str) -> int:
    def names(d):
        return {os.path.basename(f)[:-4] for f in glob.glob(f"{d}/*.txt")}
    na, nb = names(dir_a), names(dir_b)
    grew = 0
    print("query " + " ".join(PLAN_NODES) + "  (A->B)")
    for name in sorted(na | nb):
        if name not in na or name not in nb:
            print(f"GREW {name}: only in {dir_a if name in na else dir_b}")
            grew += 1
            continue
        a = plan_counts(f"{dir_a}/{name}.txt")
        b = plan_counts(f"{dir_b}/{name}.txt")
        up = [n for n in PLAN_NODES if b[n] > a[n]]
        cells = " ".join(f"{a[n]}" if a[n] == b[n] else f"{a[n]}->{b[n]}"
                         for n in PLAN_NODES)
        print(f"{'GREW ' if up else ''}{name} {cells}")
        grew += bool(up)
    print(f"== {grew} grew, of {len(na | nb)} queries ==")
    return 1 if grew else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "bench":
        sys.exit(bench_fallback(sys.argv[2] if len(sys.argv) > 2 else "."))
    if len(sys.argv) > 1 and sys.argv[1] == "diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    if len(sys.argv) > 1 and sys.argv[1] == "plans":
        sys.exit(plans(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
