"""Re-record perfbench/expected.json and prove it against the DuckDB oracle.

    python3 perfbench/run.py --record <dump-dir>

Runs every query the workloads time once in a fresh JVM, writes each
output as parquet plus the program's own oracle SQL
(`SparkEntry.oracleSql`) into <dump-dir>, and compares each output, as a
multiset of rows with columns in name order, with the oracle's answer in
DuckDB over the same data files. The row count and digest of a query are
recorded only if it matches. For curation it records the tables of a full
(non-incremental) rebuild of the whole corpus that do not depend on the
seed; the benchmark's incremental tick must reproduce them.
"""
import json
import math
import os
import shutil
import sys
import time

import duckdb
import pyarrow.parquet as pq


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def spark_rows(path):
    tbl = pq.read_table(path)
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, sorted((tuple(canon(col[i]) for col in data) for i in range(tbl.num_rows)), key=repr)


def duck_rows(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in rel.fetchall()]
    return sorted(cols), sorted(rows, key=repr)


def main(build, jvm, runs, dump):
    from run import DATA, HERE, SEED_FREE_TABLES, WORKLOADS
    keys = sorted({k for w in WORKLOADS.values() for k in w.get("keys", [])})
    tables = "region,nation,customer,supplier,part,orders,lineitem,events,documents,embeddings"
    dump.mkdir(parents=True, exist_ok=True)
    work = runs / f"record-{os.getpid()}"
    try:
        _, res = jvm(build(), work, "record", tables,
                     {"keys": ",".join(keys), "dump": dump.resolve()}, time.monotonic() + 3600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    con = duckdb.connect()
    for t in tables.split(","):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / t}.parquet'")
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    bad = []
    for k in keys:
        s_cols, s_rows = spark_rows(dump / k)
        d_cols, d_rows = duck_rows(con, oracle[k])
        ok = s_cols == d_cols and s_rows == d_rows
        print(f"{'PASS' if ok else 'MISMATCH':9s} {k:28s} rows={len(s_rows)} oracle_rows={len(d_rows)}")
        if not ok:
            bad.append(k)
    if bad:
        sys.exit(f"not recorded: {len(bad)} queries disagree with the oracle: {bad}")
    full = {t: res["curation_full"][t] for t in SEED_FREE_TABLES}
    out = {"data": "sf0.01", "queries": res["queries"], "curation_full": full}
    (HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(keys)} queries and {len(full)} curation tables")
