"""Output check for one run.

Registry results dumped on the cold pass (under the timed session conf) are
compared against their DuckDB oracle with the engine's own gate,
`tools/oracle_check.py`; results with no oracle get a schema and row-count
check. The ingest store is compared against an independent DuckDB
computation of the same seeded write sequence over the plain parquet input.

Each function returns {operation: reason} for every mismatch.
"""
import contextlib
import io
import json
import os
import sys

import duckdb


def registry(root, data_dir, dump_dir, oracle_sql, ops):
    """Oracle compare for every oracled op, schema/row check for the rest."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import oracle_check  # the engine's DuckDB gate, used unchanged
    wrong = {}
    dumped = [op for op in ops if os.path.isdir(os.path.join(dump_dir, op))]
    oracled = {op: oracle_sql[op] for op in dumped if op in oracle_sql}
    if oracled:
        with open(os.path.join(dump_dir, "oracle_sql.json"), "w") as f:
            json.dump(oracled, f)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            oracle_check.main(data_dir, dump_dir)
        for line in out.getvalue().splitlines():
            if line.startswith("FAIL "):
                _, name, why = (line.split(" ", 2) + [""])[:3]
                wrong[name] = "oracle mismatch: " + why
    con = duckdb.connect()
    for op in dumped:
        if op in oracled:
            continue
        cols = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{dump_dir}/{op}/*.parquet')").fetchall()
        n = con.execute(f"SELECT count(*) FROM read_parquet('{dump_dir}/{op}/*.parquet')").fetchone()[0]
        if not cols or n == 0:
            wrong[op] = f"unoracled result has {len(cols)} columns and {n} rows"
    return wrong


def _state_sql(data_dir, seq, upto):
    """The store's rows after the first `upto` committed versions of the
    sequence, as a DuckDB query over the plain parquet input."""
    orders = (f"(SELECT o_orderkey, o_custkey, o_orderstatus, "
              f"CAST(round(o_totalprice * 100) AS BIGINT) AS cents "
              f"FROM read_parquet('{data_dir}/orders.parquet'))")
    slices = [tuple(r) for r in seq["appends"]] + [tuple(seq["insert"])]
    q = " UNION ALL ".join(f"SELECT * FROM {orders} WHERE o_orderkey >= {lo} AND o_orderkey < {hi}"
                           for lo, hi in slices[:min(upto, len(slices))])
    v = len(slices)
    if upto > v:  # merge: matched keys replaced, unmatched keys inserted
        keys = ", ".join(map(str, seq["merge_keys"]))
        q = (f"SELECT * FROM ({q}) WHERE o_orderkey NOT IN ({keys}) UNION ALL "
             f"SELECT o_orderkey, o_custkey, o_orderstatus, cents + {seq['merge_delta']} "
             f"FROM {orders} WHERE o_orderkey IN ({keys})")
    if upto > v + 1:  # delete
        q = f"SELECT * FROM ({q}) WHERE o_orderkey NOT IN ({', '.join(map(str, seq['delete_keys']))})"
    return q


def ingest(data_dir, dump_dir, seq, results):
    """Check the final store content, each pruned range read and the
    time-travel read. Returns (wrong, live row count)."""
    con = duckdb.connect()
    wrong = {}
    final = _state_sql(data_dir, seq, len(seq["appends"]) + 4)
    cols = "o_orderkey, o_custkey, o_orderstatus, cents"
    want = con.execute(f"SELECT {cols} FROM ({final}) ORDER BY o_orderkey").fetchall()
    got = con.execute(f"SELECT {cols} FROM read_parquet('{dump_dir}/ingest_store/*.parquet') "
                      "ORDER BY o_orderkey").fetchall()
    if want != got:
        wrong["ingest.compact"] = f"final store differs: {len(got)} rows, expected {len(want)}"
    for i, (lo, hi) in enumerate(seq["ranges"]):
        exp = con.execute(f"SELECT count(*), sum(cents) FROM ({final}) "
                          f"WHERE o_orderkey BETWEEN {lo} AND {hi}").fetchone()
        step = f"scan_{i + 1}"
        if [list(exp)] != [list(r) for r in results.get(step, [])]:
            wrong["ingest." + step] = f"range read gave {results.get(step)}, expected {list(exp)}"
    exp = con.execute(f"SELECT count(*), sum(cents) FROM "
                      f"({_state_sql(data_dir, seq, seq['travel_version'])})").fetchone()
    if [list(exp)] != [list(r) for r in results.get("travel", [])]:
        wrong["ingest.travel"] = f"time travel gave {results.get('travel')}, expected {list(exp)}"
    return wrong, len(want)
