"""Output checks for the perfbench workloads.

Lane workloads: `graft.Verify` (run in the benchmark JVM during set-up)
writes every lane's result; `tools/check_oracle.py` compares each one
hash-exact to DuckDB over the same generated tables. Lanes without oracle
SQL get the weaker check that their result is non-empty.

lake_writes: DuckDB replays the same operation stream (MERGE and upsert as
DELETE + INSERT) and the engine's final tables, every read and every
time-travel read are compared with the replay.
"""
import json
import os
import re
import subprocess
import sys
from decimal import Decimal

import duckdb


def check_lanes(root, data, verify_dir, lanes):
    """Return {lane: (ok, detail)} for each lane, from check_oracle.py's
    per-lane lines. Lanes the tool does not mention failed in Verify."""
    p = subprocess.run(
        [sys.executable, f"{root}/tools/check_oracle.py", data, verify_dir],
        capture_output=True, text=True, timeout=120)
    seen = {}
    for line in p.stdout.splitlines():
        m = re.match(r"\s*([✓✗~])\s+([A-Za-z0-9_]+)(.*)", line)
        if not m or m.group(2) not in lanes:
            continue
        mark, name, rest = m.groups()
        if mark == "✓":
            seen[name] = (True, "oracle: hash-exact")
        elif mark == "~":
            rows = re.search(r"rows=(\d+)", rest)
            n = int(rows.group(1)) if rows else 0
            seen[name] = (n > 0, f"no oracle: non-empty check (weaker), rows={n}")
        else:
            seen[name] = (False, "oracle mismatch:" + rest.strip()[:200])
    return {l: seen.get(l, (False, "no result from Verify")) for l in lanes}


def _fmt(v):
    if v is None:
        return "null"
    return f"{v:.2f}" if isinstance(v, Decimal) else str(v)


def _rows(con, sql):
    return sorted("|".join(_fmt(x) for x in r) for r in con.execute(sql).fetchall())


def replay_lake(data, work, extra):
    """Replay the applied prefix of the stream in DuckDB and compare.
    Returns (ok, list of mismatch descriptions)."""
    stream = json.load(open(f"{data}/lake/ops.json"))
    ops = stream["ops"][: extra["applied"]]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{data}/lake/base.parquet')")
    con.execute("CREATE TABLE store AS SELECT * FROM orders WHERE false")
    con.execute(f"CREATE TABLE docs AS SELECT doc_id FROM read_parquet('{data}/lake/docs_0.parquet')")
    reads = {r["idx"]: r for r in extra["reads"]}
    # Aggregates as of each orders state, for time-travel reads.
    agg = "SELECT grp, count(*), sum(amount) FROM orders GROUP BY grp"
    states = {-1: _rows(con, agg)}
    wanted = {r["state"] for r in extra["reads"] if r["kind"] == "time_travel"}
    bad = []

    def compare(i, kind, expect, got):
        if expect != got:
            bad.append(f"op {i} {kind}: engine {got[:3]} != duckdb {expect[:3]}")

    for i, op in enumerate(ops):
        kind = op["kind"]
        src = f"read_parquet('{data}/{op['batch']}')" if "batch" in op else None
        if kind == "append":
            con.execute(f"INSERT INTO orders SELECT * FROM {src}")
        elif kind in ("merge", "upsert"):
            con.execute(f"DELETE FROM orders WHERE k IN (SELECT k FROM {src})")
            con.execute(f"INSERT INTO orders SELECT * FROM {src}")
        elif kind == "update":
            con.execute(f"UPDATE orders SET amount = amount + 1.00 WHERE k % {op['mod']} = {op['rem']}")
        elif kind == "delete":
            con.execute(f"DELETE FROM orders WHERE k % {op['mod']} = {op['rem']}")
        elif kind == "store_append":
            con.execute(f"INSERT INTO store SELECT * FROM {src}")
        elif kind == "docs_append":
            con.execute(f"INSERT INTO docs SELECT doc_id FROM {src}")
        elif kind == "point":
            compare(i, kind, _rows(con, f"SELECT k, grp, amount FROM orders WHERE k = {op['key']}"),
                    sorted(reads[i]["rows"]))
        elif kind == "range":
            compare(i, kind, _rows(con, f"SELECT count(*), sum(amount) FROM orders "
                                        f"WHERE k BETWEEN {op['lo']} AND {op['hi']}"),
                    sorted(reads[i]["rows"]))
        elif kind == "aggregate":
            compare(i, kind, _rows(con, agg), sorted(reads[i]["rows"]))
        if i in wanted:
            states[i] = _rows(con, agg)
    for r in extra["reads"]:
        if r["kind"] == "time_travel":
            if r["state"] not in states:
                bad.append(f"op {r['idx']} time_travel: state {r['state']} not replayed")
            else:
                compare(r["idx"], "time_travel", states[r["state"]], sorted(r["rows"]))
    out = f"{work}/lake_out"
    final = [
        ("orders", "SELECT k, grp, amount, ts, note FROM orders",
         f"SELECT k, grp, amount, ts, note FROM read_parquet('{out}/orders/*.parquet')"),
        ("mv", agg, f"SELECT grp, n, total FROM read_parquet('{out}/mv/*.parquet')"),
        ("store", "SELECT count(*), sum(amount), min(k), max(k) FROM store",
         f"SELECT count(*), sum(amount), min(k), max(k) FROM read_parquet('{out}/store/*.parquet')"
         if any(o["kind"] == "store_append" for o in ops) else
         "SELECT 0, NULL::DECIMAL(12,2), NULL::BIGINT, NULL::BIGINT"),
        ("docs_curated", "SELECT doc_id FROM docs",
         f"SELECT doc_id FROM read_parquet('{out}/docs_curated/*.parquet')"),
    ]
    for name, expect_sql, got_sql in final:
        e, g = _rows(con, expect_sql), _rows(con, got_sql)
        if e != g:
            bad.append(f"final {name}: {len(g)} engine rows vs {len(e)} replayed rows differ")
    live_bytes = _live_bytes(con, work)
    return not bad, bad, live_bytes


def _live_bytes(con, work):
    """Size of the final live table written once as snappy parquet: the
    user bytes a perfectly compacted table would store."""
    path = f"{work}/lake_out/live.parquet"
    con.execute(f"COPY (SELECT * FROM orders ORDER BY k) TO '{path}' "
                "(FORMAT PARQUET, COMPRESSION SNAPPY)")
    return os.path.getsize(path)
