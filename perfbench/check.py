"""Correctness checks, run after the timed region.

- lakehouse_dml: the op log the JVM recorded is replayed in DuckDB from
  the same generated inputs. Every read's digest, the final table, the
  aggregate view and the SCD2 history's current rows must match.
- curation_batch: each entry's last result is compared with DuckDB
  running the entry's oracle SQL over the same tables; an entry without
  oracle SQL must return the same row count on every execution.
"""
import hashlib
import struct
import sys
from datetime import date, datetime
from pathlib import Path

import duckdb

# tools/oracle_check.py is the repository's DuckDB oracle gate; the
# entry check compares results in its canonical form
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

EPOCH = datetime(1970, 1, 1)
COLS = ["id", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"]
COL_LIST = ", ".join(COLS)


def _cell(v):
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, datetime):
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, date):
        return str((v - EPOCH.date()).days)
    return str(v)


def digest(rows):
    """The same order-independent digest perfbench/jvm/Trace.scala
    computes over collected Spark rows."""
    acc = 0
    for r in rows:
        txt = "\x1f".join(_cell(v) for v in r)
        acc += int.from_bytes(hashlib.md5(txt.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{acc % (1 << 64):x}"


def lakehouse(result, data, script, final, corrupt=False):
    """Replay the measured set-up's ops. Returns (failures, rows changed
    per op id). `final` holds the engine's exported end state; `corrupt`
    drops one row of it first, to show the check catches a wrong
    result."""
    ops = result["ops"]
    start = max(i for i, o in enumerate(ops) if o["name"] == "create_table")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT {COL_LIST} FROM read_parquet('{data}/initial.parquet')")
    snaps = {ops[start]["id"]: "snap_init"}
    con.execute("CREATE TABLE snap_init AS SELECT * FROM t")
    bad, changed = [], {}
    cycle = -1

    def count(sql):
        return con.execute(sql).fetchone()[0]

    def rows(sql):
        return con.execute(sql).fetchall()

    for o in ops[start:]:
        if o["name"] == "ingest":
            cycle += 1
        if not o["ok"]:
            continue
        c = script[cycle] if cycle >= 0 else None
        name, info = o["name"], o["info"]
        src = lambda f: f"read_parquet('{c['dir']}/{f}')"
        n = 0
        if name == "ingest":
            cond = ("l_quantity BETWEEN 1 AND 50" if info["quarantined"] > 0 else "true")
            n = count(f"SELECT count(*) FROM {src('raw/*.parquet')} WHERE {cond}")
            con.execute(f"INSERT INTO t SELECT {COL_LIST} FROM {src('raw/*.parquet')} WHERE {cond}")
            if n != info["rows"]:
                bad.append(f"ingest cycle {cycle}: engine wrote {info['rows']} rows, replay {n}")
        elif name in ("merge", "apply_changes"):
            f = "merge.parquet" if name == "merge" else "cdc.parquet"
            keep = "true" if name == "merge" else "NOT _delete"
            n = count(f"SELECT count(*) FROM {src(f)}")
            con.execute(f"DELETE FROM t WHERE id IN (SELECT id FROM {src(f)})")
            con.execute(f"INSERT INTO t SELECT {COL_LIST} FROM {src(f)} WHERE {keep}")
            if name == "merge":
                snaps[o["id"]] = f"snap_{o['id']}"
                con.execute(f"CREATE TABLE snap_{o['id']} AS SELECT * FROM t")
        elif name == "append":
            n = count(f"SELECT count(*) FROM {src('append.parquet')}")
            con.execute(f"INSERT INTO t SELECT {COL_LIST} FROM {src('append.parquet')}")
        elif name == "delete_mor":
            n = count(f"SELECT count(*) FROM t WHERE id < {c['delete_below']}")
            con.execute(f"DELETE FROM t WHERE id < {c['delete_below']}")
        elif name == "update_mor":
            pred = f"id BETWEEN {c['update_lo']} AND {c['update_hi']}"
            n = count(f"SELECT count(*) FROM t WHERE {pred}")
            con.execute(f"UPDATE t SET l_discount = 0.0, l_quantity = l_quantity + 1.0 WHERE {pred}")
        elif name in ("read_range", "read_point"):
            want = digest(rows(f"SELECT {COL_LIST} FROM t WHERE id BETWEEN {info['lo']} AND {info['hi']}"))
            if want != info["digest"]:
                bad.append(f"{name} op {o['id']}: engine {info['digest']} replay {want}")
        elif name == "count_where":
            want = str(count(f"SELECT count(*) FROM t WHERE id BETWEEN {info['lo']} AND {info['hi']}"))
            if want != info["digest"]:
                bad.append(f"count_where op {o['id']}: engine {info['digest']} replay {want}")
        elif name == "read_as_of":
            snap = snaps.get(info["as_of_op"])
            want = digest(rows(
                f"SELECT l_returnflag, l_linestatus, count(*)::BIGINT, sum(l_orderkey)::BIGINT "
                f"FROM {snap} GROUP BY ALL")) if snap else "no snapshot"
            if want != info["digest"]:
                bad.append(f"read_as_of op {o['id']}: engine {info['digest']} replay {want}")
        changed[o["id"]] = n
    drop = " WHERE id <> (SELECT min(id) FROM t)" if corrupt else ""
    checks = [
        ("final table", f"SELECT {COL_LIST} FROM read_parquet('{final}/final_table/*.parquet'){drop}",
         f"SELECT {COL_LIST} FROM t"),
        ("scd2 current rows", f"SELECT {COL_LIST} FROM read_parquet('{final}/final_scd2_current/*.parquet')",
         f"SELECT {COL_LIST} FROM t"),
        ("aggregate view",
         "SELECT l_suppkey, n_rows, sum_l_quantity, min_l_extendedprice, max_l_extendedprice "
         f"FROM read_parquet('{final}/final_mv/*.parquet')",
         "SELECT l_suppkey, count(*)::BIGINT, sum(l_quantity), min(l_extendedprice), "
         "max(l_extendedprice) FROM t GROUP BY l_suppkey"),
    ]
    for what, got_sql, want_sql in checks:
        got, want = digest(rows(got_sql)), digest(rows(want_sql))
        if got != want:
            bad.append(f"{what}: engine {got} replay {want}")
    con.close()
    return bad, changed


def entries(result, data, corrupt=None):
    """Check each entry's exported result. Returns the failures.
    `corrupt` names an entry whose result is altered before the
    comparison, to show the check catches a wrong result."""
    from oracle_check import TABLES, normalize

    def compare(got, want):
        """None when the two frames hold the same rows, else why not."""
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
        if len(got) != len(want):
            return f"{len(got)} rows vs oracle {len(want)}"
        if not len(got):
            return None
        g, w = normalize(got), normalize(want)
        if not g.equals(w):
            diff = (g != w).any(axis=1)
            return (f"values differ, first: {g[diff].head(1).to_dict('records')} "
                    f"vs {w[diff].head(1).to_dict('records')}")
        return None

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    exp = result["export"]
    oracle = exp["oracle_sql"]
    bad = []
    runs = {}
    for o in result["ops"]:
        if o["ok"] and "rows" in o["info"]:
            runs.setdefault(o["name"], set()).add(o["info"]["rows"])
    for name, path in exp["outputs"].items():
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
        except duckdb.Error as e:
            bad.append(f"{name}: no readable output ({e})")
            continue
        if name == corrupt and len(got):
            got = got.iloc[1:] if len(got) > 1 else got.iloc[:0]
        if name in oracle:
            why = compare(got, con.execute(oracle[name]).fetchdf())
            if why:
                bad.append(f"{name}: {why}")
        elif runs.get(name, {len(got)}) != {len(got)}:
            bad.append(f"{name}: row counts {sorted(runs[name])} across executions, exported {len(got)}")
    con.close()
    return bad
