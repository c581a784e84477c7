"""Correctness checks of the perfbench outputs against DuckDB.

- migrate: the Derby tables' row digests against `q_migrate_bundle`'s
  oracle SQL on the generated roster.
- corpus: the written `q_corpus_pipeline` and `q_dedup_embed_components`
  outputs against their oracle SQL on the generated documents/embeddings.
- lakehouse: a DuckDB replay of the executed op log; every read result,
  the final table and the final materialized view are compared.

Each check returns a list of failure messages (empty = pass).
"""
import datetime
import glob
import json
import math
import os
import re

import duckdb


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in sorted(v.items()))
    return v


def materialized(sql):
    """Mark the CTEs the recursive component closure reads as MATERIALIZED.
    DuckDB otherwise re-evaluates them on every recursion step (minutes on
    the benchmark inputs instead of seconds); the hint changes the plan,
    never the result."""
    return re.sub(r"(^|\n|WITH RECURSIVE |WITH |,\s*)(edges|sh|sig) AS \(",
                  r"\1\2 AS MATERIALIZED (", sql)


def compare_sql(con, name, sql, out_dir):
    """Spark result parquet vs the oracle SQL: columns sorted by name,
    result types equal, rows compared in order."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return [f"{name}: no result parquet"]
    src = f"read_parquet('{out_dir}/*.parquet')"
    spark_rel = con.sql(f"SELECT * FROM {src}")
    # run the oracle once into a table (keeps its order and result types)
    con.sql(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {materialized(sql)}")
    sql = "SELECT * FROM oracle_out"
    duck_rel = con.sql(sql)
    cols = sorted(spark_rel.columns)
    if cols != sorted(duck_rel.columns):
        return [f"{name}: columns {cols} vs {sorted(duck_rel.columns)}"]
    st = dict(zip(spark_rel.columns, map(str, spark_rel.types)))
    dt = dict(zip(duck_rel.columns, map(str, duck_rel.types)))
    diff = {c: (st[c], dt[c]) for c in cols if st[c] != dt[c]}
    if diff:
        return [f"{name}: result types differ {diff}"]
    sel = ", ".join(f'"{c}"' for c in cols)
    a = con.sql(f"SELECT {sel} FROM {src}").fetchall()
    b = con.sql(f"SELECT {sel} FROM ({sql})").fetchall()
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows vs oracle {len(b)}"]
    for i, (x, y) in enumerate(zip(a, b)):
        if tuple(map(_norm, x)) != tuple(map(_norm, y)):
            return [f"{name}: row {i} differs: {x} vs {y}"]
    return []


# DuckDB spills here (set by the caller to a directory of the run)
TEMP_DIR = None


def _connect():
    return duckdb.connect(config={"temp_directory": TEMP_DIR} if TEMP_DIR
                          else {})


def _views(con, inputs, tables):
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{inputs}/{t}.parquet')")


def check_migrate(inputs, res):
    con = _connect()
    _views(con, inputs, ["customer", "nation"])
    sql = res["oracle_sql"]["q_migrate_bundle"]
    return compare_sql(con, "q_migrate_bundle", sql,
                       res["outputs"]["q_migrate_bundle"])


def check_corpus(inputs, res):
    con = _connect()
    _views(con, inputs, ["documents", "embeddings"])
    errs = []
    for k, sql in res["oracle_sql"].items():
        errs += compare_sql(con, k, sql, res["outputs"][k])
    return errs


# ------------------------------------------------------------- lakehouse

def row_exprs(k, salt):
    """DuckDB twin of `LakehouseWl.rowExprs`."""
    key = f"CAST({k} AS BIGINT)"
    return ", ".join([
        f"{key} AS o_orderkey",
        f"({key} * 7919 + {salt}) % 100000 AS o_custkey",
        f"CASE ({key} + {salt}) % 3 WHEN 0 THEN 'O' WHEN 1 THEN 'F' "
        "ELSE 'P' END AS o_status",
        f"({key} * 31337 + {salt}) % 50000000 AS o_totalcents",
        f"DATE '2020-01-01' + CAST(({key} + {salt}) % 1500 AS INTEGER) "
        "AS o_orderdate",
        f"concat(CAST(({key} + {salt}) % 5 + 1 AS VARCHAR), '-P') "
        "AS o_priority"])


def _s(v):
    if v is None:
        return "null"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v)


def _rows(con, sql):
    return ["|".join(_s(v) for v in r) for r in con.sql(sql).fetchall()]


def check_lakehouse(inputs, res):
    out = res["outputs"]
    script = json.load(open(os.path.join(inputs, "script.json")))["rounds"]
    log = json.load(open(out["log"]))
    con = _connect()
    con.sql("CREATE TABLE lh AS SELECT * FROM "
            f"read_parquet('{inputs}/orders.parquet')")
    stmts = log["statements"]
    errs = []
    i = 0
    for ri in range(log["rounds"]):
        r = script[ri]
        salt = r["salt"]
        at_start = _rows(con, "SELECT count(*) AS n, sum(o_totalcents) AS s "
                              "FROM lh")
        points = list(r["points"])
        while i < len(stmts) and stmts[i]["round"] == ri:
            st = stmts[i]
            i += 1
            kind = st["kind"]
            if kind == "insert":
                a, b = r["insert"]
                con.sql(f"INSERT INTO lh SELECT {row_exprs('id', salt)} "
                        f"FROM range({a}, {b + 1}) t(id)")
            elif kind == "merge":
                vals = ", ".join(f"({k})" for k in r["merge"])
                con.sql("CREATE OR REPLACE TEMP TABLE src AS SELECT "
                        f"{row_exprs('k', salt + 500000)} FROM "
                        f"(VALUES {vals}) v(k)")
                con.sql("UPDATE lh SET o_custkey = s.o_custkey, "
                        "o_status = s.o_status, "
                        "o_totalcents = s.o_totalcents, "
                        "o_orderdate = s.o_orderdate, "
                        "o_priority = s.o_priority FROM src s "
                        "WHERE lh.o_orderkey = s.o_orderkey")
                con.sql("INSERT INTO lh SELECT * FROM src WHERE o_orderkey "
                        "NOT IN (SELECT o_orderkey FROM lh)")
            elif kind == "update":
                keys = ", ".join(map(str, r["update"]))
                con.sql("UPDATE lh SET o_status = 'U', "
                        "o_totalcents = o_totalcents + 100 "
                        f"WHERE o_orderkey IN ({keys})")
            elif kind == "delete":
                keys = ", ".join(map(str, r["delete"]))
                con.sql(f"DELETE FROM lh WHERE o_orderkey IN ({keys})")
            elif kind in ("refresh", "optimize", "vacuum"):
                pass  # no change to the table's contents
            else:
                if kind == "point":
                    want = _rows(con, "SELECT * FROM lh WHERE o_orderkey = "
                                      f"{points.pop(0)}")
                elif kind == "range":
                    lo, hi = r["range"]
                    want = _rows(con, "SELECT count(*), sum(o_totalcents) "
                                      f"FROM lh WHERE o_orderkey BETWEEN "
                                      f"{lo} AND {hi}")
                elif kind == "count":
                    want = _rows(con, "SELECT count(*) FROM lh")
                elif kind == "groupby" or kind == "mvread":
                    want = _rows(con, "SELECT o_status, count(*), "
                                      "sum(o_totalcents) FROM lh GROUP BY "
                                      "o_status ORDER BY o_status")
                elif kind == "timetravel":
                    want = at_start
                else:
                    errs.append(f"round {ri}: unknown statement {kind}")
                    continue
                if st["ok"] and st["result"] != want:
                    errs.append(f"round {ri} {kind}: {st['result'][:3]} "
                                f"vs oracle {want[:3]}")
    if i != len(stmts):
        errs.append(f"log has {len(stmts) - i} statements past the rounds")
    con.sql("CREATE VIEW final AS SELECT * FROM lh")
    errs += compare_sql(con, "lakehouse_table",
                        "SELECT * FROM final ORDER BY o_orderkey", out["table"])
    errs += compare_sql(con, "lakehouse_mv",
                        "SELECT o_status, count(*) AS n, "
                        "CAST(sum(o_totalcents) AS BIGINT) AS s FROM final "
                        "GROUP BY o_status ORDER BY o_status", out["mv"])
    return errs


CHECKS = {"migrate": check_migrate, "corpus": check_corpus,
          "lakehouse": check_lakehouse}


def check(workload, inputs, res):
    """Failure messages for one workload's result (empty = correct)."""
    if not res.get("outputs"):
        return [f"{workload}: no outputs to check"]
    try:
        return CHECKS[workload](inputs, res)
    except Exception as e:  # an oracle crash is a failed check, not a pass
        return [f"{workload}: check crashed: {type(e).__name__}: {e}"]
