"""Independent output checks, run after the timed loop.

Every result the harness returns carries a digest (see
`graftbench.Digest`): columns sorted by name, cells encoded exactly,
rows sorted, SHA-256. Here DuckDB computes the expected results over the
same parquet files and they are digested the same way, so a match is a
bit-exact match.

* adhoc: the generator's join-formulation SQL per query.
* stream: the final snapshot must equal `EmfPlanner.plan` over the same
  rows (both digested by the harness).
* surface: each entry's row count must equal DuckDB's count over the
  entry's `SparkEntry.oracleSql`.
"""
import hashlib
import os
import struct
from decimal import Decimal

import duckdb

TABLES = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, float):
        return "D" + struct.pack(">d", v).hex()
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return f"I{int(v)}"
        return "M" + format(v.normalize(), "f")
    return f"S{v}"


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def connect(data, sales_view_sql, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if not os.path.exists(path):  # only surface has every table
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    con.execute(f"CREATE VIEW sales AS {sales_view_sql}")
    return con


def run_sql(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def check(res, data, queries, threads):
    """Returns failed op count, extra attempts (stream cases that failed
    before any micro-batch, surface shared builds that failed), a
    one-line summary and problem lines."""
    con = connect(data, res["sales_view_sql"], threads)
    problems, bad_ops, extra = [], 0, 0
    w = res["workload"]
    expected = {}  # query id -> digest

    def expect(qid, sql):
        if qid not in expected:
            expected[qid] = digest(*run_sql(con, sql))
        return expected[qid]

    if w == "adhoc":
        sql_of = {q["id"]: q["sql"] for q in queries}
        for qid, got in res["checks"].items():  # priming block
            if got != expect(qid, sql_of[qid]):
                problems.append(f"priming query {qid}: result differs from DuckDB")
        for o in res["ops"]:
            if "err" in o:
                bad_ops += 1
                problems.append(f"op {o['id']} {o['q']}: {o['err']}")
            elif o["digest"] != expect(o["q"], sql_of[o["q"]]):
                bad_ops += 1
                problems.append(f"op {o['id']} {o['q']}: result differs from DuckDB")
        summary = f"{len(expected)} distinct results checked against DuckDB"
    elif w == "surface":
        counts = {}

        def want(qid):
            if qid not in counts:
                sql = res["oracle"][qid]
                counts[qid] = con.execute(f"SELECT count(*) FROM ({sql}) AS o").fetchone()[0]
            return counts[qid]
        for qid, got in res["checks"].items():  # priming pass
            if got != want(qid):
                problems.append(f"priming entry {qid}: {got} rows, DuckDB {want(qid)}")
        for o in res["ops"]:
            if "err" in o:
                bad_ops += 1
                extra += o["kind"] == "shared"  # a build line is not an op
                problems.append(f"op {o['id']} {o['q']}: {o['err']}")
            elif o["kind"] == "entry" and o["rows"] != want(o["q"]):
                bad_ops += 1
                problems.append(f"op {o['id']} {o['q']}: {o['rows']} rows, "
                                f"DuckDB {want(o['q'])}")
        summary = f"{len(counts)} entries' row counts checked against DuckDB"
    else:
        by_case = {}
        for o in res["ops"]:
            by_case.setdefault(o["case"], []).append(o)
        n_ok = 0
        for c in res["cases"]:
            ok = "err" not in c and c.get("snapshot_digest") == c.get("batch_digest")
            n_ok += ok
            if not ok:
                n = len(by_case.get(c["case"], []))
                bad_ops += n
                extra += 0 if n else 1
                problems.append(f"case {c['case']} {c['q']}: "
                                + c.get("err", "snapshot differs from batch plan"))
        summary = (f"{n_ok} of {len(res['cases'])} stream cases: snapshot == "
                   f"EmfPlanner.plan digest; rejected by planAuto: "
                   f"{sorted(res.get('rejected', {}))}")
    con.close()
    return {"failed_ops": bad_ops + extra, "extra_attempted": extra,
            "summary": summary, "problems": problems,
            "ok": not problems}
