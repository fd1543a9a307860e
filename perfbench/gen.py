"""Seeded inputs for the benchmark.

* `make_fixture` writes the six tables `graft.Tables.salesView` joins
  (lineitem, orders, customer, part, supplier, nation) as parquet, with
  the engine's testdata schema, using DuckDB; with `surface` also region,
  events, documents and embeddings, the other tables `SparkEntry.queries`
  reads. The same seed and row count give the same files.
* `adhoc_queries` generates EMF queries in the engine's 5/6-line spec
  format, each with a DuckDB join-formulation SQL (one CTE per grouping
  variable, in declaration order) that defines its expected result
  independently of `EmfPlanner`.
"""
import os
import random

import duckdb


# documents: words of the testdata vocabulary; languages and sources
WORDS = ("a the data row column table key value query join group sort merge "
         "hash scan filter agg window batch stream spark part line order "
         "customer small big fast slow vector dup").split()
LANGS = ("de", "en", "es", "fr", "zh")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _surface_tables(rows, h):
    """SQL of the tables only `surface` reads, at the testdata's
    proportions: 1 event per 6 lineitem rows, 1 user per 66 events,
    500 documents and 500 unit-norm 64-d embeddings in 10 labelled
    clusters. About one document in ten repeats an earlier one, exactly
    or with one word changed, so the dedup entries have work to do."""
    n_ev = max(100, rows // 6)
    n_users = max(15, n_ev // 66)
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    langs = "[" + ", ".join(f"'{w}'" for w in LANGS) + "]"
    types = "[" + ", ".join(f"'{w}'" for w in EVENT_TYPES) + "]"
    nw = len(WORDS)
    return {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
                       ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
                     FROM range(5) t(i)""",
        "events": f"""SELECT i AS event_id,
                       TIMESTAMP '2024-01-01' + to_microseconds(
                         CAST(i * 2592000000000 // {n_ev}
                              + {h('i', 30)} % (2592000000000 // {n_ev}) AS BIGINT)) AS ts,
                       CAST({h('i', 31)} % {n_users} AS BIGINT) AS user_id,
                       {types}[1 + CAST({h('i', 32)} % 5 AS INTEGER)] AS event_type,
                       CAST({h('i', 33)} % 32800 + 3 AS DOUBLE) / 100 AS value,
                       '{{"k": ' || ({h('i', 34)} % 100) || '}}' AS props
                     FROM range({n_ev}) t(i)""",
        "documents": f"""WITH base AS (
                       SELECT i, array_to_string(list_transform(
                           range(8 + CAST({h('i', 35)} % 83 AS INTEGER)),
                           j -> {words}[1 + CAST(hash(i, j, {h('i', 36)}) % {nw} AS INTEGER)]),
                         ' ') AS body
                       FROM range(500) t(i)),
                     doc AS (
                       SELECT b.i, CASE
                           WHEN b.i >= 50 AND {h('b.i', 37)} % 20 = 0 THEN o.body
                           WHEN b.i >= 50 AND {h('b.i', 37)} % 20 = 1
                             THEN o.body || ' ' || {words}[1 + CAST({h('b.i', 38)} % {nw} AS INTEGER)]
                           ELSE b.body END AS text
                       FROM base b JOIN base o ON o.i = {h('b.i', 39)} % 50)
                     SELECT i AS doc_id, text,
                       {langs}[1 + CAST({h('i', 40)} % 5 AS INTEGER)] AS lang,
                       'src' || ({h('i', 41)} % 20) AS source,
                       CAST(length(text) AS BIGINT) AS n_chars
                     FROM doc ORDER BY i""",
        "embeddings": f"""WITH raw AS (
                       SELECT i, CAST({h('i', 42)} % 10 AS INTEGER) AS label,
                         list_transform(range(64), j ->
                           CAST(hash(label_of(i), j, {h('0', 43)}) % 2001 AS DOUBLE) / 1000 - 1
                           + (CAST(hash(i, j, {h('0', 44)}) % 2001 AS DOUBLE) / 1000 - 1) * 0.6)
                           AS v
                       FROM range(500) t(i))
                     SELECT i AS vec_id,
                       CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
                         AS FLOAT[]) AS embedding,
                       label
                     FROM raw ORDER BY i""",
    }


def make_fixture(out_dir, seed, rows, surface=False, threads=2):
    """Write the sales_view source tables for `rows` lineitem rows, and
    with `surface` the rest of the testdata tables."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, rows // 40)
    n_part = max(50, rows // 30)
    n_supp = max(10, rows // 600)
    n_ord = max(10, rows // 4)

    def h(k, salt):
        return f"hash({k}, {int(seed)}, {salt})"

    tables = {
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey,
                       'NATION_' || i AS n_name,
                       CAST(i % 5 AS INTEGER) AS n_regionkey
                     FROM range(25) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey,
                       'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                       CAST({h('i', 1)} % 25 AS INTEGER) AS s_nationkey,
                       CAST({h('i', 2)} % 1000000 AS DOUBLE) / 100 AS s_acctbal
                     FROM range({n_supp}) t(i)""",
        "customer": f"""SELECT i AS c_custkey,
                       'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                       CAST({h('i', 3)} % 25 AS INTEGER) AS c_nationkey,
                       CAST({h('i', 4)} % 1000000 AS DOUBLE) / 100 AS c_acctbal,
                       ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                        'MACHINERY'][1 + CAST({h('i', 5)} % 5 AS INTEGER)] AS c_mktsegment
                     FROM range({n_cust}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
                       'part ' || i AS p_name,
                       'Brand#' || (1 + {h('i', 6)} % 5) || (1 + {h('i', 7)} % 5) AS p_brand,
                       'TYPE ' || ({h('i', 8)} % 10) AS p_type,
                       CAST(1 + {h('i', 9)} % 50 AS INTEGER) AS p_size,
                       CAST(90000 + {h('i', 10)} % 20000 AS DOUBLE) / 100 AS p_retailprice
                     FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey,
                       CAST({h('i', 11)} % {n_cust} AS BIGINT) AS o_custkey,
                       ['F', 'O', 'P'][1 + CAST({h('i', 12)} % 3 AS INTEGER)] AS o_orderstatus,
                       CAST({h('i', 13)} % 50000000 AS DOUBLE) / 100 AS o_totalprice,
                       TIMESTAMP '1995-01-01'
                         + to_days(CAST({h('i', 14)} % 2400 AS INTEGER)) AS o_orderdate,
                       ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
                         [1 + CAST({h('i', 22)} % 5 AS INTEGER)] AS o_orderpriority
                     FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT CAST(i // 4 AS BIGINT) % {n_ord} AS l_orderkey,
                       CAST({h('i', 15)} % {n_part} AS BIGINT) AS l_partkey,
                       CAST({h('i', 16)} % {n_supp} AS BIGINT) AS l_suppkey,
                       CAST(1 + i % 4 AS INTEGER) AS l_linenumber,
                       CAST(1 + {h('i', 17)} % 50 AS DOUBLE) AS l_quantity,
                       CAST({h('i', 18)} % 10000000 AS DOUBLE) / 100 AS l_extendedprice,
                       CAST({h('i', 19)} % 11 AS DOUBLE) / 100 AS l_discount,
                       CAST({h('i', 20)} % 9 AS DOUBLE) / 100 AS l_tax,
                       ['A', 'N', 'R'][1 + CAST({h('i', 23)} % 3 AS INTEGER)] AS l_returnflag,
                       ['F', 'O'][1 + CAST({h('i', 24)} % 2 AS INTEGER)] AS l_linestatus,
                       TIMESTAMP '1995-01-01'
                         + to_days(CAST({h('i', 21)} % 2500 AS INTEGER)) AS l_shipdate
                     FROM range({rows}) t(i)""",
    }
    if surface:
        tables.update(_surface_tables(rows, h))
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    con.execute(f"CREATE MACRO label_of(i) AS {h('i', 42)} % 10")
    for name, sql in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    con.close()
    counts = {"lineitem": rows, "orders": n_ord, "customer": n_cust,
              "part": n_part, "supplier": n_supp, "nation": 25}
    if surface:
        counts.update(region=5, events=max(100, rows // 6), documents=500, embeddings=500)
    return counts


# ---- adhoc EMF query generator ---------------------------------------------

# sales_view domains as make_fixture builds them
STATES = [f"NATION_{i}" for i in range(25)]
YEARS = list(range(1995, 2002))
INTEGRAL = ("month", "year")
CLASSES = ("simple", "windowed", "dependent", "complement", "chained", "mf_vs_mf")
ORDER_OPS = ("<", "<=", ">", ">=")
ALL_OPS = ("<", "<=", ">", ">=", "=", "!=")
SQL_OP = {"=": "=", "==": "=", "!=": "<>", "<>": "<>",
          "<": "<", "<=": "<=", ">": ">", ">=": ">="}


def _agg_sql(func, col):
    if func == "sum":
        return f"CAST(sum(t.{col}) AS BIGINT)"
    if func == "avg":  # exact sum / count, as Spark divides (see GoldenQueries)
        return f"CAST(sum(t.{col}) AS DOUBLE) / count(t.{col})"
    return f"{func}(t.{col})"


def _tuple_cond(rng):
    """A tuple-vs-literal predicate: (spec text, SQL over alias t)."""
    kind = rng.choice(("state", "quant", "year", "month"))
    if kind == "state":
        op, v = rng.choice(("=", "!=")), rng.choice(STATES)
        return f"{{state}}[{op}]{{{v}}}", f"t.state {SQL_OP[op]} '{v}'"
    if kind == "quant":
        op, v = rng.choice(ORDER_OPS), rng.randint(5, 45)
    elif kind == "year":
        op, v = rng.choice(ALL_OPS), rng.choice(YEARS)
    else:
        op, v = rng.choice(ALL_OPS), rng.randint(1, 12)
    return f"{{{kind}}}[{op}]{{{v}}}", f"t.{kind} {SQL_OP[op]} {v}"


def _one_query(rng, template):
    """One query of `template` (see BLOCK); literals, comparison
    operators, aggregated columns and dependency targets are drawn from
    `rng`."""
    g, var_specs, with_where, with_having, zero = template
    n = len(var_specs)
    numeric = [a for a in g if a in INTEGRAL]  # integral MF fields
    earlier = []        # (name, class) of aggregates declared so far
    select = list(g)
    var_zero = []
    if zero:
        name = f"{zero}_quant_0"
        var_zero.append((name, _agg_sql(zero, "quant")))
        select.append(name)
        earlier.append((name, "zero"))
    groups, ctes, names = [], [], []
    for i, (cls, func, with_tuple) in enumerate(var_specs, start=1):
        col = "day" if rng.random() < 0.15 else "quant"
        name = f"{func}_{col}_{i}"

        def eq(a):
            return f"{{MF.{a}.{name}}}[=]{{{a}}}", f"t.{a} = m.{a}"
        conds = []
        if cls == "simple":
            if with_tuple:  # no MF condition: ranges over its own group
                conds.append(_tuple_cond(rng))
            else:
                conds += [eq(a) for a in g]
        elif cls == "windowed":
            o = numeric[-1]
            conds += [eq(a) for a in g if a != o]
            op = rng.choice(ORDER_OPS)
            conds.append((f"{{MF.{o}.{name}}}[{op}]{{{o}}}", f"t.{o} {op} m.{o}"))
        elif cls in ("dependent", "chained"):
            pool = [e for e, c in earlier if cls == "dependent" or c == "windowed"]
            ref = rng.choice(pool)
            conds += [eq(a) for a in g]
            op = rng.choice(ALL_OPS)
            conds.append((f"{{MF.{ref}.{name}}}[{op}]{{quant}}",
                          f"t.quant {SQL_OP[op]} m.{ref}"))
        elif cls == "complement":
            anti = g[-1]
            conds += [eq(a) for a in g if a != anti]
            conds.append((f"{{MF.{anti}.{name}}}[!=]{{{anti}}}", f"t.{anti} <> m.{anti}"))
        else:  # mf_vs_mf: a group-side predicate, all-or-nothing membership
            a, b = rng.sample([e for e, _ in earlier] + numeric, 2)
            op = rng.choice(ALL_OPS)
            conds += [eq(x) for x in g]
            # {MF.a.x}[op]{MF.b.y} reads group.b op group.a
            conds.append((f"{{MF.{a}.{name}}}[{op}]{{MF.{b}.{name}}}",
                          f"m.{b} {SQL_OP[op]} m.{a}"))
        if cls != "simple" and with_tuple:
            conds.append(_tuple_cond(rng))
        groups.append(":".join(c[0] for c in conds))
        if not any(c[0].startswith("{MF.") for c in conds):  # parser's auto-rewrite
            conds = [eq(a) for a in g] + conds
        on = " AND ".join(c[1] for c in conds)
        prev = f"g{i - 1}"
        ctes.append(f"g{i} AS (SELECT m.*, {_agg_sql(func, col)} AS {name} "
                    f"FROM {prev} m LEFT JOIN base t ON {on} GROUP BY ALL)")
        names.append(name)
        earlier.append((name, cls))
        select.append(name)

    where_spec, where_sql = "", ""
    if with_where:
        spec, sql = _tuple_cond(rng)
        where_spec, where_sql = spec, " WHERE " + sql.replace("t.", "")
    having_spec, having_sql = "", ""
    if with_having:
        leaves = []
        for _ in range(2):
            a = rng.choice(names + [e for e, c in earlier if c == "zero"])
            op = rng.choice(ALL_OPS[:4])
            func = a.split("_")[0]
            lit = {"count": rng.randint(0, 3), "avg": rng.randint(20, 30),
                   "sum": rng.randint(10, 200), "min": rng.randint(1, 10),
                   "max": rng.randint(40, 50)}[func]
            if a.split("_")[1] == "day":
                lit = rng.randint(1, 28) if func != "count" else lit
            leaves.append((f"{{{a},{op},{lit}}}", f"{a} {op} {lit}"))
        join = rng.choice(("&&", "||"))
        having_spec = f" [{join}] ".join(s for s, _ in leaves)
        having_sql = " WHERE " + f" {'AND' if join == '&&' else 'OR'} ".join(
            f"({s})" for _, s in leaves)

    line5 = ",".join(groups) + ("," + where_spec if where_spec else "")
    lines = [",".join(select), str(n), ",".join(g), ",".join(names), line5]
    if having_spec:
        lines.append(having_spec)
    zero_cols = "".join(f", {sql} AS {nm}" for nm, sql in var_zero)
    sql = (f"WITH base AS (SELECT * FROM sales{where_sql}),\n"
           f"g0 AS (SELECT {', '.join(g)}{zero_cols.replace('t.', '')} "
           f"FROM base GROUP BY {', '.join(g)}),\n"
           + ",\n".join(ctes)
           + f"\nSELECT {', '.join(select)} FROM g{n}{having_sql}")
    return "\n".join(lines), sql


# One block of queries as eight templates, in the manner of TPC-H's query
# templates and substitution parameters. A template fixes what decides a
# query's plan: grouping attributes; per grouping variable its class, its
# aggregate function and whether it carries an extra tuple condition;
# whether the query has WHERE and HAVING; its variable-0 aggregate. The
# seed draws the rest: literals, comparison operators, aggregated
# columns, dependency targets. Every block has all eight templates in a
# seeded order, so runs with different seeds see the same mix of plans,
# and no two queries are the same.
BLOCK = (
    (("cust",), (("simple", "avg", False),), True, False, None),
    (("prod", "month"), (("complement", "max", False),), False, True, "count"),
    (("state", "month"), (("simple", "count", True), ("windowed", "avg", False)),
     False, False, None),
    (("prod",), (("simple", "avg", False), ("dependent", "count", False)),
     True, True, None),
    (("prod", "year"), (("windowed", "sum", False), ("simple", "max", True),
                        ("chained", "count", False)), False, False, "avg"),
    (("state",), (("simple", "min", False), ("dependent", "sum", True),
                  ("complement", "avg", False)), True, False, None),
    (("year", "month"), (("simple", "avg", False), ("windowed", "max", False),
                         ("dependent", "count", False), ("mf_vs_mf", "sum", False)),
     False, True, None),
    (("state", "year"), (("simple", "sum", True), ("windowed", "min", False),
                         ("simple", "count", False), ("dependent", "avg", False)),
     True, True, "sum"),
)


def adhoc_queries(seed, count, warm=len(BLOCK)):
    """`count` timed queries (ids `a0`..) plus `warm` priming queries
    (ids `w0`..), drawn from separate streams. Each is a dict with id,
    spec, sql, template index and per-variable classes."""
    out = []
    for prefix, n, salt in (("w", warm, 1), ("a", count, 0)):
        rng = random.Random(f"{seed}:{salt}")
        todo = []
        for i in range(n):
            if not todo:
                todo = rng.sample(range(len(BLOCK)), len(BLOCK))
            t = todo.pop()
            spec, sql = _one_query(rng, BLOCK[t])
            out.append({"id": f"{prefix}{i}", "spec": spec, "sql": sql,
                        "template": t, "classes": [v[0] for v in BLOCK[t][1]]})
    return out


def write_specs(path, queries):
    """Spec file for the harness: `#id` header, spec block, `~` line."""
    with open(path, "w") as f:
        for q in queries:
            f.write(f"#{q['id']}\n{q['spec']}\n~\n")
