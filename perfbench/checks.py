"""Output checks: each distinct op against an independent expectation.

- search_serving: the SQL twin the generator emitted with each body, run
  in DuckDB over the same generated tables;
- asset_etl: the engine's DuckDB oracle for the asset pipelines, run over
  each job's own input file, against what the job wrote;
- asset_sync: the generator's model of the live sink state after each
  round, against the read that followed the round's upsert;
- library_mix: the registry's DuckDB oracle SQL against the query's
  written output, compared the way the engine's oracle check does
  (strict types, bit-equal floats); sketch queries without an oracle
  must instead give the same non-empty result on every repeat.

Every repeat of an op must also match the value its check accepted.
Each function returns {op id: reason} for the ops that failed.
"""
import datetime as dt
import decimal
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)


def connect(inputs=None):
    """A DuckDB connection with small, bounded resources that spills
    inside the checkout, with views over the generated tables."""
    con = duckdb.connect()
    tmp = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".perfbench", "duckdb-tmp")
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET temp_directory = '%s'" % tmp)
    con.execute("SET max_temp_directory_size = '4GB'")
    for t in TABLES if inputs else []:
        p = os.path.join(inputs, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    return con


def _norm(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows_of(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def _key(row, cols):
    return tuple((v is None, str(type(v)), v if v is not None else 0)
                 for v in (row[c] for c in cols))


def _same(a, b, strict):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if strict and type(a) is not type(b):
            return False
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b if strict else math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if strict and type(a) is not type(b):
        return False
    return a == b


def compare(got, want, strict=False):
    """None when the two row sets agree (order-insensitive), else why not."""
    got = [{k: _norm(v) for k, v in r.items()} for r in got]
    want = [{k: _norm(v) for k, v in r.items()} for r in want]
    gc = sorted(got[0]) if got else None
    wc = sorted(want[0]) if want else None
    if got and want and gc != wc:
        return "columns %s vs expected %s" % (gc, wc)
    if len(got) != len(want):
        return "%d rows vs expected %d" % (len(got), len(want))
    if not got:
        return None
    if strict and any(isinstance(v, tuple) for r in got for v in r.values()):
        return "array-typed output column"
    got = sorted(got, key=lambda r: _key(r, gc))
    want = sorted(want, key=lambda r: _key(r, gc))
    for i, (a, b) in enumerate(zip(got, want)):
        for c in gc:
            if not _same(a[c], b[c], strict):
                return "row %d column %s: %r vs expected %r" % (i, c, a[c], b[c])
    return None


def _checked(ops):
    return [o for o in ops if not o.get("error")]


def check_search(ops, inputs, requests):
    con = connect(inputs)
    sql = {"req-%d" % r["id"]: r["sql"] for r in requests}
    bad = {}
    for o in _checked(ops):
        why = compare(o["result"], rows_of(con, sql[o["key"]]))
        if why:
            bad[o["op"]] = "%s: %s" % (o["key"], why)
    return bad


def check_etl(ops, oracle_sql):
    bad = {}
    for o in _checked(ops):
        con = connect()
        con.execute("CREATE VIEW events AS SELECT * FROM '%s/events.parquet'" % o["extra"]["input"])
        got = rows_of(con, "SELECT * FROM read_parquet('%s/*/*.parquet', hive_partitioning = true)"
                      % o["extra"]["out"])
        why = compare(got, rows_of(con, oracle_sql))
        if why is None and o["rows"] != len(got):
            why = "counted %d rows but wrote %d" % (o["rows"], len(got))
        if why:
            bad[o["op"]] = "%s: %s" % (o["key"], why)
    return bad


def check_sync(ops, manifest):
    bad = {}
    for o in _checked(ops):
        if o["kind"] != "read":
            continue
        model = manifest["model"][o["extra"]["round"] - 1]
        want = [{"by_type": t, "doc_count": c, "crc_sum": float(s)}
                for t, (c, s) in model.items() if c]
        why = compare(o["result"], want, strict=False)
        if why:
            bad[o["op"]] = "%s: %s" % (o["key"], why)
    return bad


def check_library(ops, inputs, dumps):
    """Oracle (or determinism) check per distinct query, then every repeat
    against the checked (rows, hash)."""
    con = connect(inputs)
    verdict = {}
    for name, d in dumps.items():
        if "error" in d:
            verdict[name] = "check pass failed: " + d["error"]
            continue
        if "oracle_sql" in d:
            try:
                got = rows_of(con, "SELECT * FROM '%s/*.parquet'" % d["out"])
                verdict[name] = compare(got, rows_of(con, d["oracle_sql"]), strict=True)
            except duckdb.Error as e:
                verdict[name] = "oracle error: %s" % e
        elif d["rows"] == 0:
            verdict[name] = "sketch query returned no rows"
        else:
            verdict[name] = None
    bad = {}
    for o in _checked(ops):
        d = dumps.get(o["key"], {})
        why = verdict.get(o["key"], "never checked")
        if why is None and (o["rows"], o["hash"]) != (d["rows"], d["hash"]):
            why = "repeat gave (%d rows, hash %d), checked value (%d rows, hash %d)" % (
                o["rows"], o["hash"], d["rows"], d["hash"])
        if why:
            bad[o["op"]] = "%s: %s" % (o["key"], why)
    return bad, verdict
