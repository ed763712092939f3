"""Output checks of the benchmark, computed apart from the program.

Every check reads the files graft wrote (or the files a table's manifest
lists) with DuckDB and compares them with a DuckDB computation over the
inputs, a committed DuckDB fingerprint, or a property the method must have.
Each check returns the names of the checks that failed, as
"<operation>: <what differs>".
"""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))


def connect(data_dir=None):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    if data_dir:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _files_sql(files):
    lst = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return (f"read_parquet([{lst}], hive_partitioning=1, hive_types_autocast=0, "
            f"union_by_name=1)")


def multiset(con, files):
    """(rows, hash sum) of a table's rows: equal multisets give equal pairs."""
    if not files:
        return (0, 0)
    r = con.execute(f"SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) "
                    f"FROM {_files_sql(files)} t").fetchone()
    return (int(r[0]), int(r[1]))


def canonical(rel, with_types=True):
    """Fingerprint of a relation as the repo's oracle gate compares it:
    columns sorted by name, floats by repr, rows sorted as a multiset."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in rel.fetchall():
        rows.append(tuple(repr(r[i]) if isinstance(r[i], float) else str(r[i])
                          for i in order))
    rows.sort()
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    fp = {"rows": len(rows), "columns": [cols[i] for i in order],
          "sha256": h.hexdigest()}
    if with_types:
        fp["types"] = [str(rel.types[i]) for i in order]
    return fp


def normalized(con, files):
    """A lake table read the way ConformanceGate.normalize presents a job's
    output: decimals as doubles (via text), timestamps without zone."""
    rel = con.sql(f"SELECT * FROM {_files_sql(files)}")
    sel = []
    for c, t in zip(rel.columns, rel.types):
        ts = str(t)
        q = '"' + c + '"'
        if ts.startswith("DECIMAL"):
            sel.append(f"CAST(CAST({q} AS VARCHAR) AS DOUBLE) AS {q}")
        elif ts.startswith("TIMESTAMP"):
            sel.append(f"CAST({q} AS TIMESTAMP) AS {q}")
        else:
            sel.append(q)
    return con.sql(f"SELECT {', '.join(sel)} FROM {_files_sql(files)}")


def _diff(name, got, want):
    if got == want:
        return []
    if got.get("columns") != want.get("columns"):
        return [f"{name}: columns {got.get('columns')} != oracle {want.get('columns')}"]
    if got.get("types", want.get("types")) != want.get("types", got.get("types")):
        return [f"{name}: types {got.get('types')} != oracle {want.get('types')}"]
    return [f"{name}: {got['rows']} rows differ from the oracle's {want['rows']}"]


def load_fingerprints(kind):
    with open(os.path.join(HERE, "fingerprints", f"{kind}.json")) as f:
        return json.load(f)


def check_catalog(con, req, fps):
    failed = []
    for q in req["queries"]:
        files = glob.glob(f"{req['out']}/{q}/*.parquet")
        if q not in fps:
            failed.append(f"{q}: no oracle fingerprint")
        elif not files:
            failed.append(f"{q}: no output")
        else:
            got = canonical(con.sql(f"SELECT * FROM read_parquet('{req['out']}/{q}/*.parquet')"))
            failed += _diff(q, got, fps[q])
    return failed


def check_nightly(con, req, fps):
    failed = []
    window = fps[str(int(req["window"]))]
    for t in req["tables"]:
        name = t["name"]
        before, after = multiset(con, t["yesterday"]), multiset(con, t["tonight"])
        if before != after:
            failed.append(f"{name}: an identical re-run changed the table "
                          f"({before[0]} -> {after[0]} rows)")
        if name in req["gated"]:
            failed += _diff(name, canonical(normalized(con, t["tonight"]), with_types=False),
                            {k: v for k, v in window[name].items() if k != "types"})
    return failed


def check_refresh(con, req):
    failed = []
    periods = req["periods"]
    plist = ", ".join(f"'{p}'" for p in periods)
    detail, venta = _files_sql(req["detail"]), _files_sql(req["venta"])
    fact = f"read_parquet('{req['fact']}/*/*.parquet', hive_partitioning=1, hive_types_autocast=0)"
    dim = f"read_parquet('{req['dim']}/*.parquet')"
    # each rebuilt fact period reconciles with detail x t_venta
    want = con.execute(f"""
        SELECT d.id_periodo, v.id_cliente, sum(d.imp_neto), sum(d.cant), count(DISTINCT d.id_venta)
        FROM {detail} d JOIN (SELECT * EXCLUDE (id_periodo) FROM {venta}) v USING (id_venta)
        WHERE d.id_periodo IN ({plist}) GROUP BY ALL""").fetchall()
    got = con.execute(f"""
        SELECT id_periodo, id_cliente, imp_neto, cant_total, cant_ventas FROM {fact}
        WHERE id_periodo IN ({plist})""").fetchall()
    if sorted(map(str, want)) != sorted(map(str, got)):
        failed.append(f"rebuild: fact periods {','.join(periods)} differ from detail x t_venta "
                      f"({len(got)} vs {len(want)} rows)")
    # m_cliente holds each upserted value
    cliente = _files_sql(req["cliente"])
    held = dict(con.execute(f"SELECT id_cliente, imp_saldo FROM {cliente}").fetchall())
    lost = [k for k, v in req["upserted"] if held.get(k) is None or abs(held[k] - v) > 1e-9]
    if lost:
        failed.append(f"upsert: m_cliente lacks {len(lost)} of {len(req['upserted'])} upserted values")
    # the star read's result, and every fact row resolving its dim row
    star = con.execute(f"""
        SELECT f.id_periodo, d.desc_segmento || '=' || CAST(sum(f.imp_neto) AS VARCHAR), count(*)
        FROM {fact} f JOIN {dim} d USING (id_cliente)
        WHERE f.id_periodo IN ({plist}) GROUP BY f.id_periodo, d.desc_segmento""").fetchall()
    if sorted(map(list, star)) != sorted(map(list, req["star"])):
        failed.append("star_read: result differs from DuckDB's fact x dim_cliente")
    orphans, total = con.execute(f"""
        SELECT count(*) FILTER (WHERE d.id_cliente IS NULL), count(*)
        FROM {fact} f LEFT JOIN {dim} d USING (id_cliente)
        WHERE f.id_periodo IN ({plist})""").fetchone()
    if orphans:
        failed.append(f"star_read: {orphans} of {total} fact rows find no dim_cliente row")
    return failed


def check_same(con, req):
    a, b = multiset(con, req["a"]), multiset(con, req["b"])
    if a != b:
        return [f"{req['op']}: {req['table']} changed ({a[0]} -> {b[0]} rows)"]
    return []
