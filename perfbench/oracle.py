"""Output checks for perfbench runs.

Registry operations are compared with DuckDB running each operation's
oracle SQL on the same parquet tables: columns sorted by name, rows
sorted by every column, floats rounded to 9 places. Approximate
operations without oracle SQL are checked by id-pair recall against
their exact twin, with the floor the program declares. The cmapss_etl
pipeline is checked against the generator's manifest.

Each check returns a dict of name -> None (passed) or a one-line reason.
"""
import glob
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(rows, cols):
    """Columns sorted by name, floats rounded, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                # Rounded, and -0.0 made 0.0.
                v = round(v, 9) + 0.0
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return sorted(cols), out


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _result(con, results_dir, name):
    cur = con.execute(
        f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
    return [d[0] for d in cur.description], cur.fetchall()


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal after canonicalisation, else the first difference."""
    gc, gr = canon(got_rows, got_cols)
    ec, er = canon(exp_rows, exp_cols)
    if gc != ec:
        return f"columns {gc} != oracle {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows != oracle {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if a != b:
            return f"row {i}: {a} != oracle {b}"
    return None


def check_queries(data_dir, results_dir, manifest, ops):
    """Check every op: oracle SQL, recall floor, or a run error."""
    con = _connect(data_dir)
    out = {}
    for name in sorted(ops):
        err = manifest["errors"].get(name)
        if err:
            out[name] = f"check run failed: {err}"
        elif name in manifest["oracle"]:
            try:
                gc, gr = _result(con, results_dir, name)
                exp = con.execute(manifest["oracle"][name])
                ec = [d[0] for d in exp.description]
                out[name] = compare(gc, gr, ec, exp.fetchall())
            except duckdb.Error as e:
                out[name] = f"oracle error: {str(e).splitlines()[0]}"
        elif name in manifest["recall"]:
            spec = manifest["recall"][name]
            cols = ", ".join(spec["cols"])
            pairs = {tuple(r) for r in con.execute(
                f"SELECT {cols} FROM read_parquet("
                f"'{results_dir}/{name}/*.parquet')").fetchall()}
            exact = {tuple(r) for r in con.execute(
                f"SELECT {cols} FROM read_parquet("
                f"'{results_dir}/{spec['exact']}/*.parquet')").fetchall()}
            recall = len(pairs & exact) / len(exact) if exact else 0.0
            out[name] = (None if recall >= spec["floor"] else
                         f"recall {recall:.4f} < floor {spec['floor']}")
        else:
            out[name] = "no oracle SQL and no recall twin"
    return out


def check_cmapss(gen_manifest, result, warehouse):
    """Row counts, the detected sensor set, RUL and the flow outcome."""
    out = {}
    rows = result.get("rows", {})
    out["etl.rows"] = (None if rows == gen_manifest["rows"] else
                       f"rows {rows} != generated {gen_manifest['rows']}")
    want = gen_manifest["variable_sensors"]
    out["etl.sensors"] = (None if result.get("sensors") == want else
                          f"sensors {result.get('sensors')} != {want}")
    files = glob.glob(os.path.join(warehouse, "cycles_features", "*",
                                   "*.parquet"))
    if not files:
        out["etl.rul"] = "no cycles_features files"
    else:
        con = duckdb.connect()
        n, bad = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE rul IS DISTINCT FROM "
            "  mx - time_cycles) FROM (SELECT rul, time_cycles, "
            "  max(time_cycles) OVER (PARTITION BY dataset, unit_nr) AS mx "
            f"  FROM read_parquet('{warehouse}/cycles_features/*/*.parquet',"
            "  hive_partitioning = true))").fetchone()
        total = sum(gen_manifest["rows"].values())
        out["etl.rul"] = (None if bad == 0 and n == total else
                          f"{bad} wrong rul of {n} rows (want {total} rows)")
    out["flow"] = None if result.get("flow_ok") else "dailyFlow failed"
    return out
