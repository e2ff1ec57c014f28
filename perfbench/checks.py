"""Output checks: query results against their DuckDB oracle SQL, and the
pipeline's sinks against the corpus generator's expected row counts."""
import csv
import glob
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# The comparison below mirrors scripts/check_oracle.py: columns sorted by
# name, rows sorted by all columns, exact cells, NaN and signed zero
# collapsed, int widths equal, decimal and int not.


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def _type_key(arrow_type):
    s = str(arrow_type)
    if s.startswith(("int", "uint")):
        return "int"
    if s in ("float", "double", "halffloat"):
        return "float"
    if s.startswith("list<") or s.startswith("large_list<"):
        return "list"
    if s in ("string", "large_string"):
        return "string"
    return s


def oracle_mismatches(data_dir, results_dir, oracle_sql, names):
    """{query: reason} for every query whose result differs from its
    oracle, lacks one, or was not produced."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for name in names:
        sql = oracle_sql.get(name)
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        if not glob.glob(f"{results_dir}/{name}/*.parquet"):
            bad[name] = "no result written"
            continue
        spark_sql = f"SELECT * FROM '{results_dir}/{name}/*.parquet'"
        try:
            o_schema = con.execute(sql).arrow().schema
            o_rows = con.execute(sql).fetchall()
            s_schema = con.execute(spark_sql).arrow().schema
            s_rows = con.execute(spark_sql).fetchall()
        except Exception as e:  # noqa: BLE001
            bad[name] = f"error {e}"
            continue
        o_types = {f.name: _type_key(f.type) for f in o_schema}
        s_types = {f.name: _type_key(f.type) for f in s_schema}
        oc, orows = _canon(o_rows, list(o_schema.names))
        sc, srows = _canon(s_rows, list(s_schema.names))
        if o_types != s_types:
            bad[name] = f"types differ oracle={o_types} spark={s_types}"
        elif oc != sc:
            bad[name] = f"columns differ oracle={oc} spark={sc}"
        elif len(orows) != len(srows):
            bad[name] = f"rowcount oracle={len(orows)} spark={len(srows)}"
        elif orows != srows:
            bad[name] = "cell values differ"
    con.close()
    return bad


def _csv_rows(table_dir):
    n = 0
    for part in sorted(glob.glob(f"{table_dir}/part-*")):
        with open(part, newline="", encoding="utf-8") as f:
            rows = sum(1 for _ in csv.reader(f))
        n += max(0, rows - 1)  # one header line per part file
    return n


def _insert_statements(table_dir, table):
    head = f"INSERT INTO {table} ("
    n = 0
    for part in sorted(glob.glob(f"{table_dir}/part-*")):
        with open(part, encoding="utf-8") as f:
            n += sum(1 for line in f if line.startswith(head))
    return n


def etl_mismatches(out_dir, reported, expected):
    """Problems with one pipeline run: its reported per-table counts,
    CSV data rows and INSERT statements against the expected counts."""
    bad = []
    for table, want in expected.items():
        got = reported.get(table)
        if got != want:
            bad.append(f"{table}: reported {got}, expected {want}")
        rows = _csv_rows(f"{out_dir}/csv/{table}")
        if rows != want:
            bad.append(f"{table}: {rows} CSV rows, expected {want}")
        stmts = _insert_statements(f"{out_dir}/sql/{table}", table)
        if stmts != want:
            bad.append(f"{table}: {stmts} INSERT statements, expected {want}")
    return bad


def tree_bytes(path):
    """Bytes of the data files under `path` (Spark's checksum and marker
    files excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and f != "_SUCCESS":
                total += os.path.getsize(os.path.join(root, f))
    return total
