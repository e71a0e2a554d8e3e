"""Compare catalog query results with DuckDB running each query's oracle SQL.

The benchmark process writes every query's result as parquet under
<results>/<query>/ and the oracle SQL as <results>/oracle_sql.json; this
module runs the SQL in DuckDB over the same input tables and compares
column types (DESCRIBE) and values exactly, columns sorted by name and rows
sorted by value, with the helpers of tools/check_oracle.py.

    python3 perfbench/catalog_check.py <tables_dir> <results_dir>
"""
import json
import os
import sys

import duckdb

# the repository's own oracle harness: same table set, row canonicalisation,
# value equality and DESCRIBE type check (no bytecode cache left in tools/)
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, canon, eq, types_of  # noqa: E402


def compare(spark_cols, spark_rows, duck_cols, duck_rows, spark_types=None, duck_types=None):
    """Return None when equal, else a one-line reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return "columns %s != %s" % (sorted(spark_cols), sorted(duck_cols))
    bad = [(c, spark_types.get(c), duck_types.get(c)) for c in sorted(spark_cols)
           if spark_types is not None and spark_types.get(c) != duck_types.get(c)]
    if bad:
        return "type seam %s" % bad
    if len(spark_rows) != len(duck_rows):
        return "rows %d != %d" % (len(spark_rows), len(duck_rows))
    for i, (a, b) in enumerate(zip(canon(spark_rows, spark_cols), canon(duck_rows, duck_cols))):
        if not all(eq(x, y) for x, y in zip(a, b)):
            return "row %d differs: %r != %r" % (i, a, b)
    return None


def fetch(con, sql):
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def check(tables_dir, results_dir, corrupt=None):
    """Errors for every query whose result differs from its oracle.

    `corrupt` (self-test only) maps the Spark rows of one query before the
    comparison, to show that a wrong result is rejected."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    oracle = json.load(open(f"{results_dir}/oracle_sql.json"))
    errors = []
    for name, sql in sorted(oracle.items()):
        spark_sql = f"SELECT * FROM '{results_dir}/{name}/*.parquet'"
        try:
            s_cols, s_rows = fetch(con, spark_sql)
            d_cols, d_rows = fetch(con, sql)
            s_types, d_types = types_of(con, spark_sql), types_of(con, f"({sql})")
        except Exception as e:  # a failed read or oracle is a failed check
            errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if corrupt:
            s_rows, s_types = corrupt(name, s_rows, s_types)
        why = compare(s_cols, s_rows, d_cols, d_rows, s_types, d_types)
        if why:
            errors.append(f"{name}: {why}"[:300])
    return errors


def self_test(tables_dir, results_dir):
    """Corrupt one result (a dropped row, a changed value, a changed column
    type) and expect a rejection each time; returns the corruptions that
    were accepted."""
    first = sorted(json.load(open(f"{results_dir}/oracle_sql.json")))[0]

    def drop_row(name, rows, types):
        return (rows[1:] if name == first else rows), types

    def change_value(name, rows, types):
        if name != first or not rows:
            return rows, types
        r = list(rows[0])
        r[0] = None if r[0] is not None else 1
        return [tuple(r)] + rows[1:], types

    def change_type(name, rows, types):
        if name != first:
            return rows, types
        col = sorted(types)[0]
        return rows, dict(types, **{col: "HUGEINT" if types[col] != "HUGEINT" else "BIGINT"})

    missed = []
    for label, fn in (("row dropped", drop_row), ("value changed", change_value),
                      ("column type changed", change_type)):
        if not check(tables_dir, results_dir, corrupt=fn):
            missed.append(f"catalog: {label} not rejected")
    return missed


if __name__ == "__main__":
    errs = check(sys.argv[1], sys.argv[2])
    print("\n".join(errs) or "all queries match their oracle")
    sys.exit(1 if errs else 0)
