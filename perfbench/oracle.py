"""Independent check of query results against their DuckDB oracle.

The oracle SQL is each query's registered DuckDB statement, run by the
installed Python ``duckdb`` over the same parquet tables the query read.
Rows are compared the way ``scripts/compare.py`` compares them: columns
sorted by name, row order kept, floats printed with ten significant
digits, everything else as ``str``; unlike there, the integers of an
all-numeric row stay integers. Nothing here reads Spark output
except the result under test.
"""
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def canon(df):
    """(sorted column names, one string per row)."""
    df = df[sorted(df.columns)]
    # tuples keep each column's type, where iterrows would turn the
    # integers of an all-numeric row into floats
    rows = ["|".join(f"{v:.10g}" if isinstance(v, float) else str(v) for v in row)
            for row in df.itertuples(index=False, name=None)]
    return list(df.columns), rows


def expected(con, oracle_sql):
    """Oracle answer of every query: name -> canon(...)."""
    return {name: canon(con.sql(sql).df()) for name, sql in oracle_sql.items()}


def mismatch(con, result_dir, want):
    """Why the parquet result in `result_dir` differs from `want`, or None.
    DuckDB reads the part files in name order, which is Spark's partition
    order, so a sorted result is read back in order."""
    cols, rows = canon(con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df())
    want_cols, want_rows = want
    if cols != want_cols:
        return f"columns {cols} != {want_cols}"
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows != {len(want_rows)}"
    for i, (a, b) in enumerate(zip(rows, want_rows)):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None


if __name__ == "__main__":
    # python3 oracle.py <data dir> <oracle_sql.json>: print each query's
    # expected columns and rows
    import json
    import sys
    con = connect(sys.argv[1])
    with open(sys.argv[2]) as f:
        print(json.dumps(expected(con, json.load(f)), indent=1))
