"""Order-independent digests of query results, for the registry check.

A digest covers the column names, their canonical types and the multiset of
rows, compared the way tools/check_oracle.py compares a Spark result with its
DuckDB oracle: columns matched by name, rows in any order, NaN equal to NaN,
-0.0 equal to 0.0, timestamps compared without their zone (in UTC), int
widths kept apart.
"""
import hashlib

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_type(t):
    t = str(t).upper()
    if t.startswith("TIMESTAMP"):
        return "TIMESTAMP"
    if t in ("VARCHAR", "STRING", "TEXT"):
        return "VARCHAR"
    return t


def digest(con, sql):
    """(hex digest, row count) of the result of `sql` on a DuckDB connection:
    a sha256 over the columns, their canonical types, the row count and the
    sum of DuckDB's row hashes (order-independent; DuckDB hashes values that
    compare equal alike, so -0.0 matches 0.0 and NaN matches NaN)."""
    rel = con.sql(sql)
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    cols = [rel.columns[i] for i in order]
    types = [canon_type(rel.types[i]) for i in order]

    def value(c, t):
        q = '"' + c.replace('"', '""') + '"'
        return f"CAST({q} AS TIMESTAMP)" if t == "TIMESTAMP" else q

    row = ", ".join(value(c, t) for c, t in zip(cols, types))
    n, total = con.sql(f"SELECT count(*), coalesce(sum(hash({row})), 0) FROM ({sql})").fetchone()
    h = hashlib.sha256(repr((list(zip(cols, types)), n, str(total))).encode())
    return h.hexdigest(), n


def connect(data_dir):
    """A DuckDB connection with one view per table present in data_dir."""
    import os
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con
