"""Output digests and the DuckDB oracle compare for dedup_iter and olap_star.

The compare is the one `tools/oracle_check.py` makes, with its value
canonicalization imported from there: columns sorted by name, values exact
(floats by repr, NaN as "NaN"), rows sorted. Like that check it also reads
the result through pandas: the dtype kind of every column is part of the
digest (an integer DuckDB reads back as float64 mismatches), and a result
pandas cannot sort (array columns) fails. A job's output and the oracle's
result match exactly when their digests do.
"""
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from oracle_check import TABLES, rows_canon  # noqa: E402

# bump when the digest's form changes: cached oracle digests are keyed by it
VERSION = 2


def _key(row):
    # rows may mix None with values; order None first, then by a typed key
    return [(x is not None, type(x).__name__, x if x is not None else 0)
            for x in row]


def digest(cols, rows, kinds):
    """(SHA-256 of the canonical form, row count); `kinds` maps each column
    to its pandas dtype kind."""
    names, canon_rows = rows_canon(cols, rows)
    canon_rows.sort(key=_key)
    h = hashlib.sha256()
    h.update(json.dumps([names, [kinds[c] for c in names]]).encode())
    for r in canon_rows:
        h.update(json.dumps(r, default=str).encode())
        h.update(b"\n")
    return h.hexdigest(), len(canon_rows)


def connect(tables_dir, threads):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def relation_digest(con, sql):
    """Digest of a query's result, which is computed once."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE _digest AS {sql}")
    rel = con.table("_digest")
    df = rel.fetchdf()
    # raises on array columns, as the oracle gate's pandas path does
    df.sort_values(by=list(df.columns))
    return digest(rel.columns, rel.fetchall(),
                  {c: df[c].dtype.kind for c in df.columns})


def output_digest(con, out_dir):
    """Digest of a job's parquet output directory."""
    return relation_digest(con, f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")


def oracle_digests(con, sqls, cache_path):
    """{job: [digest, rows]} for every oracle SQL, cached in `cache_path`
    keyed by the SQL text (the tables are fixed per cache directory). A
    result the compare cannot take is stored as an error, which no output
    digest equals."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    out, dirty = {}, False
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256(f"v{VERSION}\n{sql}".encode()).hexdigest()
        if key not in cache:
            try:
                cache[key] = list(relation_digest(con, sql))
            except Exception as e:  # noqa: BLE001 - any failure fails the job
                cache[key] = [f"error: {e}"[:300], 0]
            dirty = True
        out[name] = cache[key]
    if dirty:
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out
