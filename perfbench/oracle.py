"""DuckDB oracle for the `analytics` workload.

The benchmark JVM writes, for every gate, the result of its checked form
as `<results>/<gate>.parquet`, the gates' oracle SQL as
`<results>/oracle_sql.json`, and the fixture directory it generated as
`<results>/fixture_dir.txt`. Each result is compared with its oracle
replayed in DuckDB over the same fixture parquet, by row count, column
names and an order-insensitive value hash (floats rounded to 9 places,
everything else by its string form). A gate without oracle SQL must
return rows.
"""
import glob
import hashlib
import json
import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(norm(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def check(results_dir):
    """Compare every gate result; returns a list of (gate, ok, detail)."""
    import duckdb

    with open(os.path.join(results_dir, "fixture_dir.txt")) as f:
        fixture = f.read().strip()
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet/*.parquet')")
    out = []
    for path in sorted(glob.glob(os.path.join(results_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        grows, gcols = got.fetchall(), [d[0] for d in got.description]
        if name not in oracles:
            out.append((name, bool(grows), f"rows-only: {len(grows)} rows"))
            continue
        try:
            want = con.execute(oracles[name])
            wrows, wcols = want.fetchall(), [d[0] for d in want.description]
        except Exception as e:  # an oracle that cannot run is a failure
            out.append((name, False, f"oracle error: {e}"))
            continue
        ok_rows = len(grows) == len(wrows)
        ok_cols = set(gcols) == set(wcols)
        ok_hash = ok_cols and table_hash(grows, gcols) == table_hash(wrows, wcols)
        out.append((name, ok_rows and ok_cols and ok_hash,
                    f"rows {len(grows)}/{len(wrows)} cols "
                    f"{'ok' if ok_cols else 'differ'} hash "
                    f"{'ok' if ok_hash else 'MISMATCH'}"))
    return out
