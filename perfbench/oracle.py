"""DuckDB oracle check for the analytics workload, with the comparison
convention of the repository's correctness gate: columns sorted by name,
rows compared in order, floats exact (NaN equal to NaN)."""
import math
import os

import duckdb

TABLES = ("documents", "embeddings")


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows(rel):
    cols = [d[0] for d in rel.description]
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), [tuple(_norm(r[i]) for i in idx) for r in rel.fetchall()]


def check(corpus, results, sql_dir, names):
    """Returns {query: None if its result matches the oracle, else why}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    out = {}
    for name in names:
        try:
            with open(os.path.join(sql_dir, f"{name}.sql")) as f:
                exp_cols, exp = _rows(con.execute(f.read()))
            got_cols, got = _rows(con.execute(f"SELECT * FROM '{results}/{name}/*.parquet'"))
        except Exception as e:  # a failing oracle or unreadable result is a failure
            out[name] = f"exception: {e}"
            continue
        if got_cols != exp_cols:
            out[name] = f"columns {got_cols} vs {exp_cols}"
        elif got != exp:
            out[name] = f"{len(got)} rows vs {len(exp)}, first difference at row " + str(
                next((i for i, (g, e) in enumerate(zip(got, exp)) if g != e), min(len(got), len(exp))))
        else:
            out[name] = None
    con.close()
    return out
