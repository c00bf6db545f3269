"""Check exported query results against their DuckDB oracle SQL over the
same generated Parquet tables, with the comparison rules of
``tools/compare.py``: columns sorted by name, rows sorted by every column,
floating-point values equal within rel 1e-9 / abs 1e-12."""
import math
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def values_equal(a, b):
    if a is None and b is None:
        return True
    try:  # NaN/NaT of any flavour
        if a != a and b != b:
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def compare(got, want):
    """None when equal, else a one-line description of the first difference."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return f"cols {list(got.columns)} vs {list(want.columns)}; rows {len(got)} vs {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not values_equal(x, y):
                return f"col {c} row {i}: {x!r} vs {y!r}"
    return None


def check(inputs, export_dir, oracle_sql, rows):
    """One check per row: ``ok``, ``fail`` or ``unchecked`` (with why)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '2GB'")
    for t in TABLES.split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    out = []
    for name in rows:
        entry = {"name": f"oracle:{name}", "status": "ok", "detail": ""}
        path = os.path.join(export_dir, name)
        if name not in oracle_sql:
            entry.update(status="unchecked", detail="no oracle SQL for this row")
        elif not os.path.isdir(path):
            entry.update(status="fail", detail="no exported result")
        else:
            try:
                diff = compare(pd.read_parquet(path), con.sql(oracle_sql[name]).df())
            except Exception as e:  # an oracle that cannot run is a named failure
                diff = f"oracle error: {e}"[:300]
            if diff:
                entry.update(status="fail", detail=diff)
        out.append(entry)
    con.close()
    return out
