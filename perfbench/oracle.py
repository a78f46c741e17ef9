"""Independent answers: DuckDB runs each query's SparkEntry oracle SQL over
the generated tables, and every distinct output the engine produced is
compared with it exactly (columns, row count, dtype kind, values)."""
import glob
import os

import duckdb
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def expected(tables_dir, sql_by_query, cache_dir):
    """query -> expected DataFrame, cached as parquet per input set."""
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for query, sql in sql_by_query.items():
        path = os.path.join(cache_dir, f"{query}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
                    name = os.path.basename(f)[:-len(".parquet")]
                    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
            df = con.sql(sql).df()
            df.to_parquet(path + ".tmp", index=False)
            os.replace(path + ".tmp", path)
        out[query] = pd.read_parquet(path)
    if con is not None:
        con.close()
    return out


def mismatch(want, got_dir):
    """None when the engine output in `got_dir` equals `want`, else why not."""
    got = duckdb.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
    w, g = _canon(want), _canon(got)
    if list(w.columns) != list(g.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(w) != len(g):
        return f"rows {len(g)} != {len(w)}"
    for c in w.columns:
        if {w[c].dtype.kind, g[c].dtype.kind} == {"i", "f"}:
            return f"dtype of {c}: {g[c].dtype} != {w[c].dtype}"
        a, b = w[c], g[c]
        try:
            eq = bool((a.eq(b) | (a.isna() & b.isna())).all())
        except (TypeError, ValueError):
            eq = a.astype(str).equals(b.astype(str))
        if not eq:
            return f"values of {c} differ"
    return None
