"""DuckDB oracle check for the inventory queries of the query_mix workload.

Each result the benchmark collected is compared with the query's oracle
SQL from the program's query registry, run by DuckDB over the same
generated parquet tables. The rule is the inventory's own: column names
sorted, rows sorted, equal row count, and equal cells, where an integer
column never equals a float column. `run.py` calls `check` after each
`query_mix` run.
"""
import glob
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")
    return df.reset_index(drop=True)


def _kind(k):
    return "int" if k in "iu" else ("float" if k == "f" else "obj")


def compare(spark_df, duck_df):
    """None when equal under the inventory's rule, else the reason."""
    s, d = _norm(spark_df), _norm(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in s.columns:
        if _kind(s[c].dtype.kind) != _kind(d[c].dtype.kind):
            return f"dtype col={c} spark={s[c].dtype} duck={d[c].dtype}"
    for c in s.columns:
        sv, dv = s[c], d[c]
        try:
            eq = (sv.astype(object).where(sv.notna(), None) ==
                  dv.astype(object).where(dv.notna(), None)) | (sv.isna() & dv.isna())
            ok = bool(eq.all())
        except Exception:
            ok = all(str(a) == str(b) for a, b in zip(sv, dv))
        if not ok:
            return f"values differ in column {c}"
    return None


def check(tables_dir, results_dir):
    """Map query name -> None (match) or the reason it does not match."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for t in TABLES:
        files = glob.glob(os.path.join(tables_dir, f"{t}.parquet", "*.parquet"))
        if files:
            paths = ", ".join("'" + f.replace("'", "''") + "'" for f in sorted(files))
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet([{paths}])")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        try:
            spark_df = pq.read_table(os.path.join(results_dir, name)).to_pandas()
            duck_df = con.execute(sql).fetchdf()
            out[name] = compare(spark_df, duck_df)
        except Exception as e:  # a failed oracle run is a failed check
            out[name] = f"{type(e).__name__}: {e}"
    con.close()
    return out

