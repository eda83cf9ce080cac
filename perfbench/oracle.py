"""DuckDB oracle compare for the query_mix workload.

Each query's first result (dumped as parquet by the benchmark JVM) is
compared with its declared DuckDB oracle SQL over the same generated
tables: column names, row count, and values under the canonicalization of
the repository's tools/oracle_check.py (columns sorted by name, values
stringified, rows sorted). Queries without oracle SQL must return rows.
"""
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """tools/oracle_check.py's canon(), copied: that script runs its own
    compare as soon as it is imported."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        if pd.isna(v):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    out = df.apply(lambda col: col.map(cell))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def check(extras):
    """{query name: problem} for every query whose result is wrong."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(extras["data"], f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, q in extras["queries"].items():
        d = q["dump"]
        if not d or not glob.glob(os.path.join(d, "*.parquet")):
            bad[name] = "no result was dumped"
            continue
        got = pq.read_table(d).to_pandas()
        if q["oracle"] is None:
            if len(got) == 0:
                bad[name] = "empty result"
            continue
        try:
            exp = con.execute(q["oracle"]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"duckdb error: {e}"
            continue
        if sorted(got.columns) != sorted(exp.columns):
            bad[name] = f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
        elif len(got) != len(exp):
            bad[name] = f"rows {len(got)} vs oracle {len(exp)}"
        elif not canon(got).equals(canon(exp)):
            bad[name] = "values differ from the oracle"
    con.close()
    return bad
