"""DuckDB oracle for the query_battery workload: runs each row's
`SparkEntry.oracleSql` mirror over the battery's tables and compares it,
exactly and in any row order, with the parquet result the Spark side
wrote. A row without a mirror must return at least one row.
"""
import glob
import json
import os


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        # Spark writes dates as datetime.date objects, DuckDB returns
        # datetime64: compare both as ISO strings
        if s.dtype == "object" and s.map(lambda v: hasattr(v, "isoformat") or v is None).all():
            df[c] = s.map(lambda v: None if v is None else v.isoformat())
        elif str(s.dtype).startswith("datetime64"):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S").str.replace(" 00:00:00", "", regex=False)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(data_dir, out_dir):
    """Returns (rows compared, failure messages)."""
    import duckdb
    import pandas as pd
    import pandas.testing as pdt

    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    failures = []
    for name, sql in sorted(oracle.items()):
        parts = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        spark_df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True) \
            if parts else pd.DataFrame()
        try:
            if not sql:
                if spark_df.empty:
                    failures.append(f"{name}: no rows and no oracle mirror")
                continue
            pdt.assert_frame_equal(_norm(spark_df), _norm(con.execute(sql).df()),
                                   check_dtype=False, check_exact=True)
        except Exception as e:  # any mismatch or oracle error fails the row
            failures.append(f"{name}: " + str(e).replace("\n", " | ")[:300])
    con.close()
    return len(oracle), failures
