"""DuckDB oracle compare for the benchmark's correctness check.

Same canonicalisation as the repository's `tools/check.py`: columns
sorted by name, rows sorted, exact value compare. A query without an
oracle must return at least one row.
"""
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(rel):
    df = rel.df()
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(data_dir, check_dir, names, oracle_sql):
    """{query name: None if it matches its oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        try:
            got = canon(con.sql(
                f"SELECT * FROM '{check_dir}/{name}/*.parquet'"))
            sql = oracle_sql.get(name)
            if sql is None:
                out[name] = None if len(got) else "no rows"
                continue
            want = canon(con.sql(sql))
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            out[name] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            continue
        if list(got.columns) != list(want.columns):
            out[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            out[name] = f"rows {len(got)} != {len(want)}"
        elif not got.equals(want):
            out[name] = "values differ"
        else:
            out[name] = None
    con.close()
    return out
