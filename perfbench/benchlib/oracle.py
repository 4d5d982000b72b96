"""DuckDB side of the output checks: each SparkEntry query's oracle SQL over
the same parquet tables the engine read."""
import duckdb
import pyarrow.parquet as pq


def connect(sf_dir, temp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for p in sorted(sf_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def row_counts(con, oracle_sql):
    """Expected row count of every query that has oracle SQL; a query whose
    oracle fails maps to the error text instead."""
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = con.execute(f"SELECT count(*) FROM ({sql}) AS oracle").fetchone()[0]
        except duckdb.Error as e:
            out[name] = f"oracle error: {e}"
    return out



def table_rows(sf_dir):
    """Row count of every table, from the parquet footers."""
    return {p.stem: pq.ParquetFile(p).metadata.num_rows for p in sorted(sf_dir.glob("*.parquet"))}
