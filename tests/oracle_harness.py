"""Local replica of the driver's DuckDB oracle comparison.

Runs a catalog query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by their
stringified tuple) — mirroring the driver's CORRECTNESS check.
"""

from __future__ import annotations

import math

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # with several threads, the embedding queries leave tens of thousands of
    # memory mappings behind in this process; near the kernel's default
    # vm.max_map_count (65,530) DuckDB's allocations then fail with "bad
    # allocation". One thread changes no result, only the plan's parallelism.
    con.execute("SET threads=1")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    """Exact normalization — deliberately as strict as the driver's hash.

    Floats render at full precision (repr) and Decimals keep their textual
    scale, so a Spark Decimal('3024.0600') vs a DuckDB float 3024.06 FAILS
    here just as it fails the driver's hash. Queries must emit bit-stable
    doubles (exact DECIMAL internals, one final double cast) to pass.
    """
    if type(v).__module__ == "numpy":  # unwrap numpy scalars from pandas
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:  # fold -0.0 / +0.0 (engines disagree on sign of zero)
            return "0.0"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(_norm(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    # Mirror the driver's path exactly: Spark → toPandas (DecimalType stays
    # Decimal objects), DuckDB → .df() pandas (DECIMAL becomes float64).
    # Comparing those surfaces the same type drift the driver's hash sees.
    s_pdf = spark_df.toPandas()
    s_cols = list(s_pdf.columns)
    s_rows = [tuple(r) for r in s_pdf.itertuples(index=False, name=None)]
    d_pdf = con.execute(sql).df()
    d_cols = list(d_pdf.columns)
    d_rows = [tuple(r) for r in d_pdf.itertuples(index=False, name=None)]
    res = {
        "spark_rows": len(s_rows),
        "duck_rows": len(d_rows),
        "spark_cols": sorted(s_cols),
        "duck_cols": sorted(d_cols),
        "rows_match": len(s_rows) == len(d_rows),
        "cols_match": sorted(s_cols) == sorted(d_cols),
    }
    if res["rows_match"] and res["cols_match"]:
        sc = canonical_rows(s_cols, s_rows)
        dc = canonical_rows(d_cols, d_rows)
        res["values_match"] = sc == dc
        if not res["values_match"]:
            diff = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
            res["first_diffs"] = diff
    else:
        res["values_match"] = False
    res["ok"] = res["rows_match"] and res["cols_match"] and res["values_match"]
    return res
