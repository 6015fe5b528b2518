"""Reference answers from DuckDB, and the Spark-side checks against them.

Triples are compared by (count, bit_xor of a 60-bit hash, sum of a
32-bit hash) of md5(subj|pred|obj): order-insensitive, and a
duplicated or missing row changes the count and the sum.
"""

from __future__ import annotations

import duckdb

SEP = "\u001f"


def _fp_select(subj: str, pred: str, obj: str, dialect: str) -> list[str]:
    key = f"md5(concat_ws('{SEP}', {subj}, {pred}, {obj}))"
    if dialect == "duckdb":
        h60 = f"('0x' || substr({key}, 1, 15))::BIGINT"
        h32 = f"('0x' || substr({key}, 16, 8))::BIGINT"
    else:
        h60 = f"CAST(conv(substr({key}, 1, 15), 16, 10) AS BIGINT)"
        h32 = f"CAST(conv(substr({key}, 16, 8), 16, 10) AS BIGINT)"
    return [
        "CAST(count(*) AS BIGINT) AS n",
        f"CAST(bit_xor({h60}) AS BIGINT) AS x",
        f"CAST(sum({h32}) AS BIGINT) AS s",
    ]


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


def oracle_triples_fp(con: duckdb.DuckDBPyConnection, events_path: str) -> tuple:
    """Fingerprint of the reference kg_triples over an events parquet."""
    import __spark_entry__ as ENTRY

    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    sql = ENTRY.oracle_sql()["kg_triples"]
    row = con.execute(
        f"SELECT {', '.join(_fp_select('subj', 'pred', 'obj', 'duckdb'))} FROM ({sql}) t"
    ).fetchone()
    return tuple(int(v) for v in row)


def parquet_fp(con: duckdb.DuckDBPyConnection, pattern: str, subj: str, pred: str, obj: str) -> tuple:
    """The fingerprint over parquet files the program wrote, read by
    DuckDB (no work for the engine under test)."""
    row = con.execute(
        f"SELECT {', '.join(_fp_select(subj, pred, obj, 'duckdb'))} FROM read_parquet('{pattern}')"
    ).fetchone()
    return tuple(int(v or 0) for v in row)


def spark_edges_fp(edges) -> tuple:
    """Same fingerprint over a Spark edges DataFrame."""
    row = edges.selectExpr(*_fp_select("source_key", "edge_type", "target_key", "spark")).collect()[0]
    return (int(row["n"]), int(row["x"]), int(row["s"]))
