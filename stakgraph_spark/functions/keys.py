"""Canonical identity — the `node_key` recipe.

Reproduces the reference's single most load-bearing function for
output parity: ``create_node_key`` (reference ast/src/utils.rs:67-90)
= ``sanitize(type)-sanitize(name)-sanitize(file)-sanitize(start)
[-sanitize(verb)]`` where ``sanitize_string`` lowercases, trims, and
strips all non-alphanumerics (ast/src/utils.rs:143-149). An edge is
identified by its (source_key, target_key, edge_type) columns, the
parts of the reference's ``{src_key}-{dst_key}-{edge_type}``
(ast/src/lang/graphs/array_graph.rs:775-781).

Implemented as pure Column expressions (lower + regexp_replace +
concat_ws) — JVM-side, whole-stage-codegen friendly, zero Python in
the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sanitize(col: Column | str) -> Column:
    """lowercase, trim, strip every non-alphanumeric character."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c.cast("string"))), "[^a-z0-9]", "")


def node_key(
    node_type: Column | str,
    name: Column | str,
    file: Column | str,
    start: Column | str,
    verb: Column | None = None,
) -> Column:
    """Deterministic node identity; the universal join/dedup key."""
    parts = [sanitize(node_type), sanitize(name), sanitize(file), sanitize(start)]
    if verb is not None:
        parts.append(sanitize(verb))
    return F.concat_ws("-", *parts)


def sanitize_py(value) -> str:
    """Driver-side rendering of `sanitize` — used for static
    dictionary dims so they stay LocalRelations (zero Spark jobs).
    Must match the Column/SQL versions byte-for-byte (oracle-parity
    tested)."""
    import re

    return re.sub(r"[^a-z0-9]", "", str(value).strip().lower())


def node_key_py(node_type, name, file, start, verb=None) -> str:
    parts = [sanitize_py(node_type), sanitize_py(name), sanitize_py(file), sanitize_py(start)]
    if verb is not None:
        parts.append(sanitize_py(verb))
    return "-".join(parts)


# SQL fragments for the DuckDB oracle (dialect-portable: Spark's
# regexp_replace is global by default, DuckDB needs the 'g' flag).
def sanitize_sql(expr: str, dialect: str) -> str:
    flag = ", 'g'" if dialect == "duckdb" else ""
    return f"regexp_replace(lower(trim(CAST({expr} AS STRING))), '[^a-z0-9]', ''{flag})"


def node_key_sql(
    node_type: str, name: str, file: str, start: str, dialect: str, verb: str | None = None
) -> str:
    """The optional 5th part mirrors the reference's verb arm
    (utils.rs:83-88): multiple endpoints/requests may share one line,
    distinguished only by HTTP verb (asg.rs:29)."""
    exprs = [node_type, name, file, start] + ([verb] if verb is not None else [])
    parts = [sanitize_sql(e, dialect) for e in exprs]
    return " || '-' || ".join(parts)
