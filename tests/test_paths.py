"""Table-driven parity tests for path normalization + matching —
mirrors the reference's own unit suite (linker.rs:268-359) in BOTH
dialects (Spark SQL and DuckDB must agree with the Rust semantics
and with each other)."""

import duckdb

from stakgraph_spark.functions.paths import (
    normalize_backend_path_sql,
    normalize_frontend_path_sql,
    paths_match_sql,
)

BACKEND_CASES = [
    ("api/users/:id", "/api/users/:param"),
    ("/users/:userId/posts/:postId", "/users/:param/posts/:param"),
    ("/api/users/<id>", "/api/users/:param"),
    ("/api/users/<int:id>", "/api/users/:param"),
    ("/api/users/{id}", "/api/users/:param"),
    ("/users/{userId}/posts/{postId}", "/users/:param/posts/:param"),
    ("/api/users/(id)", "/api/users/:param"),
    ("/api/users/{id?}", "/api/users/:param"),
    ("/api/users/", "/api/users"),
    ("/", "/"),
    ("/api/docs/[...slug]", "/api/docs/:param"),
    ("/api/pages/[page]/", "/api/pages/:param"),
]

FRONTEND_CASES = [
    ("${ROOT}/api/user/${id}", "/api/user/:param"),
    ("${SOME_CONSTANT}/user/${id}", "/user/:param"),
    ("${ENDPOINTS.something}", None),
    ("/api/users/123", "/api/users/123"),
    ("api/parts/${partId}", "/api/parts/:param"),
]

MATCH_CASES = [
    ("/api/user/:param", "/api/user/:id", True),
    ("/api/users/123", "/api/users/:id", True),
    ("/api/user/:param", "/api/posts/:id", False),
    ("/user/:param", "/api/user/:id", False),
    ("/api/user/:param/extra", "/api/user/:id", False),
]


def _duck_eval(exprs: list[str]) -> list:
    con = duckdb.connect()
    try:
        return list(con.sql("SELECT " + ", ".join(exprs)).fetchone())
    finally:
        con.close()


def _spark_eval(spark, exprs: list[str]) -> list:
    return list(spark.sql("SELECT " + ", ".join(exprs)).first())


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def test_backend_normalize_duckdb():
    exprs = [normalize_backend_path_sql(_lit(i), "duckdb") for i, _ in BACKEND_CASES]
    got = _duck_eval(exprs)
    assert got == [e for _, e in BACKEND_CASES]


def test_backend_normalize_spark(spark):
    exprs = [normalize_backend_path_sql(_lit(i), "spark") for i, _ in BACKEND_CASES]
    got = _spark_eval(spark, exprs)
    assert got == [e for _, e in BACKEND_CASES]


def test_frontend_normalize_duckdb():
    exprs = [normalize_frontend_path_sql(_lit(i), "duckdb") for i, _ in FRONTEND_CASES]
    got = _duck_eval(exprs)
    assert got == [e for _, e in FRONTEND_CASES]


def test_frontend_normalize_spark(spark):
    exprs = [normalize_frontend_path_sql(_lit(i), "spark") for i, _ in FRONTEND_CASES]
    got = _spark_eval(spark, exprs)
    assert got == [e for _, e in FRONTEND_CASES]


def test_paths_match_both_dialects(spark):
    duck_exprs = [paths_match_sql(_lit(a), _lit(b), "duckdb") for a, b, _ in MATCH_CASES]
    spark_exprs = [paths_match_sql(_lit(a), _lit(b), "spark") for a, b, _ in MATCH_CASES]
    expected = [e for _, _, e in MATCH_CASES]
    assert _duck_eval(duck_exprs) == expected
    assert _spark_eval(spark, spark_exprs) == expected
