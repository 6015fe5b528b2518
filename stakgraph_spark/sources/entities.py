"""Canonical-entity dictionary (the broadcast side of entity linking).

Plays the role of the reference's known-entity set that call
resolution joins against (candidate entity dictionary; see
ast/src/lang/call_finder.rs:20-63 — resolution consults the full
entity set built by earlier stages). Planted structure, all
deterministic, no external data:

  * a Zipf head (entity 0 appears in ~40% of mention turns) to
    exercise skew handling,
  * ambiguous aliases shared by 2+ entities ('core' -> {AuthCore,
    BillingCore}; 'ordersvc' -> {OrderService, MockOrderService}) to
    exercise the tiered resolution scorer,
  * a "mock" entity to exercise the mock-exclusion pass
    (call_finder.rs:138: prefer candidates whose container lacks
    "mock"),
  * same-as alias pairs (SparkEngine<->SparkEngineV2; a 3-chain
    IndexBuilder<->LinkerX<->GraphStore) to exercise
    connected-component canonicalization,
  * tool Libraries and Endpoints for CALLS/HANDLER-style links.

Node-type names come from the reference NodeType vocabulary
(ast/src/lang/graphs/mod.rs:27-50, string forms asg.rs:258-282).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# (entity_id, canonical_name, entity_type)
ENTITIES: list[tuple[int, str, str]] = [
    (0, "OrderService", "Class"),
    (1, "CustomerRepo", "Class"),
    (2, "InvoiceParser", "Class"),
    (3, "AuthCore", "Class"),
    (4, "BillingCore", "Class"),
    (5, "SparkEngine", "Class"),
    (6, "SparkEngineV2", "Class"),
    (7, "CoreUtils", "Library"),
    (8, "DataModelX", "Datamodel"),
    (9, "FeatureFlags", "Feature"),
    (10, "PageHome", "Page"),
    (11, "VarConfig", "Var"),
    (12, "TraitRunnable", "Trait"),
    (13, "FnResolver", "Function"),
    (14, "MockOrderService", "Class"),
    (15, "QueueWorker", "Class"),
    (16, "CacheLayer", "Class"),
    (17, "IndexBuilder", "Class"),
    (18, "GraphStore", "Class"),
    (19, "LinkerX", "Class"),
]
N_MENTIONABLE = 20  # ent_idx in text synthesis ranges over [0, 20)

# (entity_id, alias_idx, alias) — every mentionable entity has exactly
# 3 alias rows (alias_idx 0/1/2) so the synthesis join is total.
# Aliases are the surface forms written into transcript text as
# '@alias'; matching is EXACT (case-sensitive) — the reference rejects
# case-only name variants (call_finder.rs:175).
ALIASES: list[tuple[int, int, str]] = [
    (0, 0, "orderservice"), (0, 1, "ordersvc"), (0, 2, "order-service"),
    (1, 0, "customerrepo"), (1, 1, "custrepo"), (1, 2, "customer-repo"),
    (2, 0, "invoiceparser"), (2, 1, "invparse"), (2, 2, "invoice-parser"),
    (3, 0, "authcore"), (3, 1, "core"), (3, 2, "auth-core"),
    (4, 0, "billingcore"), (4, 1, "core"), (4, 2, "billing-core"),
    (5, 0, "sparkengine"), (5, 1, "engine"), (5, 2, "spark-engine"),
    (6, 0, "sparkenginev2"), (6, 1, "enginev2"), (6, 2, "spark-engine-v2"),
    (7, 0, "coreutils"), (7, 1, "utils"), (7, 2, "core-utils"),
    (8, 0, "datamodelx"), (8, 1, "dmx"), (8, 2, "data-model-x"),
    (9, 0, "featureflags"), (9, 1, "flags"), (9, 2, "feature-flags"),
    (10, 0, "pagehome"), (10, 1, "home"), (10, 2, "page-home"),
    (11, 0, "varconfig"), (11, 1, "config"), (11, 2, "var-config"),
    (12, 0, "traitrunnable"), (12, 1, "runnable"), (12, 2, "trait-runnable"),
    (13, 0, "fnresolver"), (13, 1, "resolver"), (13, 2, "fn-resolver"),
    (14, 0, "mockorderservice"), (14, 1, "ordersvc"), (14, 2, "mock-order-service"),
    (15, 0, "queueworker"), (15, 1, "worker"), (15, 2, "queue-worker"),
    (16, 0, "cachelayer"), (16, 1, "cache"), (16, 2, "cache-layer"),
    (17, 0, "indexbuilder"), (17, 1, "indexer"), (17, 2, "index-builder"),
    (18, 0, "graphstore"), (18, 1, "store"), (18, 2, "graph-store"),
    (19, 0, "linkerx"), (19, 1, "linker"), (19, 2, "linker-x"),
]

# Undirected same-as pairs driving connected-component
# canonicalization (alias collapse). 17-19-18 is a deliberate 2-hop
# chain: min-label must propagate transitively.
SAME_AS: list[tuple[int, int]] = [(5, 6), (17, 19), (19, 18)]

# --- planted entity-hierarchy pairs (the reference's meta-driven
# class relations, resolved by name joins; here planted as explicit
# id pairs — the dictionaries ARE the meta) ---

# class_inherits analog (array_graph.rs:229-246; Edge::parent_of puts
# the PARENT as source): (parent_class_id, child_class_id).
PARENT_OF_PAIRS: list[tuple[int, int]] = [(0, 14), (3, 4)]

# class_includes analog (array_graph.rs:247-266; IMPORTS edge from
# the including class to each included module-class):
# (includer_class_id, included_class_id).
CLASS_IMPORTS_PAIRS: list[tuple[int, int]] = [(4, 3), (14, 0)]

# method-of (OPERAND) pairs — Class->Function (mod.rs:77, From<Operand>)
# and Trait->Function (trait_operand, mod.rs:197-203):
# (container_id, function_entity_id).
OPERAND_PAIRS: list[tuple[int, int]] = [(0, 13), (12, 13)]

# collect_implements_edges analog (collect.rs:60-81): Class->Trait.
IMPLEMENTS_PAIRS: list[tuple[int, int]] = [(15, 12), (16, 12)]

# Tool libraries (CALLS targets for tool: invocations).
TOOLS: list[tuple[int, str, str]] = [
    (200, "search", "Library"),
    (201, "fetch", "Library"),
    (202, "calc", "Library"),
]

# Endpoints: (entity_id, verb, seg); canonical name is
# '<VERB> /api/<seg>/:param' — the normalized-path form the linker
# matches against (reference linker.rs:129-163 link_api_nodes).
ENDPOINTS: list[tuple[int, str, str]] = [
    (100, "GET", "orders"),
    (101, "POST", "orders"),
    (102, "GET", "customers"),
    (103, "DELETE", "parts"),
    (104, "GET", "invoices"),
]


def endpoint_name(verb: str, seg: str) -> str:
    return f"{verb} /api/{seg}/:param"


# Dictionary dims are built as SQL VALUES literals -> Catalyst
# LocalRelations with REAL size statistics. This matters twice over:
# (a) `spark.createDataFrame(py_list, schema)` yields an RDD-backed
#     relation whose stats default to 8 EiB — the planner then
#     refuses to broadcast the 60-row dim and instead broadcasts or
#     sort-merges the FACT side;
# (b) LocalRelations broadcast without scheduling tasks.


_INTEGRAL = ("TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT")


def _sql_lit(v, typ: str = "STRING") -> str:
    """A Spark SQL literal: string, int, NULL of type `typ`, or an
    array of literals. Strings take backslash escapes (Spark SQL
    concatenates adjacent literals, so '' is no escaped quote). An
    int is cast to `typ` when that is integral, else to INT (the
    dims pass their int columns under the default STRING)."""
    if v is None:
        return f"CAST(NULL AS {typ})"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_sql_lit(x) for x in v) + ")"
    return f"CAST({v} AS {typ if typ.upper() in _INTEGRAL else 'INT'})"


def _map_sql(d: dict) -> str:
    """A map literal (constant-folded by Catalyst into one Literal)."""
    return "map(" + ", ".join(f"{_sql_lit(k)}, {_sql_lit(v)}" for k, v in sorted(d.items())) + ")"


def _values_df(
    spark: SparkSession, rows: list[tuple], cols: list[str], types: list[str] | None = None
) -> DataFrame:
    """A local relation (VALUES literals: exact stats, no job to read).
    No rows: one typed NULL row under LIMIT 0, as VALUES needs one."""
    types = types or ["STRING"] * len(cols)
    vals = ", ".join(
        "(" + ", ".join(_sql_lit(v, t) for v, t in zip(r, types)) + ")"
        for r in rows or [(None,) * len(cols)]
    )
    sql = f"SELECT * FROM VALUES {vals} AS t({', '.join(cols)})"
    return spark.sql(sql if rows else sql + " LIMIT 0")


def entities_df(spark: SparkSession) -> DataFrame:
    return _values_df(spark, ENTITIES, ["entity_id", "canonical_name", "entity_type"])


def aliases_df(spark: SparkSession) -> DataFrame:
    return _values_df(spark, ALIASES, ["entity_id", "alias_idx", "alias"])


def same_as_df(spark: SparkSession) -> DataFrame:
    return _values_df(spark, SAME_AS, ["a", "b"])


def tools_df(spark: SparkSession) -> DataFrame:
    return _values_df(spark, TOOLS, ["entity_id", "canonical_name", "entity_type"])


def endpoints_df(spark: SparkSession) -> DataFrame:
    return _values_df(
        spark,
        [(i, v, s, endpoint_name(v, s)) for i, v, s in ENDPOINTS],
        ["entity_id", "verb", "seg", "canonical_name"],
    )


# ---------------------------------------------------------------------------
# SQL renderings (shared with the DuckDB oracle). UNION ALL literals —
# the one VALUES syntax portable across both dialects.
# ---------------------------------------------------------------------------

def _union_all(rows: list[tuple], cols: list[str], types: list[str]) -> str:
    def lit(v, t):
        if t == "STRING":
            s = str(v).replace("'", "''")
            if "${" in s:
                # Never emit the `${` digram in SQL text: Spark's
                # variable substitution (ON by default; the driver's
                # session does not disable it) rewrites `${...}` spans
                # before parsing. Split so each literal is digram-free
                # and re-join with ||, which both Spark SQL and DuckDB
                # parse as string concat.
                parts = s.split("${")
                frags = ["'" + parts[0] + "'"] + [
                    "'$' || '{" + p + "'" for p in parts[1:]
                ]
                return "(" + " || ".join(frags) + ")"
            return "'" + s + "'"
        return f"CAST({v} AS {t})"

    first = "SELECT " + ", ".join(
        f"{lit(v, t)} AS {c}" for v, c, t in zip(rows[0], cols, types)
    )
    rest = [
        "SELECT " + ", ".join(lit(v, t) for v, t in zip(r, types)) for r in rows[1:]
    ]
    return " UNION ALL ".join([first] + rest)


def entities_cte() -> str:
    return _union_all(ENTITIES, ["entity_id", "canonical_name", "entity_type"], ["INT", "STRING", "STRING"])


def aliases_cte() -> str:
    return _union_all(ALIASES, ["entity_id", "alias_idx", "alias"], ["INT", "INT", "STRING"])


def same_as_cte() -> str:
    return _union_all(SAME_AS, ["a", "b"], ["INT", "INT"])


def tools_cte() -> str:
    return _union_all(TOOLS, ["entity_id", "canonical_name", "entity_type"], ["INT", "STRING", "STRING"])


def endpoints_cte() -> str:
    rows = [(i, v, s, endpoint_name(v, s)) for i, v, s in ENDPOINTS]
    return _union_all(rows, ["entity_id", "verb", "seg", "canonical_name"], ["INT", "STRING", "STRING", "STRING"])


def instances() -> list[tuple[int, int, str, str]]:
    """Instance rows (reference Instance nodes, collect.rs:22-23):
    one per alias of a Class-typed entity, carrying the class name as
    data_type (asg.rs NodeData.data_type). `line` = the alias row's
    position in the dictionary (entity_id*3 + alias_idx) — the
    Instance's 'line number', and the unique start for its node_key
    (aliases like 'core' are shared by two classes at the same
    alias_idx, so alias_idx alone would collide after sanitize).
    -> (entity_id, line, alias, class_name)."""
    class_names = {i: n for i, n, t in ENTITIES if t == "Class"}
    return [
        (eid, eid * 3 + aidx, alias, class_names[eid])
        for eid, aidx, alias in ALIASES
        if eid in class_names
    ]


def instances_cte() -> str:
    return _union_all(
        instances(),
        ["entity_id", "line", "alias", "class_name"],
        ["INT", "INT", "STRING", "STRING"],
    )


def _pairs_cte(pairs: list[tuple[int, int]]) -> str:
    return _union_all(pairs, ["src_id", "dst_id"], ["INT", "INT"])


def parent_of_cte() -> str:
    return _pairs_cte(PARENT_OF_PAIRS)


def class_imports_cte() -> str:
    return _pairs_cte(CLASS_IMPORTS_PAIRS)


def operand_cte() -> str:
    return _pairs_cte(OPERAND_PAIRS)


def implements_cte() -> str:
    return _pairs_cte(IMPLEMENTS_PAIRS)
