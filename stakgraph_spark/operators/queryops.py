"""Graph query surface — the read side.

Covers the reference's projection/filter predicates
(ast/src/lang/graphs/graph.rs:39-154, SURVEY.md §2.3) and its
MCP/REST query operators (mcp/src/graph/queries.ts, SURVEY.md
§2.12): point lookups, substring/suffix predicates, edge-type
projections, counts, existence, latest-N-per-label windows,
pagination, fulltext-ish search, coverage stats, depth-bounded
subtree expansion (apoc.path.expandConfig analog, queries.ts:328-458),
the repo map (graph.ts:210-278) and shortest path (queries.ts:519-548).

Lookups, search and aggregates are DataFrame plans over the
materialized nodes/edges tables. The traversals (subtree, repo map,
shortest path) keep the frontier and the visited set on the driver:
a frontier is tens to thousands of keys the driver already holds
exactly, so each hop is one action, the edges filtered by the
frontier as one SQL IN-list and collected. No join, no exchange, no
count() to size a broadcast. The bound is the driver's memory: the
visited set must fit there, as it had to when it was broadcast.
Spark 4.1's WITH RECURSIVE was measured and not used: a depth-2
subtree still took 13 jobs, and a recursive CTE may not contain
UNION (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so a path walk cannot
recurse over distinct (node, depth) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stakgraph_spark.sources.entities import _sql_lit, _values_df


# ---------------------------------------------------------------------------
# Projections / predicates (graph.rs lookups)
# ---------------------------------------------------------------------------

def find_nodes_by_type(nodes: DataFrame, node_type: str) -> DataFrame:
    """graph.rs:96 find_nodes_by_type."""
    return nodes.where(F.col("node_type") == node_type)


def find_nodes_by_name(nodes: DataFrame, node_type: str, name: str) -> DataFrame:
    """graph.rs:41 find_nodes_by_name (BTree prefix-scan analog)."""
    return nodes.where((F.col("node_type") == node_type) & (F.col("name") == name))


def find_nodes_by_name_contains(nodes: DataFrame, node_type: str, fragment: str) -> DataFrame:
    """graph.rs:106-111 find_nodes_by_name_contains."""
    return nodes.where((F.col("node_type") == node_type) & F.col("name").contains(fragment))


def find_nodes_by_file_ends_with(nodes: DataFrame, node_type: str, suffix: str) -> DataFrame:
    """graph.rs:124-140 find_nodes_by_file_ends_with."""
    return nodes.where((F.col("node_type") == node_type) & F.col("file").endswith(suffix))


def find_node_in_range(nodes: DataFrame, file: str, row: int) -> DataFrame:
    """graph.rs:142-146 find_node_in_range: file=f AND
    start <= row <= end (full reference semantics — the payload
    schema carries `end`)."""
    return nodes.where(
        (F.col("file") == file) & (F.col("start") <= row) & (F.col("end") >= row)
    )


def find_node_at(nodes: DataFrame, node_type: str, file: str, row: int) -> DataFrame:
    """graph.rs:148-152 find_node_at."""
    return nodes.where(
        (F.col("node_type") == node_type) & (F.col("file") == file) & (F.col("start") == row)
    )


META_VAL = "regexp_extract(meta, '(^|;){key}=([^;]*)', 2)"


def meta_value(key: str) -> str:
    """SQL fragment: value of `key` in the flattened meta string
    (identical syntax in Spark SQL and DuckDB)."""
    return META_VAL.format(key=key)


def find_endpoint(nodes: DataFrame, name: str, file: str, verb: str) -> DataFrame:
    """array_graph.rs:327-339 find_endpoint: (name, file, verb)
    point lookup — verb lives in meta (asg.rs:144-147)."""
    return nodes.where(
        (F.col("node_type") == "Endpoint")
        & (F.col("name") == name)
        & (F.col("file") == file)
        & (F.expr(meta_value("verb")) == verb)
    )


def find_resource_nodes(nodes: DataFrame, verb: str, path_fragment: str) -> DataFrame:
    """array_graph.rs:610-633 find_resource_nodes: Endpoint nodes
    whose (normalized) path contains the fragment and whose verb
    matches (contains, case-insensitive on the fragment side)."""
    return nodes.where(
        (F.col("node_type") == "Endpoint")
        & F.lower(F.col("name")).contains(path_fragment.lower())
        & F.expr(meta_value("verb")).contains(verb)
    )


def find_source_edge_by_name_and_file(
    edges: DataFrame, nodes: DataFrame, target_name: str, target_file: str
) -> DataFrame:
    """graph.rs:53-58 / array_graph.rs:512-526: reverse lookup — all
    (edge_type, source_key) whose TARGET node has the given
    (name, file)."""
    tgt = nodes.where(
        (F.col("name") == target_name) & (F.col("file") == target_file)
    ).select(F.col("node_key").alias("target_key"))
    return (
        edges.join(F.broadcast(tgt), "target_key")
        .select("edge_type", "source_key", "target_key")
        .distinct()
    )


def find_nodes_with_edge_type(nodes: DataFrame, edges: DataFrame, edge_type: str) -> DataFrame:
    """graph.rs:97-102: edges of a type joined back to both endpoint
    nodes -> (source_name, source_type, target_name, target_type)."""
    e = edges.where(F.col("edge_type") == edge_type)
    src = nodes.select(
        F.col("node_key").alias("source_key"),
        F.col("name").alias("source_name"),
        F.col("node_type").alias("source_type"),
    )
    dst = nodes.select(
        F.col("node_key").alias("target_key"),
        F.col("name").alias("target_name"),
        F.col("node_type").alias("target_type"),
    )
    return (
        e.join(src, "source_key")
        .join(dst, "target_key")
        .select("source_key", "source_name", "source_type", "target_key", "target_name", "target_type")
    )


def count_edges_of_type(edges: DataFrame) -> DataFrame:
    """array_graph.rs:719-727."""
    return edges.groupBy("edge_type").agg(F.count("*").alias("n"))


def has_edge(edges: DataFrame, source_key: str, target_key: str, edge_type: str) -> bool:
    """array_graph.rs:736-746 — existence: one filter, one isEmpty."""
    return not edges.where(
        f"source_key = {_sql_lit(source_key)} AND target_key = {_sql_lit(target_key)}"
        f" AND edge_type = {_sql_lit(edge_type)}"
    ).isEmpty()


# ---------------------------------------------------------------------------
# Windows / top-k / pagination
# ---------------------------------------------------------------------------

def latest_per_type(nodes: DataFrame, limit_per_type: int) -> DataFrame:
    """queries.ts:189-203 'latest N per label': row_number over
    (node_type) ordered by (start DESC, node_key) — deterministic
    tie-break by key, not insertion order."""
    w = Window.partitionBy("node_type").orderBy(F.desc("start"), F.asc("node_key"))
    return (
        nodes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= limit_per_type)
        .drop("rk")
    )


def paginate(df: DataFrame, order_cols: list[str], skip: int, limit: int) -> DataFrame:
    """queries.ts:55-61 SKIP/LIMIT as a row_number window."""
    w = Window.orderBy(*[F.asc(c) for c in order_cols])
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") > skip) & (F.col("rk") <= skip + limit))
        .drop("rk")
    )


def page_by_cursor(
    df: DataFrame, order_cols: list[str], cursor: tuple | None = None, limit: int = 25
) -> DataFrame:
    """Keyset (cursor) pagination — the scale-safe restatement of the
    reference's SKIP/LIMIT paging (queries.ts:55-61, explore.ts):
    rows strictly AFTER `cursor` (the order_cols values of the last
    row of the previous page) in lexicographic order, first `limit`.

    Unlike paginate()'s single-partition row_number window (and
    Neo4j's SKIP, which walks past every skipped row), the cursor is
    a sargable predicate — page N costs the same as page 1 and the
    filter pushes to the scan when the table is sorted/bucketed by
    the order key. Deterministic iff order_cols is a unique key
    (include node_key last). The caller feeds the last row of each
    page back as the next cursor; None starts from the beginning.
    """
    out = df
    if cursor is not None:
        key = F.struct(*[F.col(c) for c in order_cols])
        out = df.where(key > F.struct(*[F.lit(v) for v in cursor]))
    return out.orderBy(*[F.asc(c) for c in order_cols]).limit(limit)


# ---------------------------------------------------------------------------
# Search (fulltext analog, queries.ts:266-306)
# ---------------------------------------------------------------------------

def search_nodes(
    nodes: DataFrame,
    query: str,
    limit: int = 25,
    skip_tests: bool = True,
    include_body: bool = False,
) -> DataFrame:
    """Tokenized term-match scoring over node names (and, with
    include_body, bodies — the reference's composite name+body
    fulltext index, queries.ts:10-51): score = name hits * 2 + body
    hits (name matches rank above body matches, as a fielded index
    would); ties broken by node_key for determinism. skip_tests
    mirrors the reference's default exclusion of test node types
    (queries.ts:32-51)."""
    terms = [t for t in query.lower().split() if t]
    score = None
    for t in terms:
        hit = F.when(F.lower(F.col("name")).contains(t), 2).otherwise(0)
        if include_body:
            hit = hit + F.when(F.lower(F.col("body")).contains(t), 1).otherwise(0)
        score = hit if score is None else score + hit
    out = nodes.withColumn("score", score)
    if skip_tests:
        out = out.where(~F.col("node_type").isin("UnitTest", "IntegrationTest", "E2etest"))
    return (
        out.where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("node_key"))
        .limit(limit)
    )


# whitespace token count of a node body — the per-node token_count
# analog (neo4j_utils.rs:74-75; tiktoken replaced by the declared
# whitespace proxy, textstats.py). Parses in both dialects modulo
# the split function name.
TOKENS_SPARK = "size(split(trim(body), '\\\\s+'))"


def token_index(nodes: DataFrame, max_body_df: int | None = None) -> DataFrame:
    """Inverted fulltext index over name+body — the analog of the
    reference's Neo4j fulltext indexes (standard analyzer over name
    and body, queries.ts:10-51; built once, queried by term).
    -> (token, node_key, field) with field in ('name', 'body'),
    distinct per (token, node_key, field); tokens lowercased and
    split on non-alphanumerics (the standard-analyzer shape).

    max_body_df: stopword policy for BODY postings — a token whose
    body posting list exceeds this document frequency ('the', 'and',
    boilerplate) is dropped from the body side of the index; such a
    token matches nearly everything, so its posting list dominates
    every index-search join while adding ~no ranking signal (the same
    hot-key bound as dedup's MAX_POSTING shingle cap). NAME postings
    are never capped: exact-name lookups must always hit. One count
    aggregate (map-side combined) + a semi-join.

    At scale this is a MATERIALIZED table bucketed by token: a
    search becomes a semi-join against the query's term list instead
    of a full scan of every node's body per query — the difference
    between an index lookup and a 100 TB table scan.
    """
    def side(col: str) -> DataFrame:
        return nodes.selectExpr(
            f"explode(array_distinct(filter(split(lower({col}), '[^a-z0-9]+'), t -> t != ''))) AS token",
            "node_key",
            f"'{col}' AS field",
        )

    body = side("body")
    if max_body_df is not None:
        cold = (
            body.groupBy("token")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_body_df)
            .select("token")
        )
        body = body.join(cold, "token", "left_semi")
    return side("name").unionByName(body)


def search_via_index(
    index: DataFrame,
    nodes: DataFrame,
    query: str,
    limit: int = 25,
    skip_tests: bool = True,
) -> DataFrame:
    """Fulltext search against the inverted index: score = 2 x
    distinct matched name-terms + 1 x distinct matched body-terms
    (fielded weighting, same as search_nodes), evaluated WITHOUT
    scanning node bodies — the index join touches only the posting
    lists of the query's terms. Deterministic (score DESC, node_key).
    """
    terms = sorted({t for t in query.lower().split() if t})
    spark = index.sparkSession
    term_df = F.broadcast(
        spark.sql(
            "SELECT * FROM VALUES "
            + ", ".join("('" + t.replace("'", "''") + "')" for t in terms)
            + " AS t(token)"
        )
    )
    scored = (
        index.join(term_df, "token")
        .groupBy("node_key")
        .agg(
            F.expr(
                "CAST(2 * count(DISTINCT CASE WHEN field = 'name' THEN token END)"
                " + count(DISTINCT CASE WHEN field = 'body' THEN token END) AS INT)"
            ).alias("score")
        )
    )
    out = nodes.join(scored, "node_key")
    if skip_tests:
        out = out.where(~F.col("node_type").isin("UnitTest", "IntegrationTest", "E2etest"))
    return (
        out.select("node_key", "node_type", "name", "file", "start", "score")
        .orderBy(F.desc("score"), F.asc("node_key"))
        .limit(limit)
    )


def token_census(nodes: DataFrame) -> DataFrame:
    """Per-node-type body token totals — the repo-map token rollup
    (mcp/src/graph/graph.ts:262-277) as an aggregate."""
    return (
        nodes.selectExpr("node_type", f"CAST({TOKENS_SPARK} AS BIGINT) AS tokens")
        .groupBy("node_type")
        .agg(F.expr("CAST(sum(tokens) AS BIGINT)").alias("total_tokens"))
    )


# ---------------------------------------------------------------------------
# Coverage (graph_ops.rs:234-308, 517-542)
# ---------------------------------------------------------------------------

def coverage_stats(nodes: DataFrame, edges: DataFrame, target_type: str = "Class") -> DataFrame:
    """covered = target nodes referenced by >=1 USES/CALLS edge;
    stat = (total, covered, percent). One plan: the target nodes left
    joined to the distinct referenced keys, then one aggregate."""
    hits = (
        edges.where("edge_type IN ('USES', 'CALLS')")
        .selectExpr("target_key AS node_key", "1 AS hit")
        .distinct()
    )
    return (
        nodes.where(F.col("node_type") == target_type)
        .select("node_key")
        .join(hits, "node_key", "left")
        .agg(F.count("*").alias("total"), F.count("hit").alias("covered"))
        .select(
            F.lit(target_type).alias("target_type"),
            F.col("total").cast("bigint").alias("total"),
            F.col("covered").cast("bigint").alias("covered"),
            F.round(F.col("covered") * 100.0 / F.col("total"), 2).alias("percent"),
        )
    )


def list_uncovered(nodes: DataFrame, edges: DataFrame, target_type: str = "Class") -> DataFrame:
    """graph_ops.rs:517-542 — left-anti join, ordered for pagination."""
    targets = nodes.where(F.col("node_type") == target_type)
    referenced = (
        edges.where(F.col("edge_type").isin("USES", "CALLS"))
        .select(F.col("target_key").alias("node_key"))
        .distinct()
    )
    return targets.join(referenced, "node_key", "left_anti").orderBy("node_key")


# ---------------------------------------------------------------------------
# Traversal: the frontier lives on the driver, one filter-scan job per hop
# ---------------------------------------------------------------------------

TRAVERSAL_EDGE_TYPES = ("RENDERS", "CALLS", "CONTAINS", "HANDLER", "OPERAND")


def _in(col: str, keys) -> str:
    """SQL `col IN (...)` over driver-side keys: one expression string,
    so one py4j call however many keys (Column.isin makes one per key;
    Catalyst turns a long IN-list into one hash-set lookup)."""
    return f"{col} IN ({', '.join(map(_sql_lit, keys))})"


def subtree(
    edges: DataFrame,
    root_keys: DataFrame,
    depth: int,
    edge_types: tuple[str, ...] = TRAVERSAL_EDGE_TYPES,
    direction: str = "down",
) -> DataFrame:
    """Depth-bounded BFS expansion (queries.ts:328-458
    apoc.path.expandConfig analog): returns (node_key, depth) with the
    MINIMUM depth each node is first reached at.

    root_keys: DataFrame with column node_key, collected once. The
    visited set is a driver dict (key -> depth); each hop is one job,
    the edges filtered by the frontier as one IN-list and collected,
    so depth d costs at most d + 1 jobs. The result is a local
    relation (no job to read it). Bound: the visited set must fit on
    the driver, as a broadcast frontier had to.
    """
    src, dst = ("source_key", "target_key") if direction == "down" else ("target_key", "source_key")
    seen = dict.fromkeys((r[0] for r in root_keys.select("node_key").collect()), 0)
    frontier = set(seen)
    for d in range(1, depth + 1):
        if not frontier:
            break
        hop = edges.where(f"{_in('edge_type', edge_types)} AND {_in(src, frontier)}")
        frontier = {r[0] for r in hop.select(dst).collect()} - seen.keys()
        seen.update(dict.fromkeys(frontier, d))
    return _values_df(
        edges.sparkSession, list(seen.items()), ["node_key", "depth"], ["STRING", "INT"]
    )


def repo_map(
    nodes: DataFrame,
    edges: DataFrame,
    root_key: str,
    depth: int = 3,
) -> DataFrame:
    """Repo map (mcp/src/graph/graph.ts:210-278): the CONTAINS-only
    subtree rendered as an indented ASCII tree with per-node token
    counts (the archy rendering + tiktoken totals, graph.ts:230-277).

    Returns (path, line): `path` is the /-joined name path (sorting
    by it yields the tree's display order); `line` is the indented
    'name (tokens)' row. A node without a nodes row is dropped with
    its subtree.

    One job per hop collects the CONTAINS edges out of the frontier
    (one IN-list), then one job reads name and tokens of every
    reached node: at most depth + 1 jobs. Bound: the reached nodes
    must fit on the driver.
    """
    hops, frontier = [], {root_key}
    for _ in range(depth):
        if not frontier:
            break
        rows = (
            edges.where(f"edge_type = 'CONTAINS' AND {_in('source_key', frontier)}")
            .select("source_key", "target_key")
            .collect()
        )
        hops.append(rows)
        frontier = {t for _, t in rows}
    reached = {root_key}.union(*({t for _, t in rows} for rows in hops))
    info = {
        k: (name, tokens)
        for k, name, tokens in nodes.where(_in("node_key", reached))
        .selectExpr("node_key", "name", f"CAST({TOKENS_SPARK} AS BIGINT)")
        .collect()
    }

    def child(key, ppath):
        name = info[key][0]
        # Spark's || is NULL when either side is
        return key, None if ppath is None or name is None else f"{ppath}/{name}"

    level = [(root_key, info[root_key][0])] if root_key in info else []
    out = list(level)
    for rows in hops:
        kids: dict[str, list[str]] = {}
        for s, t in rows:
            kids.setdefault(s, []).append(t)
        level = [child(t, path) for k, path in level for t in kids.get(k, ()) if t in info]
        out.extend(level)
    return _values_df(
        edges.sparkSession,
        [(path, *info[k]) for k, path in out],
        ["path", "name", "tokens"],
        ["STRING", "STRING", "BIGINT"],
    ).selectExpr(
        "path",
        # indent = tree depth = number of '/' in the path
        "repeat('  ', CAST(length(path) - length(replace(path, '/', '')) AS INT))"
        " || name || ' (' || CAST(tokens AS STRING) || ')' AS line",
    )


def shortest_path(
    edges: DataFrame, from_key: str, to_key: str, max_depth: int = 10,
    edge_types: tuple[str, ...] | None = None,
) -> list[str] | None:
    """queries.ts:519-548 — BFS over the undirected edges with parent
    tracking. Returns the node_key path or None.

    The parents live in a driver dict. Each hop is one job: the edges
    with either end in the frontier (one IN-list per side), collected;
    a newly reached node's parent is the smallest frontier key
    adjacent to it, so the path is deterministic. A path of n hops
    costs at most n jobs. Bound: the visited set must fit on the
    driver, as a broadcast frontier had to.
    """
    types = f"{_in('edge_type', edge_types)} AND " if edge_types else ""
    parent: dict[str, str | None] = {from_key: None}
    frontier = {from_key}
    for _ in range(max_depth):
        if to_key in parent:
            break
        hop = edges.where(
            f"{types}({_in('source_key', frontier)} OR {_in('target_key', frontier)})"
        )
        nxt: dict[str, str] = {}
        for s, t in hop.select("source_key", "target_key").collect():
            for a, b in ((s, t), (t, s)):
                if a in frontier and b not in parent and (b not in nxt or a < nxt[b]):
                    nxt[b] = a
        if not nxt:
            return None
        parent.update(nxt)
        frontier = set(nxt)
    if to_key not in parent:
        return None
    path = [to_key]
    while path[-1] != from_key:
        path.append(parent[path[-1]])
    return list(reversed(path))
