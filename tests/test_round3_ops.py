"""Round-3 query-surface hardening: keyset pagination, body-posting
stopword cap, embeddings, and the driver-frontier traversals
(subtree / shortest_path / has_edge) against a plain-Python BFS and
the DuckDB recursive CTE."""

from pyspark.sql import functions as F

from stakgraph_spark.operators import queryops as Q
from stakgraph_spark.operators.materialize import REPO_KEY
from tests.conftest import SF_SMALL


def _g(spark):
    import __spark_entry__ as ENTRY

    return ENTRY._graph(spark, SF_SMALL)


def test_page_by_cursor_partitions_the_ordered_set(spark):
    g = _g(spark)
    df = g["nodes"].select("node_key", "node_type")
    full = sorted(r["node_key"] for r in df.select("node_key").collect())
    pages, cursor = [], None
    # unique order key => pages tile the full ordering exactly
    for _ in range(1000):
        page = Q.page_by_cursor(df, ["node_key"], cursor, limit=500).collect()
        if not page:
            break
        pages.extend(r["node_key"] for r in page)
        cursor = (page[-1]["node_key"],)
    assert pages == full
    # resuming from a cursor is stable: re-reading the same page
    # returns the same rows (no SKIP drift)
    c2 = (full[99],)
    again = [r["node_key"] for r in Q.page_by_cursor(df, ["node_key"], c2, 10).collect()]
    assert again == full[100:110]


def test_page_by_cursor_plan_has_no_window(spark):
    """The cursor page must be a filter + top-k — not the global
    row_number window paginate() uses (the part that cannot scale).
    (The node-build subtree legitimately contains its own window —
    the turn-docs adjacency — so the assertion targets the pagination
    operator: it adds no Window node on top of the build's own.)

    Asserted by TRAVERSING the optimized logical plan and counting
    Window node classes — execution-state-independent, unlike the
    round-3 string-count on executedPlan().toString(), which doubled
    every fragment once AQE rendered 'Final Plan' + 'Initial Plan'
    sections after the cached plan had executed (order-dependent
    flake, round-3 verdict #2 / ADVICE #4)."""
    g = _g(spark)

    def count_windows(df):
        def rec(p):
            n = 1 if p.nodeName() == "Window" else 0
            kids = p.children()
            for i in range(kids.length()):
                n += rec(kids.apply(i))
            return n

        return rec(df._jdf.queryExecution().optimizedPlan())

    base = count_windows(g["nodes"])
    cursor_df = Q.page_by_cursor(g["nodes"], ["node_key"], ("m",), 10)
    skip_df = Q.paginate(g["nodes"], ["node_key"], 100, 10)
    # cursor paging adds NO window on top of the build's own...
    assert count_windows(cursor_df) == base
    # ...while SKIP/LIMIT paging does (the single-partition global window)
    assert count_windows(skip_df) == base + 1
    # physical shape of the (unexecuted) cursor plan: a top-k with the
    # sargable struct-tuple cursor predicate, not a global sort
    pplan = cursor_df._jdf.queryExecution().executedPlan().toString()
    pplan = pplan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in pplan
    assert "Filter (struct(node_key" in pplan  # sargable cursor predicate


def test_token_index_body_df_cap(spark):
    g = _g(spark)
    nodes = g["nodes"]
    capped = Q.token_index(nodes, max_body_df=50).cache()
    full = Q.token_index(nodes).cache()
    # hot body tokens are gone from the body side...
    hot = (
        full.where("field = 'body'")
        .groupBy("token")
        .count()
        .where("count > 50")
        .select("token")
    )
    n_hot_left = capped.where("field = 'body'").join(hot, "token", "left_semi").count()
    assert hot.count() > 0  # the corpus does have boilerplate tokens
    assert n_hot_left == 0
    # ...but name postings are untouched (exact-name lookup safety)
    assert (
        capped.where("field = 'name'").count() == full.where("field = 'name'").count()
    )
    # cold body postings survive byte-identically
    cold_full = full.where("field = 'body'").join(hot, "token", "left_anti")
    assert capped.where("field = 'body'").count() == cold_full.count()
    capped.unpersist()
    full.unpersist()


def test_attach_embeddings(spark):
    """Node-attached embeddings: vectors land ordered by dim on
    matching nodes, NULL elsewhere, row count preserved."""
    from stakgraph_spark.operators.embedpool import attach_embeddings, weighted_pool

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # node names are strings; render the numeric test labels as such
    pooled = weighted_pool(embs).withColumn("label", F.col("label").cast("string"))
    nodes = _g(spark)["nodes"]
    some_label = pooled.select("label").first()["label"]
    # graft one node name onto a pooled label to guarantee a match
    nodes2 = nodes.limit(50).withColumn(
        "name",
        F.when(F.col("node_type") == "Function", some_label).otherwise(F.col("name")),
    )
    out = attach_embeddings(nodes2, pooled)
    rows = out.select("name", "node_type", "embedding").collect()
    assert len(rows) == 50
    dim = pooled.groupBy("label").count().first()["count"]
    for r in rows:
        if r["name"] == some_label:
            assert r["embedding"] is not None and len(r["embedding"]) == dim
        else:
            assert r["embedding"] is None
    # ordered by dim: matches the flat form re-read in dim order
    flat = {
        r["dim"]: r["pooled"]
        for r in pooled.where(pooled["label"] == some_label).collect()
    }
    vec = next(r["embedding"] for r in rows if r["name"] == some_label)
    assert list(vec) == [flat[d] for d in sorted(flat)]


def test_shortest_path_reaches_and_rejects(spark):
    g = _g(spark)
    e = g["edges"]
    turn_key = (
        g["nodes"].where("node_type = 'Function'").select("node_key").first()["node_key"]
    )
    path = Q.shortest_path(e, REPO_KEY, turn_key, max_depth=5)
    assert path is not None and path[0] == REPO_KEY and path[-1] == turn_key
    # every consecutive pair is a real edge (undirected)
    epairs = {
        (r["source_key"], r["target_key"]) for r in e.select("source_key", "target_key").collect()
    }
    for a, b in zip(path, path[1:]):
        assert (a, b) in epairs or (b, a) in epairs
    # unreachable + self cases
    assert Q.shortest_path(e, REPO_KEY, "no-such-node", max_depth=3) is None
    assert Q.shortest_path(e, REPO_KEY, REPO_KEY) == [REPO_KEY]


# Keys that need escaping in a SQL string literal (quote, backslash)
# and a '/' (the repo map's path separator).
_ODD_EDGES = [
    ("CONTAINS", "root", "a'b"),
    ("CONTAINS", "root", "c\\d"),
    ("CONTAINS", "a'b", "e/f"),
    ("CONTAINS", "c\\d", "e/f"),  # e/f has two parents at depth 1: the min wins
    ("CONTAINS", "e/f", "g'\\/h"),
    ("CALLS", "g'\\/h", "root"),  # a cycle back to the root
    ("CALLS", "e/f", "x"),
    ("USES", "x", "y''"),
    ("CONTAINS", "z", "root"),
]
_ODD_KEYS = sorted({k for _, s, t in _ODD_EDGES for k in (s, t)})


def _py_subtree(edges, root, depth, types, direction):
    adj: dict = {}
    for t, s, d in edges:
        if t in types:
            a, b = (s, d) if direction == "down" else (d, s)
            adj.setdefault(a, set()).add(b)
    seen, frontier = {root: 0}, {root}
    for d in range(1, depth + 1):
        frontier = {b for a in frontier for b in adj.get(a, ())} - seen.keys()
        seen.update(dict.fromkeys(frontier, d))
    return seen


def _py_path(edges, src, dst, max_depth, types):
    adj: dict = {}
    for t, s, d in edges:
        if types is None or t in types:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    parent, frontier = {src: None}, {src}
    for _ in range(max_depth):
        if dst in parent:
            break
        nxt: dict = {}
        for a in frontier:
            for b in adj.get(a, ()):
                if b not in parent and (b not in nxt or a < nxt[b]):
                    nxt[b] = a
        if not nxt:
            return None
        parent.update(nxt)
        frontier = set(nxt)
    if dst not in parent:
        return None
    path = [dst]
    while path[-1] != src:
        path.append(parent[path[-1]])
    return path[::-1]


def test_traversals_equal_python_bfs_on_quoted_keys(spark):
    from stakgraph_spark.sources.entities import _values_df

    e = spark.createDataFrame(
        _ODD_EDGES, "edge_type STRING, source_key STRING, target_key STRING"
    ).persist()
    try:
        e.count()
        for types in (("CONTAINS",), ("CONTAINS", "CALLS", "USES")):
            for direction in ("down", "up"):
                for root in _ODD_KEYS:
                    roots = _values_df(spark, [(root,)], ["node_key"])
                    got = Q.subtree(e, roots, 3, types, direction).collect()
                    assert dict(tuple(r) for r in got) == _py_subtree(
                        _ODD_EDGES, root, 3, types, direction
                    ), (types, direction, root)
        for types in (None, ("CONTAINS",)):
            for src in ("root", "y''"):
                for dst in _ODD_KEYS:
                    assert Q.shortest_path(e, src, dst, 4, types) == _py_path(
                        _ODD_EDGES, src, dst, 4, types
                    ), (types, src, dst)
        assert Q.shortest_path(e, "root", "e/f") == ["root", "a'b", "e/f"]
        for t, s, d in _ODD_EDGES:
            assert Q.has_edge(e, s, d, t)
            assert not Q.has_edge(e, d, s, t)
    finally:
        e.unpersist()


def test_subtree_equals_duckdb_recursive_cte(spark, duck):
    from stakgraph_spark.sources.entities import _values_df
    from stakgraph_spark.sql.templates import subtree_sql

    roots = _values_df(spark, [(REPO_KEY,)], ["node_key"])
    got = {tuple(r) for r in Q.subtree(_g(spark)["edges"], roots, 3, ("CONTAINS",)).collect()}
    want = {tuple(r) for r in duck.execute(subtree_sql(REPO_KEY, 3)).fetchall()}
    assert got == want and len(want) > 100
