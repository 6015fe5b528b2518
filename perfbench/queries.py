"""The query_serving mix: each query kind as a call into
stakgraph_spark.operators.queryops, and the same question answered by
DuckDB over the exported nodes/edges tables.

A query is (kind, args). `run_spark` returns (answer, plan_seconds):
plan_seconds is the time spent building the lazy plan before the
action, or None for kinds whose queryops call runs actions itself.
"""

from __future__ import annotations

import math
import time
from collections import defaultdict

import numpy as np

import gen

# query kind -> the per-layer metric group it reports under
GROUP = {
    "point": "point",
    "has_edge": "point",
    "search": "search",
    "search_index": "search",
    "subtree": "traverse",
    "shortest_path": "traverse",
    "edge_census": "aggregate",
    "coverage": "aggregate",
    "latest": "aggregate",
    "paginate": "aggregate",
}
# The mix: 20 slots per cycle, point lookups seven times and has_edge
# five, the slow kinds spread out. The cycle is the same for every seed
# (the seed picks the keys) and clients run whole cycles, so with M
# finished cycles every kind has exactly weight x M samples. Sorted by
# latency the slots group as 7 point (~50 ms); has_edge x5 and search
# (~100 ms); edge_census, paginate, latest (~150-200 ms); coverage and
# search_index (~450 ms); subtree and shortest_path (~1.2 s). The
# median's rank, 10M of 20M, is then the middle of the 6-slot
# has_edge/search group, and the 85th percentile's, 17M, the middle of
# the coverage/search_index pair: neither sits on the edge between two
# groups, where a few samples of one run would decide it. The 85th is
# the highest percentile with at least 10 samples beyond it at the
# smallest run (M = 4, 80 samples).
CYCLE = [
    "point", "has_edge", "subtree", "point", "search", "has_edge", "coverage",
    "point", "has_edge", "edge_census", "point", "shortest_path", "has_edge",
    "point", "paginate", "search_index", "point", "has_edge", "latest", "point",
]
TESTS = ("UnitTest", "IntegrationTest", "E2etest")
POINT_TYPES = ("File", "Class", "Instance", "Endpoint", "Request", "UnitTest", "Library")
PAGE_TYPES = ("Function", "Request", "File", "Instance")
SUBTREE_DEPTH = 2
PATH_MAX_DEPTH = 4


class KeyPools:
    """Real keys of the served graph, read once from DuckDB."""

    def __init__(self, con):
        self.named = con.execute(
            "SELECT DISTINCT node_type, name FROM nodes WHERE node_type IN "
            f"({_in(POINT_TYPES)}) ORDER BY 1, 2"
        ).fetchall()
        self.edges = con.execute(
            "SELECT source_key, target_key, edge_type FROM edges ORDER BY 1, 2, 3"
        ).fetchall()
        self.terms = [
            r[0]
            for r in con.execute(
                "SELECT DISTINCT t FROM (SELECT unnest(regexp_split_to_array(lower(name), "
                "'[^a-z0-9]+')) AS t FROM nodes WHERE node_type <> 'Function') "
                "WHERE length(t) >= 3 ORDER BY 1"
            ).fetchall()
        ]
        self.files = [
            r[0]
            for r in con.execute(
                "SELECT node_key FROM nodes WHERE node_type = 'File' ORDER BY 1"
            ).fetchall()
        ]
        self.type_counts = dict(
            con.execute(
                f"SELECT node_type, count(*) FROM nodes WHERE node_type IN ({_in(PAGE_TYPES)}) "
                "GROUP BY 1"
            ).fetchall()
        )


def _in(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


def schedule(seed: int, client: int, pools: KeyPools, n: int) -> list[tuple]:
    """n queries for one client: CYCLE from a per-client offset (so
    clients run different kinds at once), keys Zipf-popular over
    seeded ranks."""
    rng = np.random.default_rng([seed, 100 + client])
    z = {
        name: gen.Zipf(rng, len(getattr(pools, name)))
        for name in ("named", "edges", "terms", "files")
    }
    start = client * len(CYCLE) // 2
    return [_pick(rng, z, CYCLE[(start + i) % len(CYCLE)], pools) for i in range(n)]


def _pick(rng, z: dict, kind: str, p: KeyPools) -> tuple:
    if kind == "point":
        return (kind, p.named[z["named"].draw()])
    if kind == "has_edge":
        s, t, e = p.edges[z["edges"].draw()]
        if rng.random() < 0.5:  # half the probes ask for an edge that is absent
            t = p.edges[z["edges"].draw()][1]
        return (kind, (s, t, e))
    if kind in ("search", "search_index"):
        a, b = (p.terms[z["terms"].draw()] for _ in range(2))
        return (kind, (f"{a} {b}",))
    if kind == "subtree":
        return (kind, (p.files[z["files"].draw()],))
    if kind == "shortest_path":
        # distinct endpoints: a path from a file to itself returns
        # before the first hop, and a few of those would decide the
        # run's traversal latencies
        a = b = p.files[z["files"].draw()]
        while b == a and len(p.files) > 1:
            b = p.files[z["files"].draw()]
        return (kind, (a, b))
    if kind == "latest":
        return (kind, (int(rng.integers(1, 4)),))
    if kind == "paginate":
        t = PAGE_TYPES[int(rng.integers(0, len(PAGE_TYPES)))]
        skip = int(rng.integers(0, max(p.type_counts.get(t, 1) - 25, 1)))
        return (kind, (t, skip))
    return (kind, ())


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def run_spark(spark, graph: dict, q: tuple):
    from stakgraph_spark.operators import queryops as Q

    nodes, edges, index = graph["nodes"], graph["edges"], graph["index"]
    kind, a = q
    t0 = time.perf_counter()
    if kind == "has_edge":
        return Q.has_edge(edges, *a), None
    if kind == "shortest_path":
        return Q.shortest_path(edges, a[0], a[1], max_depth=PATH_MAX_DEPTH), None
    if kind == "subtree":
        roots = spark.createDataFrame([(a[0],)], "node_key STRING")
        out = Q.subtree(edges, roots, SUBTREE_DEPTH)
        return sorted((r[0], r[1]) for r in out.collect()), None
    if kind == "point":
        df = Q.find_nodes_by_name(nodes, a[0], a[1]).select("node_key")
    elif kind == "search":
        df = Q.search_nodes(nodes, a[0]).select("node_key", "score")
    elif kind == "search_index":
        df = Q.search_via_index(index, nodes, a[0]).select("node_key", "score")
    elif kind == "edge_census":
        df = Q.count_edges_of_type(edges)
    elif kind == "coverage":
        df = Q.coverage_stats(nodes, edges).select("total", "covered", "percent")
    elif kind == "latest":
        df = Q.latest_per_type(nodes, a[0]).select("node_key")
    elif kind == "paginate":
        df = Q.paginate(Q.find_nodes_by_type(nodes, a[0]), ["node_key"], a[1], 25).select(
            "node_key"
        )
    else:
        raise ValueError(kind)
    plan_s = time.perf_counter() - t0
    rows = [tuple(r) for r in df.collect()]
    if kind in ("point", "edge_census", "latest", "paginate"):
        rows = sorted(rows)
    elif kind == "coverage":
        rows = rows[0]
    return rows, plan_s


# ---------------------------------------------------------------------------
# DuckDB side
# ---------------------------------------------------------------------------


class Reference:
    """Answers from DuckDB over the exported graph tables."""

    def __init__(self, con):
        self.con = con
        con.execute(
            "CREATE OR REPLACE TABLE tok AS "
            "SELECT node_key, 'name' AS field, unnest(regexp_split_to_array(lower(name), '[^a-z0-9]+')) AS t FROM nodes "
            "UNION ALL "
            "SELECT node_key, 'body', unnest(regexp_split_to_array(lower(body), '[^a-z0-9]+')) FROM nodes"
        )
        self._adj = None

    def _rows(self, sql: str, params=()) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql, list(params)).fetchall()]

    def answer(self, q: tuple):
        kind, a = q
        tests = _in(TESTS)
        if kind == "point":
            return sorted(self._rows("SELECT node_key FROM nodes WHERE node_type = ? AND name = ?", a))
        if kind == "has_edge":
            return bool(
                self._rows(
                    "SELECT 1 FROM edges WHERE source_key = ? AND target_key = ? AND edge_type = ? LIMIT 1",
                    a,
                )
            )
        if kind == "search":
            terms = [t for t in a[0].lower().split() if t]
            score = " + ".join(
                f"(CASE WHEN contains(lower(name), '{t}') THEN 2 ELSE 0 END)" for t in terms
            )
            return self._rows(
                f"SELECT node_key, score FROM (SELECT node_key, node_type, {score} AS score FROM nodes) "
                f"WHERE node_type NOT IN ({tests}) AND score > 0 ORDER BY score DESC, node_key LIMIT 25"
            )
        if kind == "search_index":
            terms = sorted({t for t in a[0].lower().split() if t})
            return self._rows(
                "SELECT n.node_key, s.score FROM nodes n JOIN ("
                "  SELECT node_key, CAST(2 * count(DISTINCT CASE WHEN field = 'name' THEN t END)"
                "    + count(DISTINCT CASE WHEN field = 'body' THEN t END) AS INT) AS score"
                f"  FROM tok WHERE t IN ({_in(terms)}) GROUP BY node_key) s USING (node_key) "
                f"WHERE n.node_type NOT IN ({tests}) ORDER BY s.score DESC, n.node_key LIMIT 25"
            )
        if kind == "subtree":
            from stakgraph_spark.operators.queryops import TRAVERSAL_EDGE_TYPES

            return sorted(
                self._rows(
                    "WITH RECURSIVE e AS (SELECT source_key AS src, target_key AS dst FROM edges "
                    f"  WHERE edge_type IN ({_in(TRAVERSAL_EDGE_TYPES)})), "
                    "walk(node_key, depth) AS (SELECT ?, 0 UNION "
                    f"  SELECT e.dst, w.depth + 1 FROM walk w JOIN e ON e.src = w.node_key WHERE w.depth < {SUBTREE_DEPTH}) "
                    "SELECT node_key, CAST(min(depth) AS INT) FROM walk GROUP BY node_key",
                    a,
                )
            )
        if kind == "shortest_path":
            return self._shortest_path(a[0], a[1])
        if kind == "edge_census":
            return sorted(self._rows("SELECT edge_type, count(*) FROM edges GROUP BY 1"))
        if kind == "coverage":
            total, covered = self._rows(
                "SELECT (SELECT count(*) FROM nodes WHERE node_type = 'Class'), "
                "(SELECT count(DISTINCT e.target_key) FROM edges e JOIN nodes n "
                "   ON n.node_key = e.target_key AND n.node_type = 'Class' "
                "   WHERE e.edge_type IN ('USES', 'CALLS'))"
            )[0]
            return (total, covered, floor_round(covered * 100.0 / total, 2))
        if kind == "latest":
            return sorted(
                self._rows(
                    "SELECT node_key FROM (SELECT node_key, row_number() OVER (PARTITION BY node_type "
                    "ORDER BY start DESC, node_key ASC) AS rk FROM nodes) WHERE rk <= ?",
                    a,
                )
            )
        if kind == "paginate":
            return self._rows(
                "SELECT node_key FROM nodes WHERE node_type = ? ORDER BY node_key LIMIT 25 OFFSET ?",
                a,
            )
        raise ValueError(kind)

    def _shortest_path(self, src: str, dst: str):
        """Level-synchronous BFS over the undirected edge set with the
        operator's tie-break: a newly reached node's parent is the
        smallest frontier key adjacent to it."""
        if self._adj is None:
            adj = defaultdict(set)
            for s, t in self.con.execute("SELECT source_key, target_key FROM edges").fetchall():
                adj[s].add(t)
                adj[t].add(s)
            self._adj = adj
        parent = {src: None}
        frontier = {src}
        found = src == dst
        for _ in range(PATH_MAX_DEPTH):
            if found:
                break
            nxt: dict[str, str] = {}
            for s in frontier:
                for d in self._adj.get(s, ()):
                    if d not in parent and (d not in nxt or s < nxt[d]):
                        nxt[d] = s
            if not nxt:
                return None
            parent.update(nxt)
            frontier = set(nxt)
            found = dst in nxt
        if not found:
            return None
        path = [dst]
        while path[-1] != src:
            path.append(parent[path[-1]])
        return list(reversed(path))


def floor_round(x: float, digits: int) -> float:
    """Spark's HALF_UP round for the non-negative percentages here."""
    f = 10**digits
    return math.floor(x * f + 0.5) / f


def same(kind: str, got, want) -> bool:
    if kind == "coverage":
        return (
            got is not None
            and tuple(got[:2]) == tuple(want[:2])
            and abs(float(got[2]) - want[2]) < 1e-9
        )
    return got == want
