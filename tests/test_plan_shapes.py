"""Plan-shape assertions — the perf claims as executable checks.

The engine's scale story rests on specific physical-plan properties;
these tests pin them so a regression shows up as a test failure, not
a silent 10x at the next scale factor.
"""

import __spark_entry__ as ENTRY
from tests.conftest import SF_SMALL


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _derivation_graph(spark):
    # The driver's _graph localCheckpoints nodes/edges (truncating
    # lineage to a materialized-table scan), so plan-shape pins must
    # build the raw derivation: persist_intermediates=False keeps the
    # full logical plan visible.
    from stakgraph_spark.plans.pipeline import build_from_sf_dir

    return build_from_sf_dir(spark, SF_SMALL, persist_intermediates=False)


def test_edges_plan_broadcasts_dims_no_cartesian(spark):
    g = _derivation_graph(spark)
    plan = _physical(g["edges"])
    # every dictionary join is a broadcast hash join; nothing falls
    # back to a cartesian product or a nested-loop join
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triples_plan_prunes_node_payload(spark):
    """Catalyst column pruning keeps the triple path free of the
    node-payload rollups (file bodies, docs windows)."""
    g = _derivation_graph(spark)
    plan = _optimized(g["triples"])
    assert "collect_list" not in plan


def test_events_scan_prunes_columns(spark):
    """The derivation needs 4 of the events table's 6 columns; the
    parquet ReadSchema must not include the unused ones (value,
    props)."""
    from stakgraph_spark.sources.transcripts import read_transcripts

    plan = _physical(read_transcripts(spark, SF_SMALL))
    import re

    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas, "no parquet scan found in the plan"
    for rs in read_schemas:
        assert "props" not in rs and "value" not in rs


def _operators(df) -> list[str]:
    """Class names of the physical operators of df's plan before
    execution. A cached relation is one leaf (InMemoryTableScanExec):
    the plan it caches, which another test may have left in the
    session, is not walked."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            p = p.executedPlan()
            name = p.getClass().getSimpleName()
        out.append(name)
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def _uncached_transcripts(spark):
    # A filter on top keeps every plan built over these transcripts
    # from matching a cache entry another test left
    # (__spark_entry__._graph persists its resolved mentions, requests
    # and first_def).
    from stakgraph_spark.sources.transcripts import read_transcripts

    return read_transcripts(spark, SF_SMALL).where("turn_idx >= 0")


def _exchanges_and_joins(df) -> tuple[int, int]:
    ops = _operators(df)
    return sum(o.endswith("ExchangeExec") for o in ops), sum("Join" in o for o in ops)


def test_resolution_adds_no_exchange_or_join(spark):
    """Mention resolution is one expression over map literals plus a
    conv_id window: neither link_mentions nor build_graph's resolved
    adds an Exchange or a join to the transcript derivation's own."""
    from stakgraph_spark.operators.extract import extract_mentions_raw
    from stakgraph_spark.operators.link import link_mentions
    from stakgraph_spark.plans.pipeline import build_graph

    t = _uncached_transcripts(spark)
    base = _exchanges_and_joins(t)
    assert _exchanges_and_joins(link_mentions(spark, extract_mentions_raw(t))) == base
    assert _exchanges_and_joins(build_graph(spark, t)["resolved"]) == base


def test_handler_and_first_def_have_partial_aggregates(spark):
    """The global picks are struct-min AGGREGATES (map-side combine),
    not windows capped at the key cardinality (5 endpoints / 50 test
    ids)."""
    from stakgraph_spark.operators.extract import first_test_defs
    from stakgraph_spark.sources.transcripts import read_transcripts

    t = read_transcripts(spark, SF_SMALL)
    plan = _physical(first_test_defs(t))
    assert "partial_min" in plan
    # no window partitioned by the 50-key tid (the derivation's
    # conv_id window is expected and fine)
    assert "windowspecdefinition(tid" not in plan


# Ceilings on the build plan at SF_SMALL. Plan-operator and job
# counts depend on the plan, not on the host's cores or speed. Before
# the edge families came out of one per-turn fact table (13 local
# union arms that each re-derived extract and link, with the static
# dims joined as VALUES relations), the same build measured 181
# BroadcastExchange and 165 LocalTableScan in the edges plan and 43
# jobs for one build plus write_graph_parquet; the fact-table build
# measures 19, 19 and 9. Each scan of the (non-persisted) transcript
# derivation carries 3 dictionary broadcasts of its own: 6 scans
# account for 18 of each count.
EDGES_BROADCAST_MAX = 19
EDGES_LOCAL_SCAN_MAX = 19
BUILD_WRITE_JOBS_MAX = 9


def test_edges_plan_broadcast_and_scan_ceilings(spark):
    """Counted on the operator tree, where a cached relation another
    test left is one leaf: the plan string prints the plan it caches
    (twice once AQE has run it), so a string count depends on test
    order."""
    ops = _operators(_derivation_graph(spark)["edges"])
    assert 0 < ops.count("BroadcastExchangeExec") <= EDGES_BROADCAST_MAX
    assert 0 < ops.count("LocalTableScanExec") <= EDGES_LOCAL_SCAN_MAX


def _persisted_transcripts(spark):
    from stakgraph_spark.sources.transcripts import read_transcripts

    tr = read_transcripts(spark, SF_SMALL).persist()
    tr.count()
    return tr


# The nodes plan: the File and Import rollups share one conv_id
# aggregate and no arm matches requests to endpoints. Before, it read
# the transcripts 6 times (separate File and Import aggregates) and
# held the endpoint templates ('epath') 4 times, for endpoint picks it
# then filtered out.
NODES_TRANSCRIPT_SCANS_MAX = 5


def test_nodes_plan_scans_and_no_endpoint_matching(spark):
    from stakgraph_spark.plans.pipeline import build_graph

    nodes = build_graph(spark, _uncached_transcripts(spark))["nodes"]
    assert "epath" not in _physical(nodes)
    # each read of the transcripts is one leaf: the events scan, or
    # the cached derivation
    scans = [o for o in _operators(nodes) if o in ("FileSourceScanExec", "InMemoryTableScanExec")]
    assert 0 < len(scans) <= NODES_TRANSCRIPT_SCANS_MAX


def test_build_and_write_job_ceiling(spark, tmp_path):
    """One build_graph + write_graph_parquet over cached transcripts
    (the batch shape): Spark jobs counted from a job group."""
    from stakgraph_spark.plans.pipeline import build_graph
    from stakgraph_spark.sources.sinks import write_graph_parquet

    tr = _persisted_transcripts(spark)
    sc = spark.sparkContext
    sc.setJobGroup("build-write-pin", "build + write")
    try:
        g = build_graph(spark, tr)
        write_graph_parquet(g["nodes"], g["edges"], str(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
        tr.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup("build-write-pin")
    assert 0 < len(jobs) <= BUILD_WRITE_JOBS_MAX


def test_non_persisting_build_leaves_cache_as_found(spark, tmp_path):
    """build_graph(persist_intermediates=False) plus a write pins no
    cache entry of its own: every RDD persisted after it was
    persisted before it."""
    from stakgraph_spark.plans.pipeline import build_graph
    from stakgraph_spark.sources.sinks import write_graph_parquet

    tr = _persisted_transcripts(spark)
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keySet())

    # by RDD id: other tests' cache entries may come and go meanwhile
    before = persisted()
    try:
        g = build_graph(spark, tr)
        write_graph_parquet(g["nodes"], g["edges"], str(tmp_path))
        assert persisted() <= before
    finally:
        tr.unpersist()


def _jobs(spark, group: str, fn):
    """(fn(), the Spark jobs it ran), counted from a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_traversal_and_probe_job_counts(spark, tmp_path):
    """Served as perfbench serves: the written edges read back and
    cached. has_edge is one job; a traversal is one filter-scan job
    per hop over the cached edges, with the frontier held on the
    driver (before: a broadcast join, a localCheckpoint and a count()
    per hop, 17 jobs for a depth-2 subtree and 2 for has_edge)."""
    from stakgraph_spark.operators import queryops as Q
    from stakgraph_spark.operators.materialize import REPO_KEY
    from stakgraph_spark.sources.entities import _values_df
    from stakgraph_spark.sources.sinks import write_graph_parquet

    g = ENTRY._graph(spark, SF_SMALL)
    write_graph_parquet(g["nodes"], g["edges"], str(tmp_path))
    edges = spark.read.parquet(str(tmp_path / "edges")).persist()
    try:
        edges.count()
        s, t, et = edges.select("source_key", "target_key", "edge_type").first()
        assert _jobs(spark, "pin-has-edge-hit", lambda: Q.has_edge(edges, s, t, et)) == (True, 1)
        assert _jobs(spark, "pin-has-edge-miss", lambda: Q.has_edge(edges, t, s, et)) == (False, 1)
        roots = _values_df(spark, [(REPO_KEY,)], ["node_key"])
        for d in (1, 2, 3):
            rows, jobs = _jobs(
                spark, f"pin-subtree-{d}", lambda: Q.subtree(edges, roots, d).collect()
            )
            assert max(r["depth"] for r in rows) == d and jobs <= d + 1
        path, jobs = _jobs(
            spark,
            "pin-shortest-path",
            lambda: Q.shortest_path(
                edges, REPO_KEY, "class-orderservice-entities-0", 6, ENTRY.PATH_EDGE_TYPES
            ),
        )
        assert path is not None and 0 < jobs <= len(path) - 1
    finally:
        edges.unpersist()
