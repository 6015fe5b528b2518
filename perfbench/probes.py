"""Per-layer measurements for the traced run, taken from outside the
program by timing calls into each layer's public functions.

Spark is lazy, so a layer's span is a noop-sink action over that
layer's output with its inputs already cached: the span is then the
layer's own work. Row counts are read from the cached output after
the span closes.
"""

from __future__ import annotations

import os
import statistics

import engine
import gen
import oracle
import queries

# the incremental probe: conv-hash buckets (units = buckets + globals)
# and how many seeded conversations one update edits. One edit touches
# one bucket, so the update rebuilds that bucket and the globals unit
# and fingerprints and skips the other bucket.
N_BUCKETS = 2
EDITED_CONVS = 1
# its own seeded input: the per-unit fixed costs this layer adds do not
# grow with the input, and a small one keeps the traced run short
INCREMENTAL_TURNS = 2_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cached(tracer, name: str, df):
    """Materialize df into the cache inside a span; return (df, rows)."""
    df = df.persist()
    with tracer.span(name):
        _noop(df)
    return df, df.count()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def build_layers(spark, tracer, events_path: str, out_dir: str) -> dict:
    """sources -> extract -> link -> materialize -> sinks, each layer
    timed over cached inputs; plus pipeline.build_graph's plan time
    (driver time before any action)."""
    from stakgraph_spark.operators import extract as X
    from stakgraph_spark.operators import link as L
    from stakgraph_spark.operators import materialize as M
    from stakgraph_spark.plans.pipeline import build_graph
    from stakgraph_spark.sources.sinks import write_graph_parquet
    from stakgraph_spark.sources.transcripts import derive_transcripts

    m: dict[str, float] = {}
    with tracer.span("layers"):
        tr = derive_transcripts(spark, spark.read.parquet(events_path))
        tr, _ = _cached(tracer, "sources.scan", tr)
        mentions, m["extract.mentions_rows"] = _cached(
            tracer, "extract.mentions", X.extract_mentions_raw(tr)
        )
        requests, m["extract.requests_rows"] = _cached(
            tracer, "extract.requests", X.extract_requests(tr)
        )
        resolved, m["link.resolved_rows"] = _cached(
            tracer, "link.resolve", L.link_mentions(spark, mentions)
        )
        ent_nodes = M.entity_nodes(spark).persist()
        first_def = X.first_test_defs(tr).persist()
        _noop(ent_nodes)
        _noop(first_def)
        nodes, m["materialize.nodes_rows"] = _cached(
            tracer,
            "materialize.nodes",
            M.build_nodes(spark, tr, ent_nodes, first_def, requests),
        )
        edges, m["materialize.edges_rows"] = _cached(
            tracer,
            "materialize.edges",
            M.build_edges(spark, tr, resolved, ent_nodes, first_def, requests),
        )
        with tracer.span("sinks.write"):
            write_graph_parquet(nodes, edges, out_dir)
        m["sinks.bytes_written"] = _dir_bytes(out_dir)
        with tracer.span("pipeline.plan"):
            build_graph(spark, tr)
        for df in (tr, mentions, requests, resolved, ent_nodes, first_def, nodes, edges):
            df.unpersist()
    for name in (
        "sources.scan",
        "extract.mentions",
        "extract.requests",
        "link.resolve",
        "materialize.nodes",
        "materialize.edges",
        "sinks.write",
    ):
        m[f"{name}_s"] = tracer.self_time(name)
    m["link.resolved_per_mention"] = m["link.resolved_rows"] / max(m["extract.mentions_rows"], 1)
    m["pipeline.plan_s"] = tracer.self_time("pipeline.plan")
    return m


def incremental(spark, tracer, con, seed: int, work: str) -> tuple[dict, bool]:
    """A ResumableBuilder over INCREMENTAL_TURNS seeded turns, then one
    incremental update that toggles the text of EDITED_CONVS seeded
    conversations. Returns (metrics, correct): correct when the union
    of the unit tables equals the reference triples of the edited
    input."""
    from stakgraph_spark.sources.transcripts import derive_transcripts
    from stakgraph_spark.streaming.incremental import ResumableBuilder

    out = os.path.join(work, "resumable")
    events_path = os.path.join(work, "events_incremental.parquet")
    edited_path = os.path.join(work, "events_edited.parquet")
    n = INCREMENTAL_TURNS
    gen.write_events(events_path, gen.events_table(seed, n))
    gen.write_events(edited_path, gen.events_table(seed, n, gen.edited_users(seed, n, EDITED_CONVS)))
    want = oracle.oracle_triples_fp(con, edited_path)
    rb = ResumableBuilder(out, n_buckets=N_BUCKETS)
    with tracer.span("incremental"):
        with tracer.span("incremental.initial_build"):
            rb.run(spark, derive_transcripts(spark, spark.read.parquet(events_path)))
        units = [u.name.split("=", 1)[1] for u in os.scandir(os.path.join(out, "nodes"))]
        before = {u: _unit_fp(con, out, u) for u in units}
        with tracer.span("incremental.update") as s:
            rebuilt = rb.update_incremental(
                spark, derive_transcripts(spark, spark.read.parquet(edited_path))
            )
        update_s = s["end"] - s["start"]
    walls: dict[str, float] = {}
    for r in sorted(rb.manifest(spark).collect(), key=lambda r: r["completed_at"]):
        walls[r["unit"]] = r["wall_sec"]  # a unit's latest manifest row wins
    unit_build_s = sum(walls.get(u, 0.0) for u in rebuilt)
    changed = sum(1 for u in rebuilt if _unit_fp(con, out, u) != before.get(u))
    ok = oracle.spark_edges_fp(rb.edges(spark)) == want
    return {
        "incremental.update_s": update_s,
        "incremental.units_total": N_BUCKETS + 1,
        "incremental.units_rebuilt": len(rebuilt),
        "incremental.unit_build_s": unit_build_s,
        "incremental.overhead_s": update_s - unit_build_s,
        "incremental.useful_ratio": changed / max(len(rebuilt), 1),
    }, ok


def _unit_fp(con, out: str, unit: str) -> tuple:
    """Fingerprints of one unit's written nodes and edges."""
    def files(table: str) -> str:
        return os.path.join(out, table, f"unit={unit}", "*.parquet")

    return (
        oracle.parquet_fp(con, files("nodes"), "node_key", "node_type", "coalesce(body, '')"),
        oracle.parquet_fp(con, files("edges"), "source_key", "edge_type", "target_key"),
    )


def query_layers(spark, tracer, graph: dict, qs: list[tuple]) -> dict:
    """Each query kind's latency grouped by layer metric, plus the
    median plan-building time of the DataFrame-returning kinds."""
    lat: dict[str, list[float]] = {}
    plans: list[float] = []
    for q in qs:
        group = queries.GROUP[q[0]]
        with tracer.span(f"query.{group}", trace=q[0]) as s:
            _, plan_s = queries.run_spark(spark, graph, q)
        lat.setdefault(group, []).append(s["end"] - s["start"])
        if plan_s is not None:
            plans.append(plan_s)
    return query_metrics(lat, plans)


def query_metrics(lat: dict[str, list[float]], plans: list[float]) -> dict:
    m = {f"query.{g}_ms": 1000.0 * statistics.median(v) for g, v in lat.items()}
    m["query.plan_ms"] = 1000.0 * statistics.median(plans)
    return m


def serve_graph(spark, graph_dir: str) -> dict:
    """Read the written graph tables back, cache them, and build the
    token index the index search needs."""
    from stakgraph_spark.operators import queryops as Q

    nodes = spark.read.parquet(os.path.join(graph_dir, "nodes")).persist()
    edges = spark.read.parquet(os.path.join(graph_dir, "edges")).persist()
    index = Q.token_index(nodes).persist()
    for df in (nodes, edges, index):
        _noop(df)
    return {"nodes": nodes, "edges": edges, "index": index}


def spark_counters(log_dir: str, app_id: str, t0: float, t1: float, ops: int) -> dict:
    from tracing import eventlog_summary, find_eventlog

    s = eventlog_summary(find_eventlog(log_dir, app_id), t0 * 1000.0, t1 * 1000.0, engine.nproc())
    per_op = {k: v / max(ops, 1) for k, v in s.items() if k != "idle_frac"}
    per_op["idle_frac"] = s["idle_frac"]
    return {f"spark.{k}": v for k, v in per_op.items()}
