"""The two workloads. Each is a closed loop driven from one seed:

batch_build    one build at a time: build_graph over the cached
               transcript table, then write_graph_parquet to a fresh
               directory. Every written edge set is compared with the
               DuckDB reference triples of the same events.
query_serving  CLIENTS client threads, each sending its next queryops
               query when the previous one returns, against graph
               tables that setup reads back from disk and caches.
               Every answer is compared with DuckDB over the same
               tables.

Set-up (timed SETUPS times, median reported) is a session (re)start
plus loading and caching the workload's input; for query_serving the
warm-up that follows (WARMUP_CYCLES whole query cycles per client) is
timed once and added to it. Input generation and reference answers
are not timed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import engine
import gen
import oracle
import probes
import queries
from tracing import Tracer

TURNS = {"batch_build": 10_000, "query_serving": 10_000}
SETUPS = 3
CLIENTS = 2
# untimed whole cycles per client before the measured window: queries
# in a fresh JVM run ~30 % slower for their first ~15 s (the JIT is
# still compiling), and a window that caught the end of that measured
# how soon the host finished warming up
WARMUP_CYCLES = 2
# each query client runs at least this many whole cycles, so a run has
# at least 80 samples and the 85th percentile at least 10 beyond it
MIN_CYCLES = 2
PROBE_QUERIES = 10


class Run:
    """One invocation: its parameters, scratch directory, and what it
    measured."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str,
                 turns: int | None = None, inject_wrong: int = 0):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.turns = turns or TURNS[workload]
        self.inject_wrong = inject_wrong
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.eventlog: tuple | None = None
        self.tracer = Tracer(trace)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def check(self, ok: bool) -> None:
        """Count one checked operation; an injected fault turns the
        first inject_wrong checks into mismatches."""
        self.attempted += 1
        if self.inject_wrong > 0:
            self.inject_wrong -= 1
            ok = False
        self.failed += 0 if ok else 1

    def setups(self, load, event_log: bool = False) -> float:
        """SETUPS x (session restart + load): median seconds. The
        loaded input of the last set-up is kept; the first set-up, the
        engine's first use after the JVM started, is kept apart as
        first_setup_s."""
        starts, totals = [], []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            self.spark = engine.restart(self.spark, self.work, event_log)
            t1 = time.perf_counter()
            self.input = load()
            starts.append(t1 - t0)
            totals.append(time.perf_counter() - t0)
        self.layers["session.start_s"] = statistics.median(starts)
        self.first_setup_s = totals[0]
        self.info["setup_samples_s"] = [round(t, 3) for t in totals]
        return statistics.median(totals)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _hot_surface_share(con, events_path: str) -> float:
    """Share of mention turns whose mentions include the hottest
    surface (reference SQL over the same events)."""
    from stakgraph_spark.sql.templates import q

    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    hot, total = con.execute(
        q(
            "SELECT max(n), (SELECT count(*) FROM (SELECT DISTINCT conv_id, turn_idx FROM mentions)) "
            "FROM (SELECT surface, count(*) AS n FROM mentions GROUP BY surface)"
        )
    ).fetchone()
    return hot / max(total, 1)


def _describe_input(r: Run, con, events_path: str) -> None:
    r.info["turns"] = r.turns
    r.info["conversations"] = int(
        con.execute(f"SELECT count(DISTINCT user_id) FROM read_parquet('{events_path}')").fetchone()[0]
    )
    r.info["hot_surface_share"] = round(_hot_surface_share(con, events_path), 4)


def _record_e2e(r: Run, setup_s: float, lat: list[float], work_per_s: float) -> None:
    r.e2e["setup_s"] = (setup_s, "s")
    r.e2e["op_p50_ms"] = (1000.0 * statistics.median(lat), "ms")
    r.e2e["op_p85_ms"] = (1000.0 * percentile(lat, 85), "ms")
    r.e2e["throughput_per_s"] = (work_per_s, "1/s")
    r.info["op_samples"] = len(lat)


# ---------------------------------------------------------------------------
# batch_build
# ---------------------------------------------------------------------------


def batch_build(r: Run) -> None:
    """The first op is the first build in a freshly set-up engine, as a
    batch job runs it: its JIT and code-generation warm-up are part of
    the op, not of set-up. With --seconds 6 a run makes only that op.
    A traced run reports no end-to-end figures."""
    from stakgraph_spark.plans.pipeline import build_graph
    from stakgraph_spark.sources.sinks import write_graph_parquet
    from stakgraph_spark.sources.transcripts import derive_transcripts

    events = r.path("events.parquet")
    gen.write_events(events, gen.events_table(r.seed, r.turns))
    con = oracle.connect(r.path("duckdb-tmp"))
    with ThreadPoolExecutor(1) as pool:
        # the reference answer is computed while the JVM starts
        ref = pool.submit(lambda: (oracle.oracle_triples_fp(con, events), _describe_input(r, con, events)))
        r.spark, r.info["jvm_launch_s"] = engine.timed(engine.start, r.work)
        want = ref.result()[0]
    r.info["triples"] = want[0]

    def load():
        tr = derive_transcripts(r.spark, r.spark.read.parquet(events)).persist()
        tr.count()
        return tr

    def op(out: str) -> float:
        t0 = time.perf_counter()
        g = build_graph(r.spark, r.input)
        write_graph_parquet(g["nodes"], g["edges"], out)
        return time.perf_counter() - t0

    def loop() -> list[float]:
        lat: list[float] = []
        t_start = time.perf_counter()
        while not lat or time.perf_counter() - t_start < r.seconds:
            lat.append(op(r.path(f"out{len(lat)}")))
        return lat

    def verify(out: str) -> None:
        got = oracle.spark_edges_fp(r.spark.read.parquet(os.path.join(out, "edges")))
        r.check(got == want)

    setup_s = r.setups(load)
    r.layers["session.warmup_s"] = r.first_setup_s
    if not r.trace:
        lat = loop()
        for i in range(len(lat)):
            verify(r.path(f"out{i}"))
            shutil.rmtree(r.path(f"out{i}"), ignore_errors=True)
        _record_e2e(r, setup_s, lat, want[0] * len(lat) / sum(lat))
        con.close()
        return

    # A traced run makes its one build layer by layer: the layer probe
    # is the op, and the engine counters are read over it. (Building the
    # graph a second time as one fused op would not fit a traced run in
    # its time limit when the host steals CPU.)
    r.layers["trace.overhead_ms"] = 1000.0 * (r.setups(load, event_log=True) - setup_s)
    r.input.unpersist()
    probe_graph = r.path("probe-graph")
    app, t0 = r.spark.sparkContext.applicationId, time.time()
    r.layers.update(probes.build_layers(r.spark, r.tracer, events, probe_graph))
    r.eventlog = (r.path("eventlog"), app, t0, time.time(), 1)
    verify(probe_graph)
    r.layers.update(_query_probe(r, con, probe_graph))
    inc, ok = probes.incremental(r.spark, r.tracer, con, r.seed, r.work)
    r.layers.update(inc)
    r.check(ok)
    con.close()


def _query_probe(r: Run, con, graph_dir: str) -> dict:
    """Query-layer latencies over a graph batch_build wrote."""
    _register_graph(con, graph_dir)
    pools = queries.KeyPools(con)
    graph = probes.serve_graph(r.spark, graph_dir)
    qs = queries.schedule(r.seed, 0, pools, PROBE_QUERIES)
    m = probes.query_layers(r.spark, r.tracer, graph, qs)
    for df in graph.values():
        df.unpersist()
    return m


def _register_graph(con, graph_dir: str) -> None:
    con.execute(
        f"CREATE OR REPLACE TABLE nodes AS SELECT * FROM read_parquet('{graph_dir}/nodes/*.parquet')"
    )
    con.execute(
        "CREATE OR REPLACE TABLE edges AS SELECT source_key, target_key, edge_type FROM "
        f"read_parquet('{graph_dir}/edges/*/*.parquet', hive_partitioning = true)"
    )


# ---------------------------------------------------------------------------
# query_serving
# ---------------------------------------------------------------------------


def query_serving(r: Run) -> None:
    from stakgraph_spark.plans.pipeline import build_graph
    from stakgraph_spark.sources.sinks import write_graph_parquet
    from stakgraph_spark.sources.transcripts import derive_transcripts

    events = r.path("events.parquet")
    gen.write_events(events, gen.events_table(r.seed, r.turns))
    con = oracle.connect(r.path("duckdb-tmp"))
    with ThreadPoolExecutor(1) as pool:
        described = pool.submit(_describe_input, r, con, events)
        r.spark, r.info["jvm_launch_s"] = engine.timed(engine.start, r.work)
        described.result()

    # the served graph: built once, written through the sink, and read
    # back by every set-up. A traced run builds it layer by layer (the
    # layer probe) instead of with the persisted-prefix build_graph.
    graph_dir = r.path("graph")
    t0 = time.perf_counter()
    if r.trace:
        r.layers.update(probes.build_layers(r.spark, r.tracer, events, graph_dir))
    else:
        tr = derive_transcripts(r.spark, r.spark.read.parquet(events))
        g = build_graph(r.spark, tr, persist_intermediates=True)
        write_graph_parquet(g["nodes"], g["edges"], graph_dir)
    r.info["graph_build_s"] = round(time.perf_counter() - t0, 3)
    _register_graph(con, graph_dir)
    r.info["triples"] = int(con.execute("SELECT count(*) FROM edges").fetchone()[0])
    pools = queries.KeyPools(con)
    ref = queries.Reference(con)

    def serve():
        return probes.serve_graph(r.spark, graph_dir)

    setup_s = r.setups(serve)
    if r.trace:
        r.layers["trace.overhead_ms"] = 1000.0 * (r.setups(serve, event_log=True) - setup_s)
    # warm-up: the same closed loop, untimed, for WARMUP_CYCLES whole
    # cycles per client on keys of its own. Its answers are checked
    # after the measured window, which follows without a pause.
    warm, warmup_s = _serve(r, pools, CLIENTS, WARMUP_CYCLES, 0.0, traced=False)
    r.layers["session.warmup_s"] = warmup_s

    app, t0, steal0 = r.spark.sparkContext.applicationId, time.time(), engine.cpu_steal_s()
    done, wall = _serve(r, pools, 0, MIN_CYCLES, r.seconds, traced=True)
    # the share of the cores' time the host gave to other guests while
    # serving: short Spark jobs wait on every steal, so it explains
    # slow runs
    r.info["serve_steal_share"] = round((engine.cpu_steal_s() - steal0) / (engine.nproc() * wall), 4)
    if r.trace:
        r.eventlog = (r.path("eventlog"), app, t0, time.time(), len(done))
    lat = [d[3] for d in done]
    _verify_answers(r, ref, warm + done)
    _record_e2e(r, setup_s + warmup_s, lat, len(done) / wall)
    groups: dict[str, list[float]] = {}
    for d in done:
        groups.setdefault(d[0][0], []).append(d[3])
    r.info["per_kind_p50_ms"] = {k: round(1000.0 * statistics.median(v), 1) for k, v in groups.items()}

    if r.trace:
        by_layer: dict[str, list[float]] = {}
        for kind, v in groups.items():
            by_layer.setdefault(queries.GROUP[kind], []).extend(v)
        r.layers.update(probes.query_metrics(by_layer, [d[2] for d in done if d[2] is not None]))
        for df in r.input.values():
            df.unpersist()
        inc, ok = probes.incremental(r.spark, r.tracer, con, r.seed, r.work)
        r.layers.update(inc)
        r.check(ok)
    con.close()


def _serve(r: Run, pools, first_client: int, min_cycles: int, seconds: float,
           traced: bool) -> tuple[list[tuple], float]:
    """CLIENTS closed-loop client threads for `seconds`, each finishing
    the query cycle it is in at the deadline, and running at least
    min_cycles cycles. Client c draws the keys of schedule
    first_client + c. Returns (query, answer, plan_s, latency_s, error)
    per finished query and the wall time until the last one
    finished."""
    scheds = [
        queries.schedule(r.seed, first_client + c, pools, 4000) for c in range(CLIENTS)
    ]
    done: list[list[tuple]] = [[] for _ in range(CLIENTS)]
    t_start = time.perf_counter()
    deadline = t_start + seconds
    tracer = r.tracer if traced else Tracer(False)

    def client(c: int) -> None:
        for i, q in enumerate(scheds[c]):
            # whole cycles only: the cycle in progress at the deadline
            # is finished
            cycles, at_start = divmod(i, len(queries.CYCLE))
            if at_start == 0 and cycles >= min_cycles and time.perf_counter() >= deadline:
                return
            t0 = time.perf_counter()
            ans, plan_s, err = None, None, None
            try:
                with tracer.span(f"query.{queries.GROUP[q[0]]}", trace=q[0]):
                    ans, plan_s = queries.run_spark(r.spark, r.input, q)
            except Exception as e:  # a failed query is counted, not fatal
                err = e
                traceback.print_exc(file=sys.stderr)
            done[c].append((q, ans, plan_s, time.perf_counter() - t0, err))

    threads = [threading.Thread(target=client, args=(c,), daemon=True) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=r.seconds + 120)
        if t.is_alive():
            raise RuntimeError("query client did not finish")
    flat = [d for per in done for d in per]
    return flat, time.perf_counter() - t_start


def _verify_answers(r: Run, ref, done: list[tuple]) -> None:
    for q, ans, _, _, err in done:
        r.check(err is None and queries.same(q[0], ans, ref.answer(q)))
