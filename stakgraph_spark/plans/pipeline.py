"""The 5-superstage pipeline DAG.

The reference's 14-stage build (ast/src/builder/core.rs:33-107)
collapses, for transcripts, into the dependency DAG SURVEY.md §3.1
identifies: scaffold -> entities -> in-file relations -> resolution
joins -> global linkers. Stages are declarative DataFrame plans;
materialization boundaries exist only at the sink (and at checkpoints
for resume, streaming/incremental.py).

Plan shape (operators/materialize.py): everything read from turn
text fans out of one per-turn fact table — one pass over
`transcripts` that extracts and resolves mentions and normalizes
requests, with the static dictionary as literals. The query surface
(mentions, resolved, requests) is a projection of it; the edge
families come through one explode for the bucket-local families and
one aggregate of cross-conversation picks for the global ones. Spark
shares nothing between the arms of one action: each arm re-runs the
pass over `transcripts` (pruned to the columns it reads) and the
aggregates it reads — the picks and first_def aggregates, which each
feed two arms, run twice, and the final adaptive plan of the edges
holds no ReusedExchange.

Partitioning doctrine: the transcript stream is repartitioned by
conv_id once, up front; every per-conversation stage (extraction,
the same-conv linking tier, per-conv rollups and dedups) then reuses
that partitioning without further shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import extract as X
from ..operators import materialize as M
from ..sources import transcripts as TS


def build_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    repartition_by_conv: bool = False,
    persist_intermediates: bool = False,
    pack: dict | None = None,
) -> dict[str, DataFrame]:
    """Run the full KG construction; returns every stage's DataFrame.

    pack: an optional dialect pack (operators/dialects.py). The hooks
    the build consults — test_classes/default_test_class
    (classify_test, queries/mod.rs:183) and handler_pick
    (handler_finder, mod.rs:208-223) — route through the pack's data;
    None keeps the default transcriptish dialect (tid%3, 'first').

    Nothing is executed here — callers trigger actions (write/count)
    on the pieces they need. Each action re-reads `transcripts` once
    per arm that needs it; .persist() it for multi-action workloads.

    repartition_by_conv: transcripts from derive_transcripts already
    carry HashPartitioning(conv_id) (the derivation window partitions
    by conv_id precisely so the whole downstream build — every
    distinct/group-by/join keyed on a conv_id-prefixed set — runs
    WITHOUT further shuffles). Set True only for inputs read from a
    source that is not already bucketed/partitioned by conv_id.
    """
    if repartition_by_conv:
        transcripts = transcripts.repartition("conv_id")
    if persist_intermediates:
        # multi-action workloads (the driver's ~50 queries, an
        # interactive session): materialize the shared prefix once.
        # Single-action builds (bench e2e, the resumable units) keep
        # everything lazy and pin no memory; their arms re-read the
        # caller's `transcripts`.
        transcripts = transcripts.persist()

    # One fact table (materialize.turn_facts) feeds every projection:
    # the query surface (mentions, resolved mentions with their
    # scores, requests — also the Request nodes) and the node and
    # edge families, composed here as in materialize.build_nodes /
    # build_edges but over this one fact table.
    facts = M.turn_facts(transcripts, pack)
    mentions = facts.selectExpr("conv_id", "turn_idx", "explode(surfaces) AS surface")
    resolved = facts.selectExpr("conv_id", "turn_idx", "inline(res)")
    requests = M.request_rows(facts)
    ent_nodes = M.entity_nodes(spark)
    # consumed by both node and edge materialization (a plan, not a
    # result: every arm that reads it computes it)
    first_def = X.first_test_defs(transcripts)
    if persist_intermediates:
        resolved = resolved.persist()
        first_def = first_def.persist()
        requests = requests.persist()
    nodes = M.local_nodes(spark, transcripts, requests).unionByName(
        M.global_nodes(spark, facts, ent_nodes, first_def, pack)
    )
    edges = M.local_edges(facts).unionByName(M.global_edges(spark, facts, first_def, pack))
    if persist_intermediates:
        # The query surface re-reads nodes/edges many times (set ops
        # scan the edge union twice per call); pin the materialized
        # tables too, not just the derivation prefix. At rest on a
        # cluster these are the written output tables — the cache
        # stands in for reading them back, and localCheckpoint makes
        # that stand-in honest: it TRUNCATES LINEAGE, so downstream
        # actions plan against a materialized table instead of
        # re-optimizing the edge plan every action (measured:
        # warm kg_edges 2.6 s -> 0.37 s at sf0.1 — the wall was
        # Catalyst re-planning, not the scan). Partitioning is
        # preserved. The lost recompute-on-executor-failure only
        # matters in local mode's stand-in; a cluster job writes
        # these tables and reads them back anyway.
        nodes = nodes.localCheckpoint()
        edges = edges.localCheckpoint()
    return {
        "transcripts": transcripts,
        "mentions": mentions,
        "resolved": resolved,
        "ent_nodes": ent_nodes,
        "first_def": first_def,
        "requests": requests,
        "nodes": nodes,
        "edges": edges,
        "triples": M.triples(edges),
    }


def build_from_sf_dir(
    spark: SparkSession, sf_dir: str, persist_intermediates: bool = False
) -> dict[str, DataFrame]:
    return build_graph(
        spark,
        TS.read_transcripts(spark, sf_dir),
        persist_intermediates=persist_intermediates,
    )
