"""Transcript source: (conv_id, turn_idx, role, text, tool, ts).

The engine's input is a table of multi-turn conversation/agent
transcripts. In production this is an Iceberg table bucketed by
conv_id; in this sandbox we derive it deterministically from the
driver-provided `events` parquet (no external data), with an exactly
equivalent SQL rendering for the DuckDB oracle
(stakgraph_spark/sql/templates.py). The derivation plants ground
truth — which entity/tool/endpoint/test-id each turn mentions — so
golden triples are known by construction (FIXTURES.md §1).

Derivation (pure function of events rows — parallelism-invariant):
  conv_id  = 'conv_' || lpad(user_id, 6, '0')
  turn_idx = row_number() over (partition by user_id
                                order by ts, event_id) - 1
  role     = click/view->user, signup->system, error->tool,
             purchase->assistant
  text     = role-templated synthesis embedding deterministic
             '@alias' mentions (Zipf-skewed: ~40% of picks hit
             entity 0), tool:name(...) calls, 'VERB /api/seg/<id>'
             requests, and test_<k> ids
  tool     = tool name for tool turns else ''

Scale note: row_number over (user_id) is the one shuffle here; at
10^12 turns the input would already be bucketed by conv_id with
turn_idx present, so this stage disappears — it exists only to
manufacture the input shape from the sandbox tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

def derive_transcripts(spark: SparkSession, events: DataFrame) -> DataFrame:
    """events -> transcripts, by executing the EXACT portable SQL the
    DuckDB oracle embeds (sql/templates.transcripts_query) — input
    parity by construction. The alias/endpoint dims are inline
    UNION-ALL literal CTEs (LocalRelations; Catalyst broadcasts
    them). One spark.sql() call keeps driver-side plan building off
    the slow py4j path.
    """
    from ..sql.templates import transcripts_query
    from . import entities as E

    events.createOrReplaceTempView("sg_events_input")
    E.aliases_df(spark).createOrReplaceTempView("sg_aliases")
    E.endpoints_df(spark).createOrReplaceTempView("sg_endpoints")
    return spark.sql(
        transcripts_query(
            events_table="sg_events_input",
            aliases_table="sg_aliases",
            endpoints_table="sg_endpoints",
        )
    )


def read_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard entry: transcripts for a testdata scale-factor dir."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return derive_transcripts(spark, events)


def synthetic_events(spark: SparkSession, n_events: int, n_users: int) -> DataFrame:
    """Deterministic synthetic events at arbitrary scale (seedless —
    a pure function of the row id), for bench/scaling/resume tests
    beyond the provided scale factors. Same schema as the testdata
    events table.
    """
    return spark.range(0, n_events, 1).selectExpr(
        "id AS event_id",
        "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id * 7) AS ts",
        f"CAST(id % {n_users} AS BIGINT) AS user_id",
        "element_at(array('click','view','signup','error','purchase'), CAST(id % 5 + 1 AS INT)) AS event_type",
        "round(id * 0.37 % 1000, 2) + 1.0 AS value",
        "concat('{\"k\": ', CAST(id % 100 AS STRING), '}') AS props",
    )
