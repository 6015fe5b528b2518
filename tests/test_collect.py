"""Per-turn collection + tiered var-usage + return-type linking
(reference collect.rs:40-59; format.rs:561-617, 621-644), read from
the build's per-turn fact table."""

from stakgraph_spark.operators import collect as C
from stakgraph_spark.operators import materialize as M
from stakgraph_spark.plans.pipeline import build_from_sf_dir
from tests.conftest import SF_MID, SF_SMALL


def _planted(spark):
    return spark.sql(
        "SELECT 'bucketA_c' || CAST(turn_id % 2 AS STRING) AS conv_id,"
        " turn_id AS turn_idx, 'user' AS role, text, '' AS tool"
        f" FROM ({C.collect_cases_cte()})"
    )


def test_candidate_extraction_is_dictionary_free(spark):
    got = {
        (r["turn_id"], r["name"])
        for r in M.collect_rows(_planted(spark)).where("kind = 'candidate'").collect()
    }
    # CamelCase-with-interior-cap only: verbs/bare caps (GET, T99,
    # T100, T3) and lowercase text never match. The regex needs no
    # dictionary; the fact table then keeps the candidates that name
    # a dictionary entity, which all six here do.
    assert got == {
        (0, "AuthCore"), (0, "OrderService"), (1, "DataModelX"),
        (3, "QueueWorker"), (5, "BillingCore"), (5, "InvoiceParser"),
    }


def test_var_tiers_on_planted_turns(spark):
    tdf = _planted(spark)
    facts = M.turn_facts(tdf)
    picks = M.global_picks(facts, handlers=False)
    defs = {
        tuple(r)
        for r in picks.where("kind = 'var'").selectExpr("name", "lo.conv_id", "lo.turn_idx").collect()
    }
    # bucket-first pick: conv c0's turn 4 beats conv c1's turn 1
    assert defs == {("q_search", "bucketA_c0", 4)}
    from stakgraph_spark.operators.extract import first_test_defs

    uses = {
        tuple(r)
        for r in M.linked_refs(facts, first_test_defs(tdf), picks)
        .where("kind = 'var'")
        .select("conv_id", "turn_idx", "name", "d_conv", "d_turn")
        .collect()
    }
    # turn 4 accepts by tier 1 (same conversation), turn 1 by tier 3
    # (same bucket, different conversation)
    assert uses == {
        ("bucketA_c0", 4, "q_search", "bucketA_c0", 4),
        ("bucketA_c1", 1, "q_search", "bucketA_c0", 4),
    }


def test_return_type_only_datamodels(spark):
    got = {
        tuple(r)
        for r in M.turn_facts(_planted(spark))
        .selectExpr("conv_id", "turn_idx", "explode(dm_keys) AS dm_key")
        .collect()
    }
    # DataModelX (turn 1's return section) resolves; BillingCore /
    # InvoiceParser in turn 5's return section are Classes, T3/T100
    # are unknown — none emit (format.rs:636 accepts DataModel only)
    assert got == {("bucketA_c1", 1, "datamodel-datamodelx-entities-8")}


def test_var_usage_never_crosses_buckets(spark):
    """sf0.01 has 5 Directory buckets: every extracted-var CONTAINS
    edge stays inside its bucket (tier 3 = same dir), and every tool
    turn links to exactly one var node."""
    g = build_from_sf_dir(spark, SF_MID)
    e = g["edges"].where(
        "edge_type = 'CONTAINS' AND source_key LIKE 'function-%'"
        " AND target_key LIKE 'var-q%'"
    )
    nodes = g["nodes"]
    src_conv = nodes.selectExpr("node_key AS source_key", "substring(file, 8, 9) AS sb")
    dst_conv = nodes.selectExpr("node_key AS target_key", "substring(file, 8, 9) AS db")
    crossing = e.join(src_conv, "source_key").join(dst_conv, "target_key").where("sb != db")
    assert crossing.count() == 0
    # one var link per (tool turn, vname): source count == distinct source count
    assert e.count() == e.select("source_key").distinct().count()


def test_dictionary_var_tier2_requires_import(spark):
    """CONTAINS(turn -> dictionary Var) exists ONLY for conversations
    whose turn-0 entity set contains the var (the imported tier);
    sf0.01 plants exactly such a case."""
    g = build_from_sf_dir(spark, SF_MID)
    e = g["edges"].where(
        "edge_type = 'CONTAINS' AND target_key = 'var-varconfig-entities-11'"
    )
    rows = e.collect()
    assert len(rows) >= 1
    # every linked turn's conversation imports entity 11 (has an
    # IMPORTS edge File -> VarConfig)
    imports = {
        r["source_key"]
        for r in g["edges"].where(
            "edge_type = 'IMPORTS' AND target_key = 'var-varconfig-entities-11'"
        ).collect()
    }
    nodes = g["nodes"]
    turn_files = {
        r["node_key"]: r["file"] for r in nodes.where("node_type = 'Function'").select("node_key", "file").collect()
    }
    conv_keys = {
        r["file"]: r["node_key"] for r in nodes.where("node_type = 'File'").select("file", "node_key").collect()
    }
    for r in rows:
        assert conv_keys[turn_files[r["source_key"]]] in imports


def test_candidate_uses_covers_case_variant_entities(spark):
    """'@AuthCore' never resolves through the alias path (case), but
    the turn still gets USES via the candidate route — typed by exact
    canonical name."""
    g = build_from_sf_dir(spark, SF_SMALL)
    auth_uses = g["edges"].where(
        "edge_type = 'USES' AND target_key = 'class-authcore-entities-3'"
    )
    # more USES targets AuthCore than lowercase-mention resolution
    # alone produces: every candidate turn is in
    from stakgraph_spark.sources.transcripts import read_transcripts

    cand_turns = (
        M.collect_rows(read_transcripts(spark, SF_SMALL))
        .where("kind = 'candidate' AND name = 'AuthCore'")
        .count()
    )
    assert cand_turns > 0
    assert auth_uses.count() >= cand_turns
