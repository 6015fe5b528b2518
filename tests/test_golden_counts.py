"""Golden-count fixtures — the analog of the reference's exact
per-language censuses (ast/src/testing/go/mod.rs:26-130) plus
planted-semantics assertions (mock exclusion, case-variant
rejection, ambiguity tiers, transitive canonicalization)."""

import pyspark.sql.functions as F

from stakgraph_spark.plans.pipeline import build_from_sf_dir
from stakgraph_spark.sources.transcripts import read_transcripts
from tests.conftest import SF_MID, SF_SMALL


def test_census_sf0001(spark):
    g = build_from_sf_dir(spark, SF_SMALL)
    node_census = {r["node_type"]: r["n"] for r in g["nodes"].groupBy("node_type").agg(F.count("*").alias("n")).collect()}
    # ALL 19 reference NodeTypes present (mod.rs:27-50)
    assert len(node_census) == 19
    # 1000 turns + entity 13 (FnResolver, type Function)
    assert node_census["Function"] == 1001
    assert node_census["Repository"] == 1
    assert node_census["File"] == 15  # 15 users at sf0.001
    assert node_census["Endpoint"] == 5
    assert node_census["Library"] == 4  # CoreUtils + 3 tools
    assert node_census["Language"] == 4  # one per role stratum
    assert node_census["Directory"] == 1  # 15 users -> one conv_0000 bucket
    assert node_census["Import"] == 15  # every conv has >=1 system turn
    assert node_census["Instance"] == 39  # 13 Class entities x 3 aliases
    # 50 planted test ids classified tid%3 (17 unit / 17 integration / 16 e2e)
    assert node_census["UnitTest"] == 17
    assert node_census["IntegrationTest"] == 17
    assert node_census["E2etest"] == 16
    assert node_census["Request"] == 202  # one per assistant turn
    # 1 dictionary Var + 3 extracted (one per (bucket, tool): 1
    # bucket x q_search/q_fetch/q_calc at this sf)
    assert node_census["Var"] == 4
    edge_census = {r["edge_type"]: r["n"] for r in g["edges"].groupBy("edge_type").agg(F.count("*").alias("n")).collect()}
    # ALL 12 reference EdgeTypes present (mod.rs:71-88)
    assert len(edge_census) == 12
    # 4 repo->lang + 1 repo->dir + 15 dir->conv + 1000 conv->turn
    # + 15 conv->import + 50 conv->test + 202 turn->request
    # + 3 conv->extracted-Var + 201 turn->Var (tiered var usage, one
    # per tool turn here: single bucket => tier-3 always accepts)
    # + 0 turn->dict-Var (no conv imports entity 11 at this sf)
    # + 0 turn->Datamodel (no Datamodel name in any return section)
    assert edge_census["CONTAINS"] == 1491
    assert edge_census["OF"] == 42  # 3 canon-collapse + 39 Instance->Class
    assert edge_census["HANDLER"] == 5
    assert edge_census["PARENT_OF"] == 2
    assert edge_census["IMPLEMENTS"] == 2
    assert edge_census["OPERAND"] == 2
    assert edge_census["ARG_OF"] == 201  # one per tool turn's argument mention
    # USES includes the 15 turns whose CamelCase candidate names
    # exactly match a canonical entity ('AuthCore' — the alias path
    # rejects the case-variant, the candidate path types it by
    # canonical name; 2 of them coincide with a lowercase mention of
    # the same entity in the same turn and dedup away)
    assert edge_census["USES"] == 901
    assert g["triples"].count() == 3319


def test_node_payload_sf0001(spark):
    """NodeData payload parity (asg.rs:66-82): body/docs/hash/meta."""
    g = build_from_sf_dir(spark, SF_SMALL)
    nodes = g["nodes"]
    # every turn node carries its text as body and md5(body) as hash
    turn = nodes.where("node_type = 'Function' AND file = 'corpus/conv_000000' AND start = 0").first()
    assert turn["body"] and turn["hash"] is not None
    assert "role=" in turn["meta"] and "parent=conv_000000" in turn["meta"]
    # File body = ordered newline rollup of its turns; hash matches
    f = nodes.where("node_type = 'File' AND name = 'conv_000000'").first()
    n_turns = nodes.where("node_type = 'Function' AND file = 'corpus/conv_000000'").count()
    assert f["body"].count("\n") == n_turns - 1
    assert f["end"] == n_turns - 1
    # docs = nearest preceding system turn (attach_function_comments analog)
    docs = nodes.where(
        "node_type = 'Function' AND file = 'corpus/conv_000000' AND docs IS NOT NULL"
    ).first()
    assert docs is None or docs["docs"].startswith("sys ")
    # Instance carries its class as data_type
    # 'ordersvc' is an alias of both OrderService (line 1) and
    # MockOrderService (line 43) — two distinct Instance nodes
    insts = {r["start"]: r["data_type"] for r in nodes.where("node_type = 'Instance' AND name = 'ordersvc'").collect()}
    assert insts == {1: "OrderService", 43: "MockOrderService"}
    # Endpoint meta carries the verb
    ep = nodes.where("node_type = 'Endpoint'").first()
    assert ep["meta"].startswith("verb=")


def test_case_variant_never_links(spark):
    """'@AuthCore' is planted (event_id % 17 == 0 user turns) but the
    dictionary only has 'authcore' — case-only variants must NOT link
    (call_finder.rs:175)."""
    g = build_from_sf_dir(spark, SF_SMALL)
    m = g["mentions"].where(F.col("surface") == "AuthCore").count()
    assert m > 0, "fixture must contain the planted case-variant"
    assert g["resolved"].where(F.col("surface") == "AuthCore").count() == 0


def test_mock_exclusion_tier(spark):
    """alias 'ordersvc' -> {OrderService, MockOrderService}; the
    non-mock candidate must win with top score (call_finder.rs:128-151)."""
    g = build_from_sf_dir(spark, SF_SMALL)
    rows = g["resolved"].where(F.col("surface") == "ordersvc").select("entity_id", "score").distinct().collect()
    assert rows, "fixture must contain 'ordersvc' mentions"
    assert all(r["entity_id"] == 0 and r["score"] == 3 for r in rows)


def test_ambiguous_alias_tiers(spark):
    """alias 'core' -> {AuthCore=3, BillingCore=4}: never resolves to
    anything else, and scores are 2 (same-conv evidence) or 1
    (fallback, which tie-breaks to min entity_id = 3)."""
    g = build_from_sf_dir(spark, SF_SMALL)
    rows = g["resolved"].where(F.col("surface") == "core").collect()
    assert rows
    for r in rows:
        assert r["entity_id"] in (3, 4)
        assert r["score"] in (1, 2)
        if r["score"] == 1:
            assert r["entity_id"] == 3


def test_transitive_canonicalization(spark):
    """same-as chain 17-19-18 must collapse to min label 17; USES
    edges must target only canonical entity nodes."""
    from stakgraph_spark.operators.canon import canonical_map
    from stakgraph_spark.operators.materialize import all_entities
    from stakgraph_spark.sources.entities import same_as_df

    cmap = {r["entity_id"]: r["canon_id"] for r in canonical_map(all_entities(spark).select("entity_id"), same_as_df(spark)).collect()}
    assert cmap[6] == 5 and cmap[18] == 17 and cmap[19] == 17
    assert cmap[0] == 0

    g = build_from_sf_dir(spark, SF_SMALL)
    # no USES edge may target a non-canonical entity node (start in {6,18,19})
    bad = (
        g["edges"].where(F.col("edge_type") == "USES")
        .join(g["ent_nodes"], F.col("target_key") == F.col("node_key"))
        .where(F.col("start").isin(6, 18, 19))
        .count()
    )
    assert bad == 0


def test_text_byte_exact_invariant(spark):
    """Derived columns are additions; text passes through byte-exact:
    re-joining mentions back to transcripts finds every surface as a
    literal '@surface' substring of the original text."""
    g = build_from_sf_dir(spark, SF_SMALL)
    joined = g["mentions"].join(g["transcripts"], ["conv_id", "turn_idx"])
    violations = joined.where(
        ~F.col("text").contains(F.concat(F.lit("@"), F.col("surface")))
    ).count()
    assert violations == 0


def test_edge_dedup_invariant(spark):
    g = build_from_sf_dir(spark, SF_SMALL)
    e = g["edges"]
    assert e.count() == e.dropDuplicates(["edge_type", "source_key", "target_key"]).count()


def test_fact_table_resolution_equals_oracle(spark, duck_mid):
    """build_graph's resolved mentions — the fact table's resolutions
    (link.resolve_sql: map literals + one conv_id window), with the
    tier score — equal the DuckDB kg_resolved oracle (dictionary
    joins + a row_number pick) on sf0.01."""
    import __spark_entry__ as ENTRY
    from stakgraph_spark.plans.pipeline import build_graph

    cols = ["conv_id", "turn_idx", "surface", "entity_id", "score"]
    got = [
        tuple(r)
        for r in build_graph(spark, read_transcripts(spark, SF_MID))["resolved"].select(*cols).collect()
    ]
    want = [tuple(r) for r in duck_mid.execute(ENTRY.oracle_sql()["kg_resolved"]).fetchall()]
    assert want and sorted(got) == sorted(want)
    assert {r[4] for r in want} == {1, 2, 3}
