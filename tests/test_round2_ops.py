"""Round-2 operator tests: hot-shingle cap bounds, cosine size gate,
clean_graph cascade, repo-map rendering, canonicalization
non-convergence guard."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_hot_shingle_cap_bounds_candidates(spark):
    """A boilerplate shingle shared by every doc must NOT create the
    quadratic candidate blowup: with the cap at L, pairs whose only
    shared shingles are hot disappear, and the candidate count is
    bounded by sum(df^2) over cold shingles."""
    from stakgraph_spark.operators.dedup import ngram_jaccard_pairs, shingles

    boiler = "lorem ipsum dolor sit amet consectetur"
    rows = [(i, f"{boiler} unique{i} text{i} body{i}") for i in range(30)]
    # two genuine near-dups sharing cold shingles too
    rows += [(100, f"{boiler} same same same tail"), (101, f"{boiler} same same same tail")]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    # capped intersection drops hot shingles while set sizes keep
    # them -> jaccard is a conservative underestimate (4/12 = .333
    # here vs 1.0 uncapped), so the threshold sits below that
    capped = ngram_jaccard_pairs(docs, threshold=0.3, max_posting=10).collect()
    uncapped = ngram_jaccard_pairs(docs, threshold=0.01, max_posting=10_000_000)
    # the cap kills the 32-doc boilerplate clique: only the genuine
    # near-dup pair (whose cold shingles are shared) survives
    assert {(r["doc_a"], r["doc_b"]) for r in capped} == {(100, 101)}
    assert uncapped.count() > len(capped)  # uncapped pairs everything via boilerplate

    # candidate bound: no shingle with df > L ever reaches the join
    sh = shingles(docs)
    hot = sh.groupBy("shingle").agg(F.count("*").alias("df")).where(F.col("df") > 10)
    assert hot.count() > 0  # the fixture really has hot shingles


def test_cosine_gate_routes_to_lsh(spark):
    from stakgraph_spark.operators.similarity import cosine_pairs, lsh_cosine_pairs

    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    gated = cosine_pairs(embs, 0.25, max_bruteforce=10).toPandas()
    lsh = lsh_cosine_pairs(embs, 0.25).toPandas()
    cols = list(gated.columns)
    assert gated.sort_values(cols).reset_index(drop=True).equals(
        lsh[cols].sort_values(cols).reset_index(drop=True)
    )


def test_clean_graph_cascade(spark):
    from stakgraph_spark.operators.setops import clean_graph

    nodes = spark.createDataFrame(
        [
            ("f1", "File", "conv_a", "corpus/conv_a", ""),
            ("f2", "File", "conv_b", "corpus/conv_b", ""),  # childless -> removed
            ("t1", "Function", "turn_0", "corpus/conv_a", "parent=conv_a;role=user"),
            ("x1", "Class", "C", "entities", ""),
        ],
        "node_key STRING, node_type STRING, name STRING, file STRING, meta STRING",
    )
    edges = spark.createDataFrame(
        [
            ("CONTAINS", "f1", "t1"),
            ("CONTAINS", "f2", "t1"),   # touches removed parent -> cascaded away
            ("USES", "t1", "x1"),
            ("IMPORTS", "f2", "x1"),    # cascaded away
        ],
        "edge_type STRING, source_key STRING, target_key STRING",
    )
    kept_nodes, kept_edges = clean_graph(nodes, edges, "File", "Function")
    assert {r["node_key"] for r in kept_nodes.collect()} == {"f1", "t1", "x1"}
    assert {(r["edge_type"], r["source_key"], r["target_key"]) for r in kept_edges.collect()} == {
        ("CONTAINS", "f1", "t1"),
        ("USES", "t1", "x1"),
    }


def test_repo_map_golden(spark):
    """Deterministic ASCII tree: root line, indentation by depth,
    token counts (graph.ts:210-278 analog)."""
    import __spark_entry__ as ENTRY
    from stakgraph_spark.operators.materialize import REPO_KEY
    from stakgraph_spark.operators.queryops import repo_map

    g = ENTRY._graph(spark, SF_SMALL)
    lines = {r["path"]: r["line"] for r in repo_map(g["nodes"], g["edges"], REPO_KEY, depth=2).collect()}
    assert lines["corpus"] == "corpus (1)"  # body='' -> 1 whitespace token
    assert lines["corpus/user"] == "  user (1)"  # Language node, depth 1
    conv = lines["corpus/conv_0000/conv_000000"]
    assert conv.startswith("    conv_000000 (") and conv.endswith(")")
    n_tokens = int(conv.split("(")[1].rstrip(")"))
    assert n_tokens > 100  # the File body rollup carries real tokens
    # rerun is byte-identical (deterministic under parallelism)
    again = {r["path"]: r["line"] for r in repo_map(g["nodes"], g["edges"], REPO_KEY, depth=2).collect()}
    assert lines == again


def test_canon_nonconvergence_raises(spark):
    from stakgraph_spark.operators.canon import _label_propagation

    ids = spark.createDataFrame([(i,) for i in range(12)], "entity_id INT")
    chain = spark.createDataFrame([(i, i + 1) for i in range(11)], "a INT, b INT")
    with pytest.raises(RuntimeError, match="did not converge"):
        _label_propagation(ids, chain, max_iter=2)
    # and a sufficient bound converges to the min label
    labels = _label_propagation(ids, chain, max_iter=12)
    assert {r["canon_id"] for r in labels.collect()} == {0}


def test_process_endpoint_groups_rewrite(spark):
    """array_graph.rs:187-228: grouped endpoints get the group
    prefix in their name AND a new node_key; edges referencing the
    old key are renamed; ungrouped nodes/edges untouched."""
    from stakgraph_spark.functions.keys import node_key_py
    from stakgraph_spark.operators.setops import process_endpoint_groups

    k_plain = node_key_py("Endpoint", "GET /api/x/:param", "entities", 1, "GET")
    k_grp = node_key_py("Endpoint", "GET /api/y/:param", "entities", 2, "GET")
    k_new = node_key_py("Endpoint", "v2GET /api/y/:param", "entities", 2, "GET")
    nodes = spark.createDataFrame(
        [
            (k_plain, "Endpoint", "GET /api/x/:param", "entities", 1, "verb=GET"),
            (k_grp, "Endpoint", "GET /api/y/:param", "entities", 2, "group=v2;verb=GET"),
            ("fn1", "Function", "turn_0", "corpus/c", 0, ""),
        ],
        "node_key STRING, node_type STRING, name STRING, file STRING, start INT, meta STRING",
    )
    edges = spark.createDataFrame(
        [("HANDLER", k_grp, "fn1"), ("CALLS", "fn1", k_grp), ("CALLS", "fn1", k_plain)],
        "edge_type STRING, source_key STRING, target_key STRING",
    )
    n2, e2 = process_endpoint_groups(nodes, edges)
    rows = {r["node_key"]: r["name"] for r in n2.collect()}
    assert k_new in rows and rows[k_new] == "v2GET /api/y/:param"
    assert k_grp not in rows and rows[k_plain] == "GET /api/x/:param"
    es = {(r["edge_type"], r["source_key"], r["target_key"]) for r in e2.collect()}
    assert es == {
        ("HANDLER", k_new, "fn1"),
        ("CALLS", "fn1", k_new),
        ("CALLS", "fn1", k_plain),
    }
