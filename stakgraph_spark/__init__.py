"""stakgraph_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
`xiaoniaoyouhuajiang/stakgraph` (reference studied read-only at
/root/reference; see SURVEY.md).

The reference builds a typed property graph (19 node types, 12 edge
types — ast/src/lang/graphs/mod.rs:27-88) from source code via
tree-sitter + LSP + Neo4j, single-threaded. This engine re-expresses
the same semantics — extraction -> entity linking -> canonicalization
-> typed node/edge materialization -> graph query surface — as
idiomatic Spark DataFrame plans over multi-turn transcript tables
(conv_id, turn_idx, role, text, tool, ts), designed for a
1000-executor cluster at 10^12-turn scale.

Layout
------
  sources/     transcript derivation + entity dictionary + readers/sinks
  functions/   column-level functions (node_key recipe, path normalize, ...)
  operators/   extraction, linking, canonicalization, materialize, graph
               queries, dedup, similarity, text-stats
  plans/       the 5-superstage pipeline DAG (scaffold -> entities ->
               in-file relations -> resolution joins -> global linkers)
  streaming/   incremental/resumable build (manifest checkpoints)
  sql/         dialect-portable SQL templates shared with the DuckDB
               oracle (correctness gate)
"""

__version__ = "0.1.0"
