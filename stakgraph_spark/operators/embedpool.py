"""Embedding-pipeline operators (reference ast/src/lang/embedding.rs):

  chunk_text        text -> fixed-width character chunks (the
                    reference packs lines greedily into 400-char
                    chunks, embedding.rs:49-77; fixed windows keep
                    the operator a pure set-expression — chunk
                    boundaries differ, the pipeline shape does not)
  weighted_pool     weighted mean-pool of member vectors with
                    first-member weight 1.2 + L2 normalization
                    (embedding.rs:24-47, 96-104: chunk embeddings
                    pooled into one document vector)
  token_join        entity-name token containment join — the
                    substring-theta-join family (link_integration
                    _tests linker.rs:10-28, get_data_models_within
                    array_graph.rs:587-601) decomposed into
                    token-explode + equi-join so it scales as a
                    partitioned join instead of an O(n*m) scan.

All pure DataFrame expressions with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHUNK_CHARS = 400


def chunk_text(documents: DataFrame, chunk_chars: int = CHUNK_CHARS) -> DataFrame:
    """-> (doc_id, chunk_idx, chunk): fixed-width character windows,
    1-indexed substring arithmetic (portable)."""
    return documents.selectExpr(
        "doc_id",
        f"posexplode(transform(sequence(0, CAST(ceil(length(text) / {chunk_chars}.0d) AS INT) - 1),"
        f" i -> substring(text, i * {chunk_chars} + 1, {chunk_chars}))) AS (chunk_idx, chunk)",
    ).where("chunk <> ''")


def embed_chunks_vec(chunks: DataFrame, dim: int = 16) -> DataFrame:
    """The EMBED stage of the reference's chunk->embed->pool chain
    (embedding.rs:24-47 runs BGE-small over each chunk; :96-104 pools).
    The container has no model runtime, so the embedder is a
    DETERMINISTIC character-trigram featurizer with the same dataflow
    shape: each trigram hashes to one of `dim` buckets by fixed small
    primes (no engine hash() — those differ across engines), bucket
    counts L2-normalize into the chunk vector, 6-dp rounded like
    weighted_pool. Swapping in a real model = replacing this column
    expression with an Arrow-batched pandas UDF of the same
    (label, vec_id) -> embedding signature.

    Entirely array expressions inside whole-stage codegen: embedding
    is embarrassingly parallel — NO shuffle at any scale (the pool
    step downstream owns the per-doc shuffle). -> (label, vec_id,
    embedding ARRAY<DOUBLE>), directly poolable by weighted_pool.
    """
    grams = (
        "CASE WHEN length(chunk) >= 3 THEN transform(sequence(1, length(chunk) - 2),"
        " i -> (ascii(substring(chunk, i, 1)) * 31 + ascii(substring(chunk, i + 1, 1)) * 7"
        f" + ascii(substring(chunk, i + 2, 1))) % {dim}"
        ") ELSE CAST(array() AS ARRAY<INT>) END"
    )
    return (
        chunks.selectExpr("doc_id AS label", "chunk_idx AS vec_id", f"{grams} AS grams")
        .selectExpr(
            "label",
            "vec_id",
            f"transform(sequence(0, {dim} - 1), d -> size(filter(grams, x -> x = d))) AS cnts",
        )
        .selectExpr(
            "label",
            "vec_id",
            "cnts",
            "sqrt(aggregate(cnts, 0.0d, (a, c) -> a + CAST(c AS DOUBLE) * c)) AS nrm",
        )
        .selectExpr(
            "label",
            "vec_id",
            "transform(cnts, c -> CASE WHEN nrm = 0.0d THEN 0.0d"
            " ELSE floor(CAST(c AS DOUBLE) / nrm * 1000000.0d + 0.5d) / 1000000.0d END)"
            " AS embedding",
        )
    )


def weighted_pool(embeddings: DataFrame, first_weight: float = 1.2) -> DataFrame:
    """Pool member vectors per label into one L2-normalized vector;
    the first member (min vec_id) weighs `first_weight`
    (embedding.rs:99-102 weights the first chunk 1.2).

    Shape: posexplode to (label, dim, val, weight) -> two-phase agg
    (map-side combine) -> per-label normalize -> ordered array_agg.
    Output flattened to (label, dim, pooled) — rendering arrays
    differs across engines; the flat form hash-compares exactly.
    """
    from pyspark.sql import Window

    w_first = Window.partitionBy("label")
    flat = (
        embeddings.withColumn("first_id", F.min("vec_id").over(w_first))
        .selectExpr(
            "label",
            f"CASE WHEN vec_id = first_id THEN CAST({first_weight} AS DOUBLE) ELSE 1.0d END AS wt",
            "posexplode(embedding) AS (dim, val)",
        )
    )
    pooled = flat.groupBy("label", "dim").agg(
        (F.sum(F.expr("wt * CAST(val AS DOUBLE)")) / F.sum("wt")).alias("mean_val")
    )
    w_norm = Window.partitionBy("label")
    return (
        pooled.withColumn("norm", F.sqrt(F.sum(F.expr("mean_val * mean_val")).over(w_norm)))
        .selectExpr(
            "label",
            "dim",
            "floor((mean_val / norm) * 1000000.0d + CASE WHEN mean_val >= 0 THEN 0.5d ELSE -0.5d END) / 1000000.0d AS pooled",
        )
    )


def attach_embeddings(
    nodes: DataFrame,
    pooled: DataFrame,
    node_col: str = "name",
    label_col: str = "label",
) -> DataFrame:
    """Node-attached embeddings (the reference stores each node's
    pooled vector as a node property, neo4j_utils.rs:223-229 /
    embedding.rs:96-104; here vectors live in a separate table and
    this operator materializes the property-attached view):
    nodes + an `embedding` array column, joined `node_col` ->
    `label_col` over weighted_pool's flat (label, dim, pooled) form.

    The per-label array is rebuilt ORDERED BY dim via a sort of the
    (dim, pooled) structs, so the attached vector is deterministic;
    nodes without a pooled vector keep embedding = NULL (left join).
    The pooled side is one row per (label, dim) — tiny relative to
    the node table — and aggregates map-side before the join.
    """
    vecs = (
        pooled.groupBy(label_col)
        .agg(
            F.expr("transform(array_sort(collect_list(struct(dim, pooled))), s -> s.pooled)").alias(
                "embedding"
            )
        )
        .withColumnRenamed(label_col, "__emb_key")
    )
    return nodes.join(
        vecs, nodes[node_col] == F.col("__emb_key"), "left"
    ).drop("__emb_key")


def token_join(transcripts: DataFrame, names: DataFrame) -> DataFrame:
    """Turns whose text contains an entity's lowercase name as a
    whitespace token -> (conv_id, turn_idx, matched_name). names:
    DataFrame[name STRING]. The reference scans every (test,
    endpoint) pair with contains() (linker.rs:16-25); exploding
    tokens turns it into an equi-join on the token key."""
    toks = transcripts.selectExpr(
        "conv_id", "turn_idx", "explode(split(lower(text), '\\\\s+')) AS tok0"
    ).selectExpr("conv_id", "turn_idx", "regexp_replace(tok0, '^@', '') AS tok")
    nm = F.broadcast(names.selectExpr("lower(name) AS tok", "name AS matched_name"))
    return toks.join(nm, "tok").select("conv_id", "turn_idx", "matched_name").distinct()
