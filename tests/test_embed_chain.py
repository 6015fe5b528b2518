"""The embed stage (embed_chunks_vec, operators/embedpool.py): the
reference's full chunk->embed->pool chain (embedding.rs:49-77 chunks,
:24-47 embeds each chunk, :96-104 pools) end-to-end against the
DuckDB transcription, plus the scale property that makes the
embedder free at 100 TB: it is pure array expressions — zero
shuffle, zero Python."""

from tests.conftest import SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")


def test_em_weighted_pool_both_arms_match_oracle(spark, duck):
    import __spark_entry__ as E

    got = sorted(
        tuple(r) for r in E.queries()["em_weighted_pool"](spark, SF_SMALL).collect()
    )
    want = sorted(
        tuple(r) for r in duck.sql(E.oracle_sql()["em_weighted_pool"]).fetchall()
    )
    assert got == want
    arms = {r[0] for r in got}
    assert arms == {"emb", "chain"}


def test_embed_chunks_is_shuffle_free(spark):
    from stakgraph_spark.operators.embedpool import chunk_text, embed_chunks_vec

    plan = embed_chunks_vec(chunk_text(_docs(spark)))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_embed_chunks_unit_norm_and_determinism(spark):
    from pyspark.sql import Row

    from stakgraph_spark.operators.embedpool import embed_chunks_vec

    chunks = spark.createDataFrame(
        [
            Row(doc_id=1, chunk_idx=0, chunk="the quick brown fox"),
            Row(doc_id=2, chunk_idx=0, chunk="ab"),  # < 3 chars -> zero vector
            Row(doc_id=3, chunk_idx=0, chunk="the quick brown fox"),
        ]
    )
    out = {r.label: r.embedding for r in embed_chunks_vec(chunks).collect()}
    # identical text -> identical vector (deterministic featurizer)
    assert out[1] == out[3]
    # L2 norm ~ 1 after rounding
    assert abs(sum(v * v for v in out[1]) - 1.0) < 1e-4
    # sub-trigram chunk -> all-zero vector, not NaN
    assert out[2] == [0.0] * 16


def test_chain_equals_duckdb_on_non_ascii_text(spark):
    """chunk -> embed -> pool over accented Latin, CJK, single-codepoint
    emoji and ZWJ sequences equals the DuckDB chain arm: both engines'
    length/substring/ascii work on codepoints, including a chunk
    boundary that cuts a ZWJ sequence and a 2-codepoint text (3 UTF-16
    units) that both drop as too short."""
    import duckdb

    from stakgraph_spark.operators.embedpool import chunk_text, embed_chunks_vec, weighted_pool
    from stakgraph_spark.sql.data_templates import weighted_pool_with_chain

    docs = [
        (1, "café résumé naïve Ångström straße Øresund"),
        (2, "知识图谱构建在转录表上运行良好"),
        (3, "launch 🚀 party 🎉 fire 🔥 done"),
        (4, "family 👨‍👩‍👧 coder 👩‍💻 flag 🏳️‍🌈"),
        (5, "é漢🚀👨‍👩‍👧 " * 60),  # 540 codepoints: chunk 400 ends inside a ZWJ sequence
        (6, "🚀x"),
        (7, "👨‍👩"),
    ]
    chunks = chunk_text(
        spark.createDataFrame(docs, "doc_id BIGINT, text STRING").where("length(text) >= 3")
    )
    emb = embed_chunks_vec(chunks).selectExpr("CAST(label AS STRING) AS label", "vec_id", "embedding")
    got = sorted(tuple(r) for r in weighted_pool(emb).collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    con.execute("CREATE TABLE embeddings (label VARCHAR, vec_id BIGINT, embedding DOUBLE[])")
    want = sorted(
        con.execute(
            f"SELECT label, dim, pooled FROM ({weighted_pool_with_chain()}) WHERE arm = 'chain'"
        ).fetchall()
    )
    con.close()

    assert {r[0] for r in got} == {"1", "2", "3", "4", "5", "7"}
    assert got == want
