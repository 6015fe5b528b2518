"""Resume/idempotency + incremental update —
analogs of standalone/tests/graph_accuracy.rs (incremental equals
full rebuild) and the repository-hash skip (handlers.rs:112-131)."""

import tempfile

import pandas as pd
import pytest

from stakgraph_spark.plans.pipeline import build_graph
from stakgraph_spark.sources.transcripts import read_transcripts
from stakgraph_spark.streaming.incremental import KillSwitch, ResumableBuilder
from tests.conftest import SF_SMALL


def _triples_pdf(edges_df) -> pd.DataFrame:
    p = edges_df.select("edge_type", "source_key", "target_key").toPandas()
    return p.sort_values(list(p.columns)).reset_index(drop=True)


def test_kill_resume_identical_output(spark):
    tr = read_transcripts(spark, SF_SMALL)
    single = _triples_pdf(build_graph(spark, tr)["edges"])

    out = tempfile.mkdtemp(prefix="sg_resume_")
    b = ResumableBuilder(out, n_buckets=4)
    try:
        with pytest.raises(KillSwitch):
            b.run(spark, tr, fail_after_units=2)
        m1 = b.manifest(spark).count()
        assert m1 == 2  # two units committed before the crash

        b.run(spark, tr)  # resume
        resumed = _triples_pdf(b.edges(spark))
        pd.testing.assert_frame_equal(single, resumed)

        # manifest has full per-unit lineage: globals + 4 buckets
        m = b.manifest(spark).toPandas()
        assert set(m["unit"]) == {"globals", "b0000", "b0001", "b0002", "b0003"}
        assert (m["n_edges"] >= 0).all() and (m["wall_sec"] > 0).all()
    finally:
        b.destroy()


def test_rerun_skips_everything(spark):
    tr = read_transcripts(spark, SF_SMALL)
    out = tempfile.mkdtemp(prefix="sg_skip_")
    b = ResumableBuilder(out, n_buckets=2)
    try:
        b.run(spark, tr)
        n1 = b.manifest(spark).count()
        b.run(spark, tr)  # unchanged input -> all fingerprints match
        assert b.manifest(spark).count() == n1
    finally:
        b.destroy()


def test_incremental_update_rebuilds_only_changed(spark):
    from pyspark.sql import functions as F

    tr = read_transcripts(spark, SF_SMALL).persist()
    out = tempfile.mkdtemp(prefix="sg_incr_")
    b = ResumableBuilder(out, n_buckets=4)
    try:
        b.run(spark, tr)
        # mutate ONE conversation's text -> exactly its bucket (and
        # globals, whose fingerprint covers the full corpus) rebuild
        one_conv = tr.select("conv_id").first()["conv_id"]
        tr2 = tr.withColumn(
            "text",
            F.when(F.col("conv_id") == one_conv, F.concat(F.col("text"), F.lit(" EDITED")))
            .otherwise(F.col("text")),
        )
        rebuilt = b.update_incremental(spark, tr2)
        assert "globals" in rebuilt
        bucket_units = [u for u in rebuilt if u.startswith("b")]
        assert len(bucket_units) == 1  # only the changed conversation's bucket

        # and the store now equals a fresh single-shot build of tr2
        single = _triples_pdf(build_graph(spark, tr2)["edges"])
        pd.testing.assert_frame_equal(single, _triples_pdf(b.edges(spark)))
    finally:
        b.destroy()
        tr.unpersist()


def test_incremental_update_moving_global_first_def(spark):
    """Regression for the cross-bucket staleness hazard: an edit in
    bucket A that MOVES the globally-first defining turn of a tid
    must leave the store equal to a single-shot rebuild — including
    CALLS edges in unchanged buckets that reference the moved test
    node. Covered because every first_def-dependent family lives in
    the globals unit, whose fingerprint spans the whole corpus."""
    from pyspark.sql import functions as F

    from stakgraph_spark.operators.extract import first_test_defs

    tr = read_transcripts(spark, SF_SMALL).persist()
    # the current first definer of some tid
    fd = first_test_defs(tr).orderBy("tid").first()
    tid, d_conv, d_turn = fd["tid"], fd["d_conv"], fd["d_turn"]
    # rewrite that one defining turn to define a DIFFERENT tid ->
    # tid's first_def moves to the next-earliest definer (most likely
    # in another conversation/bucket)
    tr2 = tr.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == d_conv) & (F.col("turn_idx") == d_turn),
            F.regexp_replace("text", f"defines test_{tid}$", "defines test_901"),
        ).otherwise(F.col("text")),
    )

    out = tempfile.mkdtemp(prefix="sg_move_")
    b = ResumableBuilder(out, n_buckets=4)
    try:
        b.run(spark, tr)
        rebuilt = b.update_incremental(spark, tr2)
        assert "globals" in rebuilt  # the moved pick forces a globals rebuild
        single = _triples_pdf(build_graph(spark, tr2)["edges"])
        pd.testing.assert_frame_equal(single, _triples_pdf(b.edges(spark)))
    finally:
        b.destroy()
        tr.unpersist()
