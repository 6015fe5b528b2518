"""Resumable, incrementally-updatable graph build.

Reference semantics mirrored (SURVEY.md §2.10):
  * repository-hash checkpoint — skip unchanged units
    (standalone/src/handlers.rs:112-131; neo4j_graph.rs:183-190)
  * stage-wise streaming flush with per-stage delta buffers
    (ast/src/builder/streaming.rs:15-86)
  * incremental update: changed-file diff -> remove -> rebuild only
    changed -> re-link (graph_ops.rs:109-196)
  * async job status map (mcp/src/graph/uploads.ts:9-16)

Spark shape: the corpus is split into B conv_id hash buckets (the
unit of work, resume, and lineage). A MANIFEST parquet table records
one row per completed unit: (unit, input_fingerprint, n_nodes,
n_edges, wall_sec, completed_at). A killed run leaves whole
completed units behind; rerunning skips every unit whose fingerprint
matches — idempotent resume with byte-identical output (the
graph_accuracy.rs analog is tests/test_resume.py).

Global-vs-local decomposition: cross-conversation picks (the
globally-first test-definition turn, the globally-first endpoint
handler turn) and the static entity/repository nodes are computed in
a GLOBALS unit first — they are tiny dims — so every bucket build is
then embarrassingly parallel AND the union of units is byte-equal to
the single-shot pipeline regardless of bucket count or kill points.

At cluster scale: units = Iceberg partitions, the manifest is an
Iceberg table written transactionally with each unit (here:
directory-per-unit parquet + manifest append, same protocol).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract as X
from ..operators import materialize as M

MANIFEST_SCHEMA = (
    "unit STRING, input_fingerprint STRING, n_nodes BIGINT, n_edges BIGINT, "
    "wall_sec DOUBLE, completed_at TIMESTAMP"
)


class KillSwitch(Exception):
    """Raised by tests to simulate a mid-run crash."""


def _unit_expr(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


class ResumableBuilder:
    """Directory layout:
        out_dir/manifest/            parquet, one row per finished unit
        out_dir/nodes/unit=<u>/      parquet
        out_dir/edges/unit=<u>/      parquet
    """

    def __init__(self, out_dir: str, n_buckets: int = 8):
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.manifest_dir = os.path.join(out_dir, "manifest")

    # -- manifest ---------------------------------------------------------
    def completed_units(self, spark: SparkSession) -> dict[str, str]:
        if not os.path.isdir(self.manifest_dir) or not os.listdir(self.manifest_dir):
            return {}
        rows = (
            spark.read.parquet(self.manifest_dir)
            .select("unit", "input_fingerprint", "completed_at")
            .collect()
        )
        # latest row wins (a unit rebuilt by an incremental update has
        # several manifest rows — full lineage is kept by design)
        out: dict[str, tuple] = {}
        for r in rows:
            if r["unit"] not in out or r["completed_at"] > out[r["unit"]][1]:
                out[r["unit"]] = (r["input_fingerprint"], r["completed_at"])
        return {u: v[0] for u, v in out.items()}

    def _record(self, spark, unit: str, fingerprint: str, n_nodes: int, n_edges: int, wall: float):
        import datetime

        row = [(unit, fingerprint, n_nodes, n_edges, round(wall, 3), datetime.datetime.now())]
        spark.createDataFrame(row, MANIFEST_SCHEMA).write.mode("append").parquet(self.manifest_dir)

    def _fingerprint(self, df: DataFrame) -> str:
        """Order-insensitive content hash of a unit's input rows —
        the repository-hash analog (handlers.rs:112-131)."""
        r = df.selectExpr(
            # bit_xor: order-insensitive, overflow-free under ANSI
            "CAST(bit_xor(xxhash64(conv_id, turn_idx, text)) AS STRING) AS h",
            "CAST(count(*) AS STRING) AS n",
        ).collect()[0]
        return f"{r['h']}:{r['n']}"

    def _write_unit(self, unit: str, nodes: DataFrame, edges: DataFrame) -> tuple[int, int]:
        ndir = os.path.join(self.out_dir, "nodes", f"unit={unit}")
        edir = os.path.join(self.out_dir, "edges", f"unit={unit}")
        # overwrite is what makes a re-run of a half-written unit safe
        nodes.write.mode("overwrite").parquet(ndir)
        edges.write.mode("overwrite").parquet(edir)
        spark = nodes.sparkSession
        return spark.read.parquet(ndir).count(), spark.read.parquet(edir).count()

    # -- build ------------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        fail_after_units: int | None = None,
    ) -> None:
        """Build all units, skipping ones already completed with a
        matching input fingerprint. fail_after_units simulates a
        crash after that many units finish (tests)."""
        transcripts = transcripts.persist()
        done = self.completed_units(spark)
        ent_nodes = M.entity_nodes(spark)
        first_def = X.first_test_defs(transcripts).persist()
        units_done = 0

        # unit 0: globals — every family that consults corpus-wide
        # state (role/bucket strata, the globally-first test
        # definition per tid, the globally-first request per
        # endpoint) plus the static dictionary nodes/edges. Its
        # fingerprint covers the WHOLE corpus, so any edit that moves
        # a cross-bucket pick (e.g. the first defining turn of a tid)
        # rebuilds the globals unit — bucket units depend only on
        # their own rows + static dims, which is what makes the
        # union of units byte-equal to a single-shot build under any
        # edit (the graph_accuracy.rs equivalence, and the fix for
        # the cross-bucket-staleness hazard of keying first_def-
        # dependent edges to bucket fingerprints).
        g_fp = self._fingerprint(transcripts)
        if done.get("globals") != g_fp:
            t0 = time.time()
            facts = M.turn_facts(transcripts)
            g_nodes = M.global_nodes(spark, facts, ent_nodes, first_def)
            g_edges = M.global_edges(spark, facts, first_def)
            n_n, n_e = self._write_unit("globals", g_nodes, g_edges)
            self._record(spark, "globals", g_fp, n_n, n_e, time.time() - t0)
            units_done += 1
            if fail_after_units is not None and units_done >= fail_after_units:
                raise KillSwitch(f"simulated crash after {units_done} units")

        # conv-hash bucket units: output is a pure function of the
        # bucket's own rows + static dims (local_nodes/local_edges)
        for b in range(self.n_buckets):
            unit = f"b{b:04d}"
            sub = transcripts.where(_unit_expr(self.n_buckets) == b)
            fp = self._fingerprint(sub)
            if done.get(unit) == fp:
                continue
            t0 = time.time()
            facts = M.turn_facts(sub)
            nodes = M.local_nodes(spark, sub, M.request_rows(facts))
            edges = M.local_edges(facts)
            n_n, n_e = self._write_unit(unit, nodes, edges)
            self._record(spark, unit, fp, n_n, n_e, time.time() - t0)
            units_done += 1
            if fail_after_units is not None and units_done >= fail_after_units:
                raise KillSwitch(f"simulated crash after {units_done} units")

        transcripts.unpersist()
        first_def.unpersist()

    # -- incremental update ----------------------------------------------
    def update_incremental(self, spark: SparkSession, transcripts: DataFrame) -> list[str]:
        """graph_ops.rs:109-196 analog: fingerprint each unit of the
        NEW input; rebuild only units whose fingerprint changed (the
        changed-file-diff -> remove -> rebuild flow, expressed as
        recompute of changed partitions). Returns rebuilt unit ids."""
        before = self.completed_units(spark)
        self.run(spark, transcripts)
        after = self.completed_units(spark)
        return sorted(u for u in after if before.get(u) != after[u])

    # -- read back --------------------------------------------------------
    def nodes(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "nodes"))

    def edges(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "edges"))

    def manifest(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.manifest_dir)

    def destroy(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
