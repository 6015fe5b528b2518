"""Per-turn collection — Class/Var/Datamodel candidates mined from
turn TEXT, plus the tiered var-usage and return-type link families.

Reference analogs:
  * collect_classes / get_vars / get_query_opt collect entities from
    each file's text independently of any dictionary
    (ast/src/lang/parse/collect.rs:40-59; lang/mod.rs:204-211) — the
    extraction itself needs no pre-registered entity list; typing
    happens in a later join;
  * var-usage-in-functions tiered accept: a Function CONTAINS a Var
    it references iff same-file OR the file's import section contains
    the var's name OR same-directory
    (ast/src/lang/parse/format.rs:561-617, mirrored tier-for-tier);
  * return-type -> DataModel: capitalized type identifiers in a
    function's return section resolve against DataModel nodes and
    emit CONTAINS(Function -> DataModel)
    (ast/src/lang/parse/format.rs:621-644, 681-689).

Directory semantics: this corpus's file layout is
corpus/<bucket>/<conversation> by the graph's own CONTAINS strata
(Directory nodes ARE the conv_id[0:9] buckets; conversation File
meta records parent=<bucket>), so `dirname(file)` for a conversation
file is its bucket; the static dictionary file 'entities' has no
bucket and never dir-matches a conversation (the reference's
Path::parent comparison, format.rs:605-612).

All extraction is built-in regexp work (JVM, whole-stage codegen);
occurrence streams are conv_id-partition-pure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Interior-capital CamelCase identifier — the is_capitalized type/
# entity surface form (a second uppercase after >=1 lowercase, so
# HTTP verbs / bare acronyms don't match).
CAMEL_RE = r"\b[A-Z][a-z0-9]+[A-Z][A-Za-z0-9]*\b"

# Var declaration: a tool invocation's parameter binding `q=` —
# declared var name is q_<tool> (one var per tool's parameter,
# get_vars analog over this corpus's only assignment form).
VARDECL_RE = r"tool:([a-z]+)\(q="
VAR_PREFIX = "q_"

# Return section: everything after '->' (the function signature's
# return-type region, RETURN_TYPES capture analog).
RETURN_SECTION_SQL = "CASE WHEN instr({t}, '->') > 0 THEN substr({t}, instr({t}, '->') + 2) ELSE '' END"

# Capitalized identifier (reference is_capitalized: first char
# uppercase) — applied ONLY within the return section.
CAPIDENT_RE = r"\b[A-Z][A-Za-z0-9]*\b"

BUCKET_LEN = 9  # conv_id[0:9] = the Directory stratum


def extract_entity_candidates(transcripts: DataFrame) -> DataFrame:
    """-> (conv_id, turn_idx, name): CamelCase identifier occurrences
    per turn, dictionary-free (collect.rs:40-59: extraction is a pure
    function of the text). distinct per turn (a collected entity
    appears once per file in the reference)."""
    return transcripts.select(
        "conv_id",
        "turn_idx",
        F.explode(F.regexp_extract_all("text", F.lit(CAMEL_RE), 0)).alias("name"),
    ).distinct()


def typed_entity_candidates(transcripts: DataFrame, entities: DataFrame) -> DataFrame:
    """Candidates typed by exact canonical-name match against the
    entity dictionary (case-sensitive, as find_nodes_by_name is) ->
    (conv_id, turn_idx, name, entity_id, entity_type). Candidates
    whose name is not a known entity simply stay untyped (dropped
    here); the extraction query surfaces them regardless."""
    dim = F.broadcast(entities.selectExpr("canonical_name AS name", "entity_id", "entity_type"))
    return extract_entity_candidates(transcripts).join(dim, "name")


def extract_var_defs(transcripts: DataFrame) -> DataFrame:
    """-> (conv_id, turn_idx, vname): var declaration occurrences
    (the tool parameter binding), name q_<tool>."""
    # zero-alloc contains() guard on the regex's literal prefix
    # (operators/extract.py doc): skips the per-row String copy +
    # Matcher for every turn without a tool invocation
    return transcripts.where(F.col("text").contains("tool:")).select(
        "conv_id",
        "turn_idx",
        F.explode(F.regexp_extract_all("text", F.lit(VARDECL_RE), 1)).alias("tool"),
    ).selectExpr("conv_id", "turn_idx", f"'{VAR_PREFIX}' || tool AS vname")


def bucket_first_var_defs(transcripts: DataFrame) -> DataFrame:
    """-> (vname, d_conv, d_turn): the FIRST declaring turn of each
    var per Directory bucket — the var's defining site (one Var node
    per (bucket, name), like first_test_defs' global pick).
    Struct-min aggregate (map-side combine), parallelism-invariant.
    Cross-conversation within a bucket => a GLOBALS-unit family for
    the resumable builder."""
    return (
        extract_var_defs(transcripts)
        .selectExpr(f"substring(conv_id, 1, {BUCKET_LEN}) AS vbucket", "vname", "conv_id", "turn_idx")
        .groupBy("vbucket", "vname")
        .agg(F.expr("min(struct(conv_id, turn_idx)) AS f"))
        .selectExpr("vname", "f.conv_id AS d_conv", "f.turn_idx AS d_turn")
    )


def extract_var_uses(transcripts: DataFrame) -> DataFrame:
    """-> (conv_id, turn_idx, vname): identifier USAGE occurrences of
    declared-var surface forms, distinct per turn (found_vars is a
    set per function, format.rs:569)."""
    return extract_var_defs(transcripts).distinct()


def var_usage_edges_extracted(transcripts: DataFrame) -> DataFrame:
    """CONTAINS(Function turn -> extracted Var node) under the
    reference's tier cascade (format.rs:577-617), applied to the
    per-bucket extracted Var nodes:

      tier 1  same file: the using turn's conversation IS the var's
              defining conversation;
      tier 2  imported: the conversation's import section (system-turn
              rollup body) contains the var's name
              (import_body.contains(&var.name), format.rs:594);
      tier 3  same directory: the using turn's bucket == the var's
              defining bucket (Path::parent equality over the
              corpus/<bucket>/<conv> layout).

    The var dim is tiny (buckets x tools) and broadcast; the import-
    body join is conv_id-co-partitioned. Accept = tier1 OR tier2 OR
    tier3, distinct per (turn, var) — the reference `continue`s after
    the first accepting tier, so multiple accepting tiers still yield
    one edge. -> (conv_id, turn_idx, vname, d_conv, d_turn).
    """
    uses = extract_var_uses(transcripts).selectExpr(
        "conv_id", "turn_idx", "vname", f"substring(conv_id, 1, {BUCKET_LEN}) AS ubucket"
    )
    vars_dim = F.broadcast(
        bucket_first_var_defs(transcripts).selectExpr(
            "vname", "d_conv", "d_turn", f"substring(d_conv, 1, {BUCKET_LEN}) AS vbucket"
        )
    )
    # Tier 2 ('import body contains var name') WITHOUT building the
    # per-conversation body string: var names contain no newline, so
    # substring-of-the-newline-joined-import-rollup is exactly
    # substring-of-some-system-turn. Evaluated only for (conv, vname)
    # pairs that are actual use-candidates, as a conv_id EQUI-join of
    # those pairs against the conversation's own system turns with
    # the contains() as a post-filter — co-partitioned, no string
    # rollup, no nested-loop join. (The DuckDB oracle states the same
    # tier over the rolled import body; outputs are provably equal.)
    cand = uses.join(vars_dim, "vname")
    cand_cv = cand.select("conv_id", "vname").distinct()
    imp_hits = (
        cand_cv.join(transcripts.where("role = 'system'").select("conv_id", "text"), "conv_id")
        .where(F.expr("contains(text, vname)"))
        .select("conv_id", "vname")
        .distinct()
        .withColumn("imported", F.lit(1))
    )
    return (
        cand.join(imp_hits, ["conv_id", "vname"], "left")
        .where(
            "(conv_id = d_conv)"          # tier 1: same file
            " OR (imported IS NOT NULL)"  # tier 2: imported
            " OR (ubucket = vbucket)"     # tier 3: same directory
        )
        .select("conv_id", "turn_idx", "vname", "d_conv", "d_turn")
        .distinct()
    )


def return_type_datamodels(transcripts: DataFrame, ent_nodes: DataFrame) -> DataFrame:
    """CONTAINS(Function turn -> Datamodel) from capitalized type
    identifiers in the turn's return section, resolved by exact name
    against Datamodel nodes (format.rs:621-644: is_capitalized gate,
    definition lookup, accept only DataModel targets).
    -> (conv_id, turn_idx, dm_key)."""
    ret = RETURN_SECTION_SQL.format(t="text")
    idents = transcripts.selectExpr("conv_id", "turn_idx", f"{ret} AS ret").select(
        "conv_id",
        "turn_idx",
        F.explode(F.regexp_extract_all("ret", F.lit(CAPIDENT_RE), 0)).alias("name"),
    )
    dm = F.broadcast(
        ent_nodes.where(F.col("node_type") == "Datamodel").select(
            "name", F.col("node_key").alias("dm_key")
        )
    )
    return idents.join(dm, "name").select("conv_id", "turn_idx", "dm_key").distinct()


# ---------------------------------------------------------------------------
# Planted parity dims — one literal turn set exercising every collect
# extractor with non-empty results (the corpus itself produces no
# return-type hit, so the driver-gated query runs over these; the
# same rows feed the DuckDB oracle).
# ---------------------------------------------------------------------------

# Planted turns live in two conversations of ONE bucket
# (conv_id = 'bucketA_c' || turn_id % 2 — first 9 chars shared), so
# the var tiers are all exercised: turn 4 (conv c0) declares q_search
# whose bucket-first site it is; turn 1 (conv c1) uses q_search ->
# accepted by tier 3 (same bucket), while turn 4's own use is tier 1.
COLLECT_CASES: list[tuple[int, str]] = [
    (0, "check @AuthCore and OrderService today"),        # two candidates
    (1, 'tool:search(q="@core") -> DataModelX done'),     # var use (tier 3) + return-type hit
    (2, "plain lowercase text, no hits at all"),
    (3, "GET /api/x T99 -> T100 QueueWorker"),            # bare caps never candidates; QueueWorker is (and is no Datamodel)
    (4, 'tool:search(q="7") -> ok T3'),                   # var def site (bucket-first) + tier-1 use
    (5, "-> BillingCore InvoiceParser"),                  # return section hits Classes only -> no Datamodel edge
]


def collect_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(COLLECT_CASES, ["turn_id", "text"], ["INT", "STRING"])


def planted_turns_sql() -> str:
    """The planted cases shaped as transcript rows (two conversations
    sharing one bucket) — dialect-portable; both the Spark query and
    the DuckDB oracle run this exact text."""
    return (
        "SELECT 'bucketA_c' || CAST(turn_id % 2 AS STRING) AS conv_id,"
        " turn_id AS turn_idx, 'user' AS role, text, '' AS tool"
        f" FROM ({collect_cases_cte()})"
    )


def collect_oracle_sql() -> str:
    """DuckDB rendering of the kg_collect parity query — an
    independent SQL implementation of every collect extractor over
    the same planted rows."""
    from ..functions.keys import node_key_sql
    from ..sources.entities import entities_cte

    dm_key = node_key_sql(
        "'Datamodel'", "e.canonical_name", "'entities'", "e.entity_id", "duckdb"
    )
    return f"""
WITH t AS ({planted_turns_sql()}),
ents AS ({entities_cte()}),
cands AS (SELECT DISTINCT conv_id, turn_idx,
          unnest(regexp_extract_all(text, '\\b[A-Z][a-z0-9]+[A-Z][A-Za-z0-9]*\\b', 0)) AS name FROM t),
vd AS (SELECT conv_id, turn_idx,
       'q_' || unnest(regexp_extract_all(text, 'tool:([a-z]+)\\(q=', 1)) AS vname FROM t),
fv AS (SELECT vname, conv_id AS d_conv, turn_idx AS d_turn,
              substring(conv_id, 1, {BUCKET_LEN}) AS vbucket FROM (
  SELECT vname, conv_id, turn_idx,
         row_number() OVER (PARTITION BY substring(conv_id, 1, {BUCKET_LEN}), vname
                            ORDER BY conv_id, turn_idx) AS rk FROM vd) WHERE rk = 1),
vu AS (SELECT DISTINCT conv_id, turn_idx, vname FROM vd),
isec AS (SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS ibody
         FROM t WHERE role = 'system' GROUP BY conv_id),
reti AS (SELECT conv_id, turn_idx,
         unnest(regexp_extract_all(
           CASE WHEN instr(text, '->') > 0 THEN substr(text, instr(text, '->') + 2) ELSE '' END,
           '\\b[A-Z][A-Za-z0-9]*\\b', 0)) AS name FROM t)
SELECT 'candidate' AS kind, c.turn_idx AS turn_id, c.name AS name, e.entity_type AS info
FROM cands c JOIN ents e ON e.canonical_name = c.name
UNION ALL
SELECT 'var_def', d_turn, vname, d_conv FROM fv
UNION ALL
SELECT DISTINCT 'var_use', u.turn_idx, u.vname, v.d_conv
FROM vu u JOIN fv v ON v.vname = u.vname
LEFT JOIN isec i ON i.conv_id = u.conv_id
WHERE u.conv_id = v.d_conv
   OR (i.ibody IS NOT NULL AND contains(i.ibody, u.vname))
   OR substring(u.conv_id, 1, {BUCKET_LEN}) = v.vbucket
UNION ALL
SELECT 'return_type', turn_idx, dmk, 'Datamodel' FROM (
  SELECT DISTINCT r.conv_id, r.turn_idx, {dm_key} AS dmk
  FROM reti r JOIN ents e ON e.entity_type = 'Datamodel' AND e.canonical_name = r.name)"""
