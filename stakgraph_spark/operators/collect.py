"""Per-turn collection rules — Class/Var/Datamodel candidates mined
from turn TEXT, plus the tiered var-usage and return-type link
families — and their parity check.

The rules are applied by the build's per-turn fact table
(materialize.turn_facts: typed candidates `cands`, var declarations
`vnames` and uses `vuses`, return-type Datamodels `dm_keys`;
global_picks' bucket-first var definitions; linked_refs' tier
cascade). This module holds the rules' constants, the planted turns
that exercise every rule, and collect_oracle_sql, the independent
DuckDB rendering the kg_collect query is gated against.

Reference analogs:
  * collect_classes / get_vars / get_query_opt collect entities from
    each file's text independently of any dictionary
    (ast/src/lang/parse/collect.rs:40-59; lang/mod.rs:204-211) — the
    extraction itself needs no pre-registered entity list; typing
    (exact, case-sensitive canonical-name match) comes after;
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
"""

from __future__ import annotations

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


# ---------------------------------------------------------------------------
# Planted parity dims — one literal turn set exercising every collect
# rule with non-empty results (the corpus itself produces no
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
