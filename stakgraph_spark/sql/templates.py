"""DuckDB-oracle SQL rendering of the KG pipeline.

The correctness gate (driver CORRECTNESS_r{N}.json) runs each Spark
query side-by-side with an ANSI-SQL oracle in DuckDB. This module
renders the ENTIRE pipeline — transcript derivation, extraction,
tiered entity linking, connected-component canonicalization
(recursive CTE), node/edge materialization — as one WITH-RECURSIVE
prelude over the pre-registered `events` view, so every stage is
independently checkable. This is a deliberate second implementation
(differential testing, the analog of the reference's
ArrayGraph-vs-BTreeMapGraph comparison,
ast/src/testing/graphs/compare_graphs.rs:79-102).

Semantics mirrored from the reference:
  * node_key recipe — ast/src/utils.rs:67-90,143-149
  * tiered resolution (global-unique > mock-excluded-unique >
    same-conversation > deterministic fallback) — call_finder.rs:20-63
  * path-normalized request->endpoint linking — linker.rs:129-266
  * shared-test-id linking — linker.rs:56-127
  * edge identity/dedup (src, dst, type) — array_graph.rs:775-781
"""

from __future__ import annotations

from ..functions.keys import node_key_sql, sanitize_sql
from ..sources import entities as E

D = "duckdb"


def _ev0_sql() -> str:
    """Per-event deterministic picks. The turn_idx window partitions
    by conv_id (not user_id — same grouping, conv_id is a bijection
    of user_id) so the derived table comes out of its ONE shuffle
    hash-partitioned by conv_id; every downstream group-by / join /
    dedup keys on a conv_id-prefixed set and therefore reuses that
    partitioning shuffle-free (Spark: HashPartitioning(conv_id)
    satisfies ClusteredDistribution(conv_id, ...))."""
    return f"""
SELECT event_id, user_id, event_type, ts, conv_id,
  CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id) AS INT) - 1 AS turn_idx,
  CASE WHEN event_type IN ('click','view') THEN 'user'
       WHEN event_type = 'signup' THEN 'system'
       WHEN event_type = 'error' THEN 'tool'
       ELSE 'assistant' END AS role,
  CASE WHEN event_id % 5 < 2 THEN 0 ELSE CAST((event_id % 997) % {E.N_MENTIONABLE} AS INT) END AS ent_idx,
  CAST((event_id % 9) % 3 AS INT) AS alias_idx,
  CAST((event_id % 13) % {E.N_MENTIONABLE} AS INT) AS ent2_idx,
  CAST(event_id % 50 AS INT) AS tid,
  CAST(event_id % 1000 AS INT) AS resid,
  CAST(100 + event_id % 5 AS INT) AS ep_id,
  CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'search' WHEN 1 THEN 'fetch' ELSE 'calc' END AS toolname
FROM (SELECT *, 'conv_' || lpad(CAST(user_id AS STRING), 6, '0') AS conv_id FROM events)"""


def _transcripts_sql() -> str:
    return """
SELECT e.conv_id AS conv_id,
  e.turn_idx AS turn_idx,
  e.role AS role,
  CASE e.role
    WHEN 'user' THEN 'u' || CAST(e.event_id AS STRING) || ' please check @' || a1.alias
      || CASE WHEN e.event_id % 4 = 0 THEN ' and @' || a2.alias ELSE '' END
      || CASE WHEN e.event_id % 17 = 0 THEN ' cf @AuthCore' ELSE '' END
      || ' thanks'
    WHEN 'system' THEN 'sys ' || CAST(e.event_id AS STRING) || ' defines test_' || CAST(e.tid AS STRING)
    WHEN 'tool' THEN 'tool:' || e.toolname || '(q="@' || a1.alias || '") -> ok T' || CAST(e.tid AS STRING)
    ELSE 'a' || CAST(e.event_id AS STRING) || ' used @' || a1.alias || ' via ' || ep.verb
      || ' /api/' || ep.seg || '/' || CAST(e.resid AS STRING) || ' ref test_' || CAST(e.tid AS STRING)
  END AS text,
  CASE WHEN e.role = 'tool' THEN e.toolname ELSE '' END AS tool,
  e.ts AS ts
FROM ev0 e
JOIN als a1 ON a1.entity_id = e.ent_idx AND a1.alias_idx = e.alias_idx
JOIN als a2 ON a2.entity_id = e.ent2_idx AND a2.alias_idx = 0
JOIN eps ep ON ep.entity_id = e.ep_id"""


# node_key expressions (duckdb dialect)
REPO_KEY = "'repository-corpus-corpus-0'"


def _conv_key(conv: str) -> str:
    return node_key_sql("'File'", conv, f"'corpus/' || {conv}", "0", D)


def _turn_key(conv: str, turn: str) -> str:
    return node_key_sql("'Function'", f"'turn_' || CAST({turn} AS STRING)", f"'corpus/' || {conv}", turn, D)


def _ent_key(typ: str, name: str, eid: str) -> str:
    return node_key_sql(typ, name, "'entities'", eid, D)


def _lang_key(role: str) -> str:
    return node_key_sql("'Language'", role, "'corpus'", "0", D)


def _dir_key(bucket: str) -> str:
    return node_key_sql("'Directory'", bucket, f"'corpus/' || {bucket}", "0", D)


def _import_key(conv: str, start: str) -> str:
    return node_key_sql("'Import'", "'imports'", f"'corpus/' || {conv}", start, D)


_TEST_TYPE = (
    "CASE CAST({tid} AS INT) % 3 WHEN 0 THEN 'UnitTest' "
    "WHEN 1 THEN 'IntegrationTest' ELSE 'E2etest' END"
)
_TEST_KIND = (
    "CASE CAST({tid} AS INT) % 3 WHEN 0 THEN 'unit' "
    "WHEN 1 THEN 'integration' ELSE 'e2e' END"
)


def _test_key(tid: str, conv: str, turn: str) -> str:
    return node_key_sql(
        _TEST_TYPE.format(tid=tid), f"'test_' || {tid}", f"'corpus/' || {conv}", turn, D
    )


def _request_key(conv: str, turn: str, path: str = "path", verb: str = "verb") -> str:
    return node_key_sql(
        "'Request'", path, f"'corpus/' || {conv}", turn, D, verb=verb
    )


_BUCKET = "substring(conv_id, 1, 9)"
_NULL_S = "CAST(NULL AS STRING)"


def _ep_match(req_norm: str) -> str:
    """The engine's GENERAL request->endpoint match (the endpoint
    filter in materialize.turn_facts): verb and segment-count
    equality + segment-wise paths_match of the normalized request
    path against the endpoint's template path — not exact string
    equality, so a corpus where a concrete segment aligns with an
    endpoint :param (or one endpoint matches two norm_paths) keeps
    engine/oracle parity (round-3 ADVICE #1)."""
    from ..functions.paths import paths_match_sql

    return paths_match_sql(req_norm, "('/api/' || ep.seg || '/:param')", D)


def transcripts_query(
    events_table: str = "events",
    aliases_table: str | None = None,
    endpoints_table: str | None = None,
) -> str:
    """The full transcript-derivation SELECT — a PORTABLE SQL subset
    (no regex, no unnest) that parses identically in Spark SQL and
    DuckDB. The engine executes this exact string via spark.sql()
    (sources/transcripts.py), the oracle embeds the same fragments —
    so the derived input is equal by construction, and the engine
    pays ONE py4j call instead of hundreds (the sandbox bridge costs
    ~6ms per Column op; an expression-heavy DataFrame build burns
    seconds of pure driver latency).

    aliases_table/endpoints_table: when given, the dims are read from
    those (temp-view) names instead of inline UNION-ALL literal CTEs.
    Spark's analyzer pays ~100ms per literal UNION branch, so the
    engine passes views over LocalRelations; the DuckDB oracle keeps
    the self-contained inline literals.
    """
    ev0 = _ev0_sql().replace("FROM events", f"FROM {events_table}")
    als = aliases_table if aliases_table else f"({E.aliases_cte()})"
    eps = endpoints_table if endpoints_table else f"({E.endpoints_cte()})"
    return f"""WITH
als AS (SELECT * FROM {als}),
eps AS (SELECT * FROM {eps}),
ev0 AS ({ev0})
{_transcripts_sql()}"""


def prelude() -> str:
    """The full WITH RECURSIVE chain; append `SELECT ... FROM <cte>`."""
    from ..functions.paths import normalize_backend_path_sql

    norm_path = normalize_backend_path_sql(
        "regexp_replace(path, '/[0-9]+', '/:param', 'g')", D
    )
    return f"""WITH RECURSIVE
ents AS ({E.entities_cte()}),
als AS ({E.aliases_cte()}),
tls AS ({E.tools_cte()}),
eps AS ({E.endpoints_cte()}),
sa AS ({E.same_as_cte()}),
inst AS ({E.instances_cte()}),
po AS ({E.parent_of_cte()}),
ci AS ({E.class_imports_cte()}),
ops AS ({E.operand_cte()}),
impl AS ({E.implements_cte()}),
ev0 AS ({_ev0_sql()}),
transcripts AS ({_transcripts_sql()}),
mentions AS (
  SELECT DISTINCT conv_id, turn_idx, m AS surface
  FROM (SELECT conv_id, turn_idx, unnest(regexp_extract_all(text, '@([A-Za-z0-9_.-]+)', 1)) AS m
        FROM transcripts)
),
tool_calls AS (
  SELECT conv_id, turn_idx, unnest(regexp_extract_all(text, 'tool:([a-z]+)\\(', 1)) AS toolname
  FROM transcripts
),
requests AS (
  SELECT conv_id, turn_idx, verb, path, {norm_path} AS norm_path
  FROM (SELECT conv_id, turn_idx,
               split_part(m, ' ', 1) AS verb, split_part(m, ' ', 2) AS path
        FROM (SELECT conv_id, turn_idx,
                     unnest(regexp_extract_all(text, '(GET|POST|PUT|DELETE) (/[A-Za-z0-9_/.:-]+)', 0)) AS m
              FROM transcripts))
),
testrefs AS (
  SELECT conv_id, turn_idx, unnest(regexp_extract_all(text, 'ref test_([0-9]+)', 1)) AS tid
  FROM transcripts
),
testdefs AS (
  SELECT conv_id, turn_idx, text, unnest(regexp_extract_all(text, 'defines test_([0-9]+)', 1)) AS tid
  FROM transcripts
),
cands AS (
  SELECT DISTINCT conv_id, turn_idx,
         unnest(regexp_extract_all(text, '\\b[A-Z][a-z0-9]+[A-Z][A-Za-z0-9]*\\b', 0)) AS name
  FROM transcripts
),
vdefs AS (
  SELECT conv_id, turn_idx,
         'q_' || unnest(regexp_extract_all(text, 'tool:([a-z]+)\\(q=', 1)) AS vname
  FROM transcripts
),
first_var AS (
  SELECT vname, conv_id AS d_conv, turn_idx AS d_turn,
         substring(conv_id, 1, 9) AS vbucket FROM (
    SELECT vname, conv_id, turn_idx,
           row_number() OVER (PARTITION BY substring(conv_id, 1, 9), vname
                              ORDER BY conv_id, turn_idx) AS rk
    FROM vdefs) WHERE rk = 1
),
vuses AS (SELECT DISTINCT conv_id, turn_idx, vname FROM vdefs),
retidents AS (
  SELECT conv_id, turn_idx,
         unnest(regexp_extract_all(
           CASE WHEN instr(text, '->') > 0 THEN substr(text, instr(text, '->') + 2) ELSE '' END,
           '\\b[A-Z][A-Za-z0-9]*\\b', 0)) AS name
  FROM transcripts
),
first_def AS (
  SELECT tid, conv_id AS d_conv, turn_idx AS d_turn, text AS d_text FROM (
    SELECT tid, conv_id, turn_idx, text,
           row_number() OVER (PARTITION BY tid ORDER BY conv_id, turn_idx) AS rk
    FROM testdefs) WHERE rk = 1
),
files AS (
  SELECT conv_id, CAST(max(turn_idx) AS INT) AS fend,
         string_agg(text, chr(10) ORDER BY turn_idx) AS raw_body
  FROM transcripts GROUP BY conv_id
),
importsecs AS (
  SELECT conv_id, CAST(min(turn_idx) AS INT) AS istart, CAST(max(turn_idx) AS INT) AS iend,
         string_agg(text, chr(10) ORDER BY turn_idx) AS ibody
  FROM transcripts WHERE role = 'system' GROUP BY conv_id
),
turnsx AS (
  SELECT conv_id, turn_idx, role, text, tool,
         last_value(CASE WHEN role = 'system' THEN text END IGNORE NULLS) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS docs
  FROM transcripts
),
dct AS (
  SELECT DISTINCT a.alias, a.entity_id, e.canonical_name, e.entity_type,
         CASE WHEN lower(e.canonical_name) LIKE '%mock%' THEN 1 ELSE 0 END AS is_mock
  FROM als a JOIN ents e ON e.entity_id = a.entity_id
),
alias_stats AS (
  SELECT alias, CAST(count(*) AS INT) AS n_all,
         CAST(sum(1 - is_mock) AS INT) AS n_nonmock
  FROM dct GROUP BY alias
),
cand AS (
  SELECT m.conv_id, m.turn_idx, m.surface, d.entity_id, d.is_mock,
         s.n_all, s.n_nonmock
  FROM mentions m
  JOIN dct d ON d.alias = m.surface
  JOIN alias_stats s ON s.alias = m.surface
),
unamb AS (
  SELECT DISTINCT conv_id, entity_id FROM cand
  WHERE n_all = 1 OR (n_nonmock = 1 AND is_mock = 0)
),
scored AS (
  SELECT c.conv_id, c.turn_idx, c.surface, c.entity_id,
         CASE WHEN c.n_all = 1 THEN 3
              WHEN c.n_nonmock = 1 AND c.is_mock = 0 THEN 3
              WHEN u.entity_id IS NOT NULL THEN 2
              ELSE 1 END AS score
  FROM cand c
  LEFT JOIN unamb u ON u.conv_id = c.conv_id AND u.entity_id = c.entity_id
),
resolved AS (
  SELECT conv_id, turn_idx, surface, entity_id, score FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY conv_id, turn_idx, surface
      ORDER BY score DESC, entity_id ASC) AS rk
    FROM scored s) WHERE rk = 1
),
allents AS (
  SELECT entity_id, canonical_name, entity_type FROM ents
  UNION ALL SELECT entity_id, canonical_name, entity_type FROM tls
  UNION ALL SELECT entity_id, canonical_name, 'Endpoint' AS entity_type FROM eps
),
sym AS (SELECT a, b FROM sa UNION ALL SELECT b AS a, a AS b FROM sa),
reach AS (
  SELECT entity_id AS src, entity_id AS dst FROM allents
  UNION
  SELECT r.src, s.b AS dst FROM reach r JOIN sym s ON s.a = r.dst
),
canon AS (
  SELECT src AS entity_id, CAST(MIN(dst) AS INT) AS canon_id
  FROM reach GROUP BY src
),
ent_nodes AS (
  SELECT {_ent_key('e.entity_type', 'e.canonical_name', 'e.entity_id')} ||
         CASE WHEN e.entity_type = 'Endpoint'
              THEN '-' || {sanitize_sql('ep.verb', D)} ELSE '' END AS node_key,
         e.entity_type AS node_type, e.canonical_name AS name,
         'entities' AS file, e.entity_id AS start, c.canon_id AS canon_id,
         {_NULL_S} AS data_type,
         CASE WHEN e.entity_type = 'Endpoint' THEN 'verb=' || ep.verb ELSE '' END AS meta
  FROM allents e JOIN canon c ON c.entity_id = e.entity_id
  LEFT JOIN eps ep ON ep.entity_id = e.entity_id
),
inst_nodes AS (
  SELECT {node_key_sql("'Instance'", 'alias', "'entities'", 'line', D)} AS node_key,
         'Instance' AS node_type, alias AS name, 'entities' AS file,
         line AS start, entity_id, class_name
  FROM inst
),
nodes AS (
  SELECT 'repository-corpus-corpus-0' AS node_key, 'Repository' AS node_type,
         'corpus' AS name, 'corpus' AS file, 0 AS start, 0 AS "end",
         '' AS body, {_NULL_S} AS docs, {_NULL_S} AS hash,
         {_NULL_S} AS data_type, '' AS meta
  UNION ALL
  SELECT {_lang_key('role')}, 'Language', role, 'corpus', 0, 0,
         '', {_NULL_S}, {_NULL_S}, {_NULL_S}, 'parent=corpus'
  FROM (SELECT DISTINCT role FROM transcripts)
  UNION ALL
  SELECT {_dir_key('bucket')}, 'Directory', bucket, 'corpus/' || bucket, 0, 0,
         '', {_NULL_S}, {_NULL_S}, {_NULL_S}, 'parent=corpus'
  FROM (SELECT DISTINCT {_BUCKET} AS bucket FROM transcripts)
  UNION ALL
  SELECT {_conv_key('conv_id')}, 'File', conv_id, 'corpus/' || conv_id, 0, fend,
         fbody, {_NULL_S}, md5(fbody), {_NULL_S}, 'parent=' || {_BUCKET}
  FROM (SELECT conv_id, fend,
               CASE WHEN length(raw_body) > 500000 THEN '' ELSE raw_body END AS fbody
        FROM files)
  UNION ALL
  SELECT {_import_key('conv_id', 'istart')}, 'Import', 'imports', 'corpus/' || conv_id,
         istart, iend, ibody, {_NULL_S}, md5(ibody), {_NULL_S}, 'parent=' || conv_id
  FROM importsecs
  UNION ALL
  SELECT {_turn_key('conv_id', 'turn_idx')}, 'Function',
         'turn_' || CAST(turn_idx AS STRING), 'corpus/' || conv_id,
         turn_idx, turn_idx, text, docs, md5(text), {_NULL_S},
         'parent=' || conv_id || ';role=' || role ||
         CASE WHEN tool != '' THEN ';tool=' || tool ELSE '' END
  FROM turnsx
  UNION ALL
  SELECT {_test_key('tid', 'd_conv', 'd_turn')}, {_TEST_TYPE.format(tid='tid')},
         'test_' || tid, 'corpus/' || d_conv, d_turn, d_turn,
         d_text, {_NULL_S}, md5(d_text), {_NULL_S},
         'parent=' || d_conv || ';test_kind=' || {_TEST_KIND.format(tid='tid')}
  FROM first_def
  UNION ALL
  SELECT {_request_key('conv_id', 'turn_idx')}, 'Request', path, 'corpus/' || conv_id,
         turn_idx, turn_idx, verb || ' ' || path, {_NULL_S}, md5(verb || ' ' || path),
         {_NULL_S}, 'parent=turn_' || CAST(turn_idx AS STRING) || ';verb=' || verb
  FROM (SELECT DISTINCT conv_id, turn_idx, verb, path FROM requests)
  UNION ALL
  SELECT node_key, node_type, name, file, start, start,
         '', {_NULL_S}, {_NULL_S}, data_type, meta
  FROM ent_nodes
  UNION ALL
  SELECT node_key, node_type, name, file, start, start,
         '', {_NULL_S}, {_NULL_S}, class_name, ''
  FROM inst_nodes
  UNION ALL
  SELECT {node_key_sql("'Var'", 'vname', "'corpus/' || d_conv", 'd_turn', D)}, 'Var',
         vname, 'corpus/' || d_conv, d_turn, d_turn,
         '', {_NULL_S}, {_NULL_S}, {_NULL_S}, 'parent=' || d_conv
  FROM first_var
),
edges_raw AS (
  SELECT 'CONTAINS' AS edge_type, {REPO_KEY} AS source_key,
         {_lang_key('role')} AS target_key
  FROM (SELECT DISTINCT role FROM transcripts)
  UNION ALL
  SELECT 'CONTAINS', {REPO_KEY}, {_dir_key('bucket')}
  FROM (SELECT DISTINCT {_BUCKET} AS bucket FROM transcripts)
  UNION ALL
  SELECT 'CONTAINS', {_dir_key('bucket')}, {_conv_key('conv_id')}
  FROM (SELECT DISTINCT conv_id, {_BUCKET} AS bucket FROM transcripts)
  UNION ALL
  SELECT 'CONTAINS', {_conv_key('conv_id')}, {_turn_key('conv_id', 'turn_idx')}
  FROM transcripts
  UNION ALL
  SELECT 'CONTAINS', {_conv_key('conv_id')}, {_import_key('conv_id', 'istart')}
  FROM importsecs
  UNION ALL
  SELECT 'CONTAINS', {_conv_key('d_conv')}, {_test_key('tid', 'd_conv', 'd_turn')}
  FROM first_def
  UNION ALL
  SELECT 'CONTAINS', {_turn_key('conv_id', 'turn_idx')}, {_request_key('conv_id', 'turn_idx')}
  FROM requests
  UNION ALL
  SELECT 'USES', {_turn_key('r.conv_id', 'r.turn_idx')}, en.node_key
  FROM resolved r
  JOIN canon c ON c.entity_id = r.entity_id
  JOIN ent_nodes en ON en.start = c.canon_id
  UNION ALL
  SELECT 'USES', {_turn_key('cd.conv_id', 'cd.turn_idx')}, en.node_key
  FROM cands cd
  JOIN ents e ON e.canonical_name = cd.name
  JOIN canon c ON c.entity_id = e.entity_id
  JOIN ent_nodes en ON en.start = c.canon_id
  UNION ALL
  SELECT 'CONTAINS', {_conv_key('d_conv')},
         {node_key_sql("'Var'", 'vname', "'corpus/' || d_conv", 'd_turn', D)}
  FROM first_var
  UNION ALL
  SELECT 'CONTAINS', {_turn_key('u.conv_id', 'u.turn_idx')},
         {node_key_sql("'Var'", 'v.vname', "'corpus/' || v.d_conv", 'v.d_turn', D)}
  FROM vuses u
  JOIN first_var v ON v.vname = u.vname
  LEFT JOIN importsecs i ON i.conv_id = u.conv_id
  WHERE u.conv_id = v.d_conv
     OR (i.ibody IS NOT NULL AND contains(i.ibody, u.vname))
     OR substring(u.conv_id, 1, 9) = v.vbucket
  UNION ALL
  SELECT 'CONTAINS', {_turn_key('r.conv_id', 'r.turn_idx')}, en.node_key
  FROM resolved r
  JOIN ent_nodes en ON en.start = r.entity_id AND en.node_type = 'Var'
  WHERE EXISTS (SELECT 1 FROM resolved r0
                WHERE r0.conv_id = r.conv_id AND r0.turn_idx = 0
                  AND r0.entity_id = r.entity_id)
  UNION ALL
  SELECT 'CONTAINS', {_turn_key('ri.conv_id', 'ri.turn_idx')}, en.node_key
  FROM retidents ri
  JOIN ent_nodes en ON en.node_type = 'Datamodel' AND en.name = ri.name
  UNION ALL
  SELECT 'CALLS', {_turn_key('tc.conv_id', 'tc.turn_idx')}, en.node_key
  FROM tool_calls tc
  JOIN tls t ON t.canonical_name = tc.toolname
  JOIN ent_nodes en ON en.start = t.entity_id
  UNION ALL
  SELECT 'CALLS', {_request_key('r.conv_id', 'r.turn_idx', 'r.path', 'r.verb')}, en.node_key
  FROM (SELECT conv_id, turn_idx, verb, path, norm_path FROM requests) r
  JOIN eps ep ON ep.verb = r.verb
    AND {_ep_match("r.norm_path")}
  JOIN ent_nodes en ON en.start = ep.entity_id
  UNION ALL
  SELECT 'CALLS', {_test_key('td.tid', 'td.d_conv', 'td.d_turn')}, {_turn_key('tr.conv_id', 'tr.turn_idx')}
  FROM testrefs tr JOIN first_def td ON td.tid = tr.tid
  UNION ALL
  SELECT 'HANDLER', en.node_key, {_turn_key('fr.conv_id', 'fr.turn_idx')}
  FROM (SELECT entity_id, conv_id, turn_idx FROM (
          SELECT ep.entity_id, r.conv_id, r.turn_idx,
                 row_number() OVER (PARTITION BY ep.entity_id ORDER BY r.conv_id, r.turn_idx) AS rk
          FROM requests r
          JOIN eps ep ON ep.verb = r.verb AND {_ep_match("r.norm_path")}
        ) WHERE rk = 1) fr
  JOIN ent_nodes en ON en.start = fr.entity_id
  UNION ALL
  SELECT 'OF', en.node_key, ec.node_key
  FROM ent_nodes en JOIN ent_nodes ec ON ec.start = en.canon_id
  WHERE en.canon_id <> en.start
  UNION ALL
  SELECT 'OF', i.node_key, en.node_key
  FROM inst_nodes i JOIN ent_nodes en ON en.start = i.entity_id
  UNION ALL
  SELECT 'ARG_OF', {_turn_key('r.conv_id', 'r.turn_idx')}, en.node_key
  FROM resolved r
  JOIN transcripts t ON t.conv_id = r.conv_id AND t.turn_idx = r.turn_idx AND t.tool != ''
  JOIN ent_nodes en ON en.start = r.entity_id
  UNION ALL
  SELECT DISTINCT 'IMPORTS', {_conv_key('r.conv_id')}, en.node_key
  FROM resolved r JOIN ent_nodes en ON en.start = r.entity_id
  WHERE r.turn_idx = 0
  UNION ALL
  SELECT 'INCLUDES', en.node_key, {_turn_key('r.conv_id', 'r.turn_idx')}
  FROM resolved r JOIN ent_nodes en ON en.start = r.entity_id AND en.node_type = 'Feature'
  UNION ALL
  SELECT 'RENDERS', en.node_key, {_turn_key('r.conv_id', 'r.turn_idx')}
  FROM resolved r JOIN ent_nodes en ON en.start = r.entity_id AND en.node_type = 'Page'
  UNION ALL
  SELECT 'PARENT_OF', s.node_key, d.node_key
  FROM po JOIN ent_nodes s ON s.start = po.src_id JOIN ent_nodes d ON d.start = po.dst_id
  UNION ALL
  SELECT 'IMPORTS', s.node_key, d.node_key
  FROM ci JOIN ent_nodes s ON s.start = ci.src_id JOIN ent_nodes d ON d.start = ci.dst_id
  UNION ALL
  SELECT 'OPERAND', s.node_key, d.node_key
  FROM ops JOIN ent_nodes s ON s.start = ops.src_id JOIN ent_nodes d ON d.start = ops.dst_id
  UNION ALL
  SELECT 'IMPLEMENTS', s.node_key, d.node_key
  FROM impl JOIN ent_nodes s ON s.start = impl.src_id JOIN ent_nodes d ON d.start = impl.dst_id
),
edges AS (SELECT DISTINCT edge_type, source_key, target_key FROM edges_raw),
triples AS (SELECT source_key AS subj, edge_type AS pred, target_key AS obj FROM edges)
"""


def q(select: str, extra_ctes: str = "") -> str:
    """Compose a full oracle query: prelude [+ extra CTEs] + SELECT."""
    return prelude() + extra_ctes + "\n" + select


def subtree_sql(root_key: str, depth: int, edge_type: str = "CONTAINS") -> str:
    """Depth-bounded BFS oracle: recursive walk + min-depth rollup
    (matches queryops.subtree's first-reach depth)."""
    extra = f""",
wedge AS MATERIALIZED (
  -- MATERIALIZED: DuckDB inlines CTEs by default, and a recursive
  -- CTE re-executes its joined relations EVERY iteration — without
  -- this each walk step re-derives the full edges pipeline
  SELECT source_key, target_key FROM edges WHERE edge_type = '{edge_type}'
),
walk AS (
  SELECT '{root_key}' AS node_key, 0 AS depth
  UNION ALL
  SELECT e.target_key, w.depth + 1
  FROM walk w JOIN wedge e ON e.source_key = w.node_key
  WHERE w.depth < {depth}
)"""
    return q("SELECT node_key, CAST(MIN(depth) AS INT) AS depth FROM walk GROUP BY node_key", extra)


def subtree_path_sql(
    root_key: str,
    depth: int,
    edge_type: str,
    from_key: str,
    to_key: str,
    max_depth: int,
    path_edge_types: tuple[str, ...],
) -> str:
    """Tagged union of the subtree BFS (as subtree_sql) and an
    undirected min-parent shortest path (queryops.shortest_path's
    deterministic-parent BFS, queries.ts:519-548): enumerate bounded
    walks, roll up to min depth per node, keep only parents whose own
    min depth is exactly one less (the Spark frontier set), pick
    min(parent), then reconstruct the parent chain from `to_key` and
    re-index steps from the `from_key` side."""
    types = ", ".join(f"'{t}'" for t in path_edge_types)
    extra = f""",
wedge AS MATERIALIZED (
  -- MATERIALIZED for the same reason as psym below: the recursive
  -- walk re-executes its joined relation every iteration
  SELECT source_key, target_key FROM edges WHERE edge_type = '{edge_type}'
),
walk AS (
  SELECT '{root_key}' AS node_key, 0 AS depth
  UNION ALL
  SELECT e.target_key, w.depth + 1
  FROM walk w JOIN wedge e ON e.source_key = w.node_key
  WHERE w.depth < {depth}
),
psym AS MATERIALIZED (
  -- MATERIALIZED: DuckDB inlines CTEs by default, so without it each
  -- recursion step of plevels re-derives the full edges pipeline
  SELECT DISTINCT source_key AS src, target_key AS dst FROM edges WHERE edge_type IN ({types})
  UNION
  SELECT DISTINCT target_key AS src, source_key AS dst FROM edges WHERE edge_type IN ({types})
),
plevels AS (
  -- recursion carries DISTINCT (node, depth) pairs only: carrying
  -- the parent in the row multiplies the working set by in-degree
  -- and the undirected ping-pong re-enumerates it at every depth
  -- parity — at sf0.1 that recursion ran >30 min; this one is
  -- bounded by N x max_depth
  SELECT '{from_key}' AS node_key, 0 AS depth
  UNION
  SELECT s.dst, l.depth + 1
  FROM plevels l JOIN psym s ON s.src = l.node_key
  WHERE l.depth < {max_depth}
),
pmind AS (SELECT node_key, MIN(depth) AS d FROM plevels GROUP BY node_key),
ppar AS (
  -- min parent per node among neighbors whose own min depth is
  -- exactly one less (the Spark frontier set) — same set as
  -- enumerating (node, depth, parent) inside the recursion, one
  -- equi-join instead
  SELECT c.node_key, MIN(p.node_key) AS parent
  FROM pmind c
  JOIN psym s ON s.dst = c.node_key
  JOIN pmind p ON p.node_key = s.src AND p.d = c.d - 1
  GROUP BY c.node_key
),
ppathr AS (
  SELECT node_key, 0 AS step FROM (SELECT '{to_key}' AS node_key) t
  WHERE EXISTS (SELECT 1 FROM pmind WHERE node_key = '{to_key}')
  UNION ALL
  SELECT p.parent, r.step + 1 FROM ppathr r JOIN ppar p ON p.node_key = r.node_key
)"""
    return q(
        "SELECT 'subtree' AS kind, node_key, CAST(MIN(depth) AS INT) AS depth"
        " FROM walk GROUP BY node_key"
        " UNION ALL"
        " SELECT 'path', r.node_key, CAST(mx.m - r.step AS INT)"
        " FROM ppathr r, (SELECT MAX(step) AS m FROM ppathr) mx",
        extra,
    )
