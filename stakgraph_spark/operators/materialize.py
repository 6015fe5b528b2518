"""Typed node/edge materialization (the graph tables).

Produces the two output tables mirroring the reference schema
(SURVEY.md §1.3; NodeData ast/src/lang/asg.rs:66-82) with the FULL
payload:

  nodes(node_key, node_type, name, file, start, end, body, docs,
        hash, data_type, meta)
  edges(edge_type, source_key, target_key)

`meta` is the reference's open string->string map serialized as a
canonical sorted 'k=v;k=v' string — the reference itself flattens
meta at serialization time (asg.rs:84-120) and in the Neo4j mapping
(asg.rs:325-349), so flat-at-rest matches the on-wire format.

Identity follows the reference exactly: node_key recipe
(utils.rs:67-90, verb arm utils.rs:83-88), edge dedup on
(src, dst, type) (array_graph.rs:775-781) — the reference's bulk
edge write is CREATE not MERGE (neo4j_utils.rs:169-175), so dedup
MUST happen here.

Plan shape. Everything read from turn text comes out of ONE per-turn
fact table (`turn_facts`), computed in a single pass over
`transcripts`: the regex extractions, the tiered mention resolution
(link.resolve_sql, evaluated with the conversation-level evidence
from one window over conv_id), request normalization, and the tool,
test-ref, var-use and return-type lookups. The static dictionary
(entity keys, canonical map, alias candidates, tool/Datamodel names,
endpoint templates) enters as SQL map/array literals evaluated inside
the projections, so no dictionary join, broadcast or LocalTableScan
remains on the turn path. The query surface (mentions, resolved
mentions, requests, the kg_collect rows) is a projection of the same
table.

  local_edges    the 13 bucket-local families: one explode of an
                 array<struct<edge_type, source_key, target_key>> per
                 turn, deduped once on (conv_id, edge) — map-side
                 under the conv_id partitioning, no shuffle.
  global_picks   the cross-conversation picks (role and bucket
                 strata, bucket-first var definitions, first/last
                 request per endpoint) as ONE aggregate.
  linked_refs    the per-turn test refs and var uses joined to
                 first_def and the var picks (one broadcast).
  global_edges   families of the picks, first_def and linked_refs,
                 plus the static dictionary edges.

Request -> endpoint matching (`_eps_sql`) runs only where an edge
family reads it: CALLS Request -> Endpoint and the endpoint picks of
HANDLER.

Nodes use the same split: local_nodes (conversation rollups, turns,
requests) and global_nodes (picks, first_def, static dictionary).

Node vocabulary — all 19 reference NodeTypes (mod.rs:27-50):
  Repository corpus root          Language   role stratum (repo.rs:215-300 analog)
  Directory  conversation bucket  File       conversation
  Import     per-conv system-turn rollup (combine_import_sections,
             builder/utils.rs:39-87)
  Function   turn                 Library    tool
  Class/Trait/Datamodel/Feature/Page/Var  dictionary entities
  Instance   alias row of a Class entity (collect.rs:22-23)
  UnitTest/IntegrationTest/E2etest  planted test ids, classified
             tid%3 (classify_test analog, queries/mod.rs:183)
  Endpoint   dictionary           Request    request occurrence
             (format.rs requests-within-functions)

Edge vocabulary — all 12 reference EdgeTypes (mod.rs:71-88):
  CONTAINS  repo->lang/dir, dir->conv, conv->turn/import/test,
            turn->request (builder scaffold, core.rs:46-90);
            conv->extracted Var (get_vars scaffold); turn Function->
            Var under the same-file/imported/same-dir tier cascade
            (format.rs:561-617, linked_refs); turn Function
            -> Datamodel from return-section type identifiers
            (format.rs:621-644)
  USES      turn -> canonical entity (linked mention, plus per-turn
            CamelCase candidates typed by exact canonical name —
            collect.rs:40-59)
  CALLS     turn -> tool Library; Request -> Endpoint
            (link_api_nodes, linker.rs:129-163); Test -> referencing
            turn (shared-test-id link, linker.rs:56-127)
  HANDLER   endpoint -> first referencing turn (handler_finder
            analog, queries/mod.rs:208-223)
  OF        Instance -> Class (mod.rs:168-174); alias-member entity
            -> canonical entity (canonicalization collapse)
  OPERAND   Class/Trait -> Function entity (mod.rs:197-203, planted)
  ARG_OF    tool turn (Function) -> entity passed as the tool-call
            argument (mod.rs:78 Function->Arg)
  IMPORTS   conv File -> entities mentioned in turn 0 (top-of-file
            import section analog, file_imports mod.rs:218-224);
            Class -> Class planted includes (array_graph.rs:247-266)
  INCLUDES  Feature -> turn mentioning it (mod.rs:83 Feature->any)
  RENDERS   Page -> turn mentioning it (mod.rs:182-195)
  PARENT_OF parent Class -> child Class (array_graph.rs:229-246)
  IMPLEMENTS Class -> Trait (collect.rs:60-81)
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import node_key_py, node_key_sql
from ..functions.paths import _pat, n_segments_sql, paths_match_sql
from ..sources import entities as E
from . import extract as X
from . import link as L
from .collect import CAMEL_RE, CAPIDENT_RE, RETURN_SECTION_SQL, VAR_PREFIX, VARDECL_RE

REPO_KEY = "repository-corpus-corpus-0"
MAX_FILE_SIZE = 500_000  # builder/utils.rs:9 — body dropped above, node kept
NULL_S = "CAST(NULL AS STRING)"


# Key expressions are built as SQL strings (one F.expr bridge call)
# rather than nested Column ops: the sandbox py4j bridge costs ~6ms
# per Column call, and node_key expands to ~16 nested calls.

def _conv_key_sql(conv: str) -> str:
    return node_key_sql("'File'", conv, f"'corpus/' || {conv}", "0", "spark")


def _turn_key_sql(conv: str, turn: str) -> str:
    return node_key_sql(
        "'Function'",
        f"'turn_' || CAST({turn} AS STRING)",
        f"'corpus/' || {conv}",
        turn,
        "spark",
    )


def _lang_key_sql(role: str) -> str:
    return node_key_sql("'Language'", role, "'corpus'", "0", "spark")


def _dir_key_sql(bucket: str) -> str:
    return node_key_sql("'Directory'", bucket, f"'corpus/' || {bucket}", "0", "spark")


def _import_key_sql(conv: str, start: str) -> str:
    return node_key_sql("'Import'", "'imports'", f"'corpus/' || {conv}", start, "spark")


TEST_TYPE_SQL = (
    "CASE CAST({tid} AS INT) % 3 WHEN 0 THEN 'UnitTest' "
    "WHEN 1 THEN 'IntegrationTest' ELSE 'E2etest' END"
)
TEST_KIND_SQL = (
    "CASE CAST({tid} AS INT) % 3 WHEN 0 THEN 'unit' "
    "WHEN 1 THEN 'integration' ELSE 'e2e' END"
)


def _test_type_expr(tid: str, pack: dict | None = None) -> str:
    """The build's classify_test (queries/mod.rs:183): the default
    transcriptish dialect classifies by tid%3; passing a dialect
    pack routes the SAME build through the pack's test_classes rules
    (dialects.classify_test_sql) over the test NAME instead — the
    trait-override-as-data path, live in the production pipeline."""
    if pack and pack.get("test_classes") is not None:
        from .dialects import classify_test_sql

        return classify_test_sql(pack, f"'test_' || {tid}", "spark")
    return TEST_TYPE_SQL.format(tid=tid)


def _test_kind_expr(tid: str, pack: dict | None = None) -> str:
    if pack and pack.get("test_classes") is not None:
        return (
            f"CASE {_test_type_expr(tid, pack)} WHEN 'UnitTest' THEN 'unit' "
            "WHEN 'IntegrationTest' THEN 'integration' ELSE 'e2e' END"
        )
    return TEST_KIND_SQL.format(tid=tid)


def _test_key_sql(tid: str, conv: str, turn: str, pack: dict | None = None) -> str:
    return node_key_sql(
        _test_type_expr(tid, pack),
        f"'test_' || {tid}",
        f"'corpus/' || {conv}",
        turn,
        "spark",
    )


def _request_key_sql(conv: str, turn: str, path: str = "path", verb: str = "verb") -> str:
    return node_key_sql(
        "'Request'", path, f"'corpus/' || {conv}", turn, "spark", verb=verb
    )


def _var_key_sql(vname: str, conv: str, turn: str) -> str:
    return node_key_sql("'Var'", vname, f"'corpus/' || {conv}", turn, "spark")


BUCKET_SQL = "substring(conv_id, 1, 9)"  # conversation bucket = 100-user directory


def all_entities(spark: SparkSession) -> DataFrame:
    """entities + tools + endpoints with their node types."""
    return (
        E.entities_df(spark)
        .unionByName(E.tools_df(spark))
        .unionByName(
            E.endpoints_df(spark).select(
                "entity_id", "canonical_name", F.lit("Endpoint").alias("entity_type")
            )
        )
    )


_STATIC_CACHE: dict = {}


def _canon_parent() -> dict[int, int]:
    """Driver-side union-find over the static SAME_AS pairs."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in E.SAME_AS:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {i: find(i) for i in range(0, 300)}


def _entity_rows() -> list[tuple]:
    """(node_key, node_type, name, file, start, canon_id, data_type, meta)
    for every dictionary entity."""
    find = _canon_parent()
    ep_verbs = {i: v for i, v, _ in E.ENDPOINTS}
    ents = (
        list(E.ENTITIES)
        + list(E.TOOLS)
        + [(i, E.endpoint_name(v, s), "Endpoint") for i, v, s in E.ENDPOINTS]
    )
    # Endpoint keys carry the verb as the 5th node_key arm: the
    # reference's create_node_key appends sanitize(verb) whenever the
    # node's meta carries one (utils.rs:83-88), and
    # process_endpoint_groups already rebuilds rewritten endpoint
    # keys WITH the verb — base keys must agree.
    return [
        (
            node_key_py(t, n, "entities", i, verb=ep_verbs.get(i) if t == "Endpoint" else None),
            t,
            n,
            "entities",
            i,
            find[i],
            None,
            f"verb={ep_verbs[i]}" if t == "Endpoint" else "",
        )
        for i, n, t in ents
    ]


def entity_nodes(spark: SparkSession) -> DataFrame:
    """(node_key, node_type, name, file, start, canon_id, data_type,
    meta) for every dictionary entity, with its canonical component.

    The dictionary is STATIC driver data (Python lists in
    sources/entities.py), so this is computed entirely on the driver
    — union-find over SAME_AS plus the node_key recipe — and handed
    to Spark as one VALUES relation. The distributed canonical_map
    operator exists for dictionaries that are themselves tables (and
    is exercised by tests); routing 28 static rows through it costs
    seconds of task-scheduling per session for no data.
    """
    return _local_relation(
        spark, "ents", _entity_rows(),
        "node_key STRING, node_type STRING, name STRING, file STRING, "
        "start INT, canon_id INT, data_type STRING, meta STRING",
    )


def _static_node_rows() -> list[tuple]:
    """The Repository root plus one Instance per alias row of a
    Class-typed entity (reference Instance extraction,
    collect.rs:22-23), carrying the class name as data_type
    (asg.rs:73). start = the alias row's dictionary line so
    sanitize-colliding aliases ('order-service' vs 'orderservice') and
    shared aliases ('core') keep distinct keys.
    -> (node_key, node_type, name, file, start, data_type, meta)."""
    return [(REPO_KEY, "Repository", "corpus", "corpus", 0, None, "")] + [
        (node_key_py("Instance", alias, "entities", line), "Instance", alias,
         "entities", line, cls, "")
        for _eid, line, alias, cls in E.instances()
    ]


def _static_edge_rows() -> list[tuple[str, str, str]]:
    """Dictionary-derived edge families, computed on the driver:

      OF         Instance -> its Class (mod.rs:168-174)
      OF         alias-member entity -> canonical entity (the
                 canonicalization collapse; add_instances analog)
      PARENT_OF  parent Class -> child Class (array_graph.rs:229-246)
      IMPORTS    including Class -> included Class (array_graph.rs:247-266)
      OPERAND    Class/Trait -> Function entity (mod.rs:197-203)
      IMPLEMENTS Class -> Trait (collect.rs:60-81)
    """
    ents = _entity_rows()
    key = {r[4]: r[0] for r in ents}
    rows: list[tuple[str, str, str]] = []
    for eid, line, alias, _cls in E.instances():
        rows.append(("OF", node_key_py("Instance", alias, "entities", line), key[eid]))
    for r in ents:
        if r[5] != r[4]:
            rows.append(("OF", r[0], key[r[5]]))
    for etype, pairs in (
        ("PARENT_OF", E.PARENT_OF_PAIRS),
        ("IMPORTS", E.CLASS_IMPORTS_PAIRS),
        ("OPERAND", E.OPERAND_PAIRS),
        ("IMPLEMENTS", E.IMPLEMENTS_PAIRS),
    ):
        rows.extend((etype, key[src], key[dst]) for src, dst in pairs)
    return rows


def _local_relation(spark: SparkSession, name: str, rows: list[tuple], schema: str) -> DataFrame:
    """A static driver table as a VALUES relation (real size stats, no
    tasks to schedule), memoized per session."""
    key = (spark.sparkContext.applicationId, name)
    if key not in _STATIC_CACHE:
        cols, types = zip(*(c.split() for c in schema.split(", ")))
        _STATIC_CACHE[key] = E._values_df(spark, rows, list(cols), list(types))
    return _STATIC_CACHE[key]


def static_edges(spark: SparkSession) -> DataFrame:
    """(edge_type, source_key, target_key) of the static dictionary
    families (_static_edge_rows)."""
    return _local_relation(
        spark, "sedges", _static_edge_rows(),
        "edge_type STRING, source_key STRING, target_key STRING",
    )


# ---------------------------------------------------------------------------
# Static dims as SQL literals
# ---------------------------------------------------------------------------

class _Dims:
    """Every static dictionary lookup of the turn path, as literals
    (the alias maps of mention resolution live in link.py)."""

    def __init__(self) -> None:
        rows = _entity_rows()
        key = {r[4]: r[0] for r in rows}
        self.key = E._map_sql(key)
        self.canon_key = E._map_sql({r[4]: key[r[5]] for r in rows})
        self.type = E._map_sql({r[4]: r[1] for r in rows})
        self.name = E._map_sql({r[4]: r[2] for r in rows})

        def by_name(pairs) -> dict:
            out: dict[str, list] = {}
            for name, v in pairs:
                out.setdefault(name, []).append(v)
            return out

        # CamelCase candidates typed by exact canonical name (as
        # find_nodes_by_name is: case-sensitive), tool calls by tool
        # name, return-section identifiers by Datamodel name
        self.name_ids = E._map_sql(by_name((n, i) for i, n, _ in E.ENTITIES))
        self.tool_keys = E._map_sql(by_name((n, key[i]) for i, n, _ in E.TOOLS))
        self.dm_keys = E._map_sql(by_name((r[2], r[0]) for r in rows if r[1] == "Datamodel"))
        # endpoint templates for link_api_nodes (linker.rs:129-163)
        eps = []
        for i, v, s in E.ENDPOINTS:
            epath = f"/api/{s}/:param"
            nseg = len([p for p in epath.split("/") if p])
            eps.append(
                f"named_struct('eid', {i}, 'verb', {E._sql_lit(v)}, "
                f"'epath', {E._sql_lit(epath)}, 'nseg', {nseg})"
            )
        self.endpoints = "array(" + ", ".join(eps) + ")"


@lru_cache(maxsize=1)
def _dims() -> _Dims:
    return _Dims()


def _lookup(m: str, k: str) -> str:
    return f"try_element_at({m}, {k})"


def _lookup_all(arr: str, m: str) -> str:
    """Concatenated map values of the array's keys that are in m."""
    return (
        f"flatten(transform(filter({arr}, x -> map_contains_key({m}, x)), "
        f"x -> {_lookup(m, 'x')}))"
    )


def _extract_sql(text: str, regex: str, group: int, guard: str | None) -> str:
    """regexp_extract_all behind a zero-allocation contains() guard on
    the regex's mandatory literal (operators/extract.py)."""
    ext = f"regexp_extract_all({text}, {_pat(regex, 'spark')}, {group})"
    if guard is None:
        return ext
    return f"CASE WHEN contains({text}, '{guard}') THEN {ext} ELSE CAST(array() AS ARRAY<STRING>) END"


def _eps_sql(r: str) -> str:
    """Endpoint ids the request struct `r` (verb, norm) calls
    (link_api_nodes, linker.rs:129-163, 241-266): a filter over the
    endpoint templates on verb, segment count and paths_match."""
    return (
        f"transform(filter({_dims().endpoints}, ep -> ep.verb = {r}.verb"
        f" AND ep.nseg = {n_segments_sql(f'{r}.norm', 'spark')}"
        f" AND {paths_match_sql(f'{r}.norm', 'ep.epath', 'spark')}), ep -> ep.eid)"
    )


# ---------------------------------------------------------------------------
# The per-turn fact table
# ---------------------------------------------------------------------------

def turn_facts(transcripts: DataFrame, pack: dict | None = None) -> DataFrame:
    """One row per turn, in one pass over `transcripts` (scan, four
    projections and one window over conv_id — shuffle-free under the
    derivation's conv_id partitioning):

      conv_id, turn_idx, role, tool, bucket, turn_key, conv_key
      t_first, istart   the conversation's first turn and first
                        system turn (Import start)
      surfaces   distinct '@alias' mentions
      res        array<struct<surface, entity_id, score>>: each
                 mention's resolution (link.resolve_sql)
      ents       distinct resolved entity ids
      t0_ents    resolved entity ids of the conversation's turn 0
                 (its import set)
      cands      CamelCase candidates typed by canonical name
      tool_keys  node keys of the called tool Libraries
      reqs       array<struct<verb, path, norm, key>>: each request
                 occurrence, its normalized path (extract.norm_path_sql)
                 and its node key
      tids       referenced test ids
      vnames     declared var names (every occurrence)
      vuses      array<struct<vname, imported>>: distinct var uses;
                 imported = a system turn of the conversation
                 contains the name (the import-section tier,
                 format.rs:594)
      dm_keys    Datamodel keys of the return-section identifiers

    Consumers select what they need; Catalyst prunes the rest
    (including the window when no conversation-level column is
    read)."""
    d = _dims()
    w = "OVER (PARTITION BY conv_id)"
    ret = RETURN_SECTION_SQL.format(t="text")
    return (
        transcripts.selectExpr(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            f"{BUCKET_SQL} AS bucket",
            f"{_turn_key_sql('conv_id', 'turn_idx')} AS turn_key",
            f"{_conv_key_sql('conv_id')} AS conv_key",
            f"array_distinct({_extract_sql('text', X.MENTION_RE, 1, '@')}) AS surfaces",
            f"array_distinct({_lookup_all(_extract_sql('text', CAMEL_RE, 0, None), d.name_ids)}) AS cands",
            f"array_distinct({_lookup_all(_extract_sql('text', X.TOOL_RE, 1, 'tool:'), d.tool_keys)})"
            " AS tool_keys",
            f"transform({_extract_sql('text', X.REQUEST_RE, 0, ' /')}, m -> named_struct("
            "'verb', split_part(m, ' ', 1), 'path', split_part(m, ' ', 2))) AS reqs_raw",
            f"array_distinct({_extract_sql('text', X.TESTREF_RE, 1, 'ref test_')}) AS tids",
            f"transform({_extract_sql('text', VARDECL_RE, 1, 'tool:')}, t -> '{VAR_PREFIX}' || t)"
            " AS vnames",
            f"array_distinct({_lookup_all(_extract_sql(ret, CAPIDENT_RE, 0, None), d.dm_keys)})"
            " AS dm_keys",
            # every var name starts with VAR_PREFIX, so a system turn
            # without it can import none
            f"CASE WHEN role = 'system' AND contains(text, '{VAR_PREFIX}') THEN text END AS imp_text",
        )
        .selectExpr(
            "*",
            f"flatten(collect_set({L.unamb_sql('surfaces')}) {w}) AS conv_unamb",
            f"flatten(collect_set(CASE WHEN turn_idx = 0 THEN surfaces END) {w}) AS t0_surfaces",
            f"min(turn_idx) {w} AS t_first",
            f"min(CASE WHEN role = 'system' THEN turn_idx END) {w} AS istart",
            f"collect_set(imp_text) {w} AS imp_texts",
        )
        .selectExpr(
            "conv_id", "turn_idx", "role", "tool", "bucket", "turn_key", "conv_key",
            "t_first", "istart", "surfaces", "cands", "tool_keys", "tids", "vnames", "dm_keys",
            f"{L.resolve_sql('surfaces', 'conv_unamb')} AS res",
            f"transform({L.resolve_sql('t0_surfaces', 'conv_unamb')}, r -> r.entity_id) AS t0_ents",
            "transform(reqs_raw, r -> named_struct('verb', r.verb, 'path', r.path, "
            f"'norm', {X.norm_path_sql('r.path', pack)}, "
            f"'key', {_request_key_sql('conv_id', 'turn_idx', 'r.path', 'r.verb')})) AS reqs",
            "transform(array_distinct(vnames), v -> named_struct('vname', v, "
            "'imported', exists(imp_texts, t -> contains(t, v)))) AS vuses",
        )
        .selectExpr("*", "array_distinct(transform(res, r -> r.entity_id)) AS ents")
    )


def request_rows(facts: DataFrame) -> DataFrame:
    """-> (conv_id, turn_idx, verb, path, norm_path): the fact table's
    requests, one row per occurrence."""
    return facts.selectExpr("conv_id", "turn_idx", "inline(reqs)").selectExpr(
        "conv_id", "turn_idx", "verb", "path", "norm AS norm_path"
    )


def global_picks(facts: DataFrame, handlers: bool) -> DataFrame:
    """The cross-conversation picks, one aggregate over the facts ->
    (kind, grp, name, lo, hi), lo/hi = min/max struct(conv_id,
    turn_idx) of the group:

      role  name = a role (Language stratum)
      dir   name = a bucket (Directory stratum)
      var   grp = bucket, name = var name: lo is the bucket-FIRST
            declaring turn, the var's defining site (one Var node per
            (bucket, name))
      ep    name = endpoint id: lo/hi the first/last referencing
            turn (handler_finder, mod.rs:208-223); only with
            `handlers` — the nodes read no endpoint pick

    A struct-min/max aggregate, not a window: map-side partial
    combine, parallelism-invariant."""
    def pick(kind: str, grp: str, name: str) -> str:
        return (
            f"named_struct('kind', '{kind}', 'grp', {grp}, 'name', {name}, "
            "'at', struct(conv_id, turn_idx))"
        )

    picks = [
        f"array({pick('role', NULL_S, 'role')}, {pick('dir', NULL_S, 'bucket')})",
        f"transform(vnames, v -> {pick('var', 'bucket', 'v')})",
    ]
    if handlers:
        picks.append(
            f"flatten(transform(reqs, r -> transform({_eps_sql('r')}, e -> "
            f"{pick('ep', NULL_S, 'CAST(e AS STRING)')})))"
        )
    return (
        facts.selectExpr(f"inline(concat({', '.join(picks)}))")
        .groupBy("kind", "grp", "name")
        .agg(F.expr("min(at) AS lo"), F.expr("max(at) AS hi"))
    )


def linked_refs(facts: DataFrame, first_def: DataFrame, picks: DataFrame) -> DataFrame:
    """The per-turn links to the picks, one broadcast join ->
    (kind, conv_id, turn_idx, turn_key, name, d_conv, d_turn):

      test  a referenced test id -> its defining turn in first_def
            (the shared-test-id link, linker.rs:56-127)
      var   a used var -> each var pick (defining site) the tier
            cascade accepts (format.rs:577-617): same file, imported,
            or same directory

    One row per (turn, kind, name, defining site): tids and vuses are
    distinct per turn, and the dims are unique per (kind, name) and,
    for vars, bucket."""
    dims = first_def.selectExpr(
        "'test' AS kind", "tid AS name", "d_conv", "d_turn", f"{NULL_S} AS vbucket"
    ).unionByName(
        picks.where("kind = 'var'").selectExpr(
            "kind", "name", "lo.conv_id AS d_conv", "lo.turn_idx AS d_turn", "grp AS vbucket"
        )
    )
    refs = facts.selectExpr(
        "conv_id", "turn_idx", "bucket", "turn_key",
        "inline(concat("
        "transform(tids, t -> named_struct('kind', 'test', 'name', t, 'imported', false)), "
        "transform(vuses, v -> named_struct('kind', 'var', 'name', v.vname, 'imported', v.imported))))",
    )
    return (
        refs.join(F.broadcast(dims), ["kind", "name"])
        .where("kind = 'test' OR conv_id = d_conv OR imported OR bucket = vbucket")
        .select("kind", "conv_id", "turn_idx", "turn_key", "name", "d_conv", "d_turn")
    )


def collect_rows(transcripts: DataFrame) -> DataFrame:
    """The per-turn collection as projections of the fact table ->
    (kind, turn_id, name, info):

      candidate    a typed CamelCase candidate: entity name and type
      var_def      a var's bucket-first defining turn (var pick):
                   var name and defining conversation
      var_use      a var use the tier cascade accepts (linked_refs):
                   var name and defining conversation
      return_type  a return-section Datamodel: its node key"""
    d = _dims()
    facts = turn_facts(transcripts)
    picks = global_picks(facts, handlers=False)
    cand = facts.selectExpr("turn_idx", "explode(cands) AS e").selectExpr(
        "'candidate' AS kind", "turn_idx AS turn_id",
        f"{_lookup(d.name, 'e')} AS name", f"{_lookup(d.type, 'e')} AS info",
    )
    vdef = picks.where("kind = 'var'").selectExpr(
        "'var_def' AS kind", "lo.turn_idx AS turn_id", "name", "lo.conv_id AS info"
    )
    vuse = linked_refs(facts, X.first_test_defs(transcripts), picks).where("kind = 'var'").selectExpr(
        "'var_use' AS kind", "turn_idx AS turn_id", "name", "d_conv AS info"
    )
    ret = facts.selectExpr(
        "'return_type' AS kind", "turn_idx AS turn_id", "explode(dm_keys) AS name", "'Datamodel' AS info"
    )
    return cand.unionByName(vdef).unionByName(vuse).unionByName(ret)


# ---------------------------------------------------------------------------
# Nodes — split into bucket-pure (local) and cross-conversation
# (global) families so the resumable builder (streaming/incremental)
# composes the SAME code per unit: a bucket's output is a pure
# function of the bucket's rows + static dims; everything that
# consults global state (first_def, picks, role/bucket strata) lives
# in the globals unit, whose fingerprint covers the whole corpus.
# That decomposition is what makes bucket-wise resume byte-equal to
# the single-shot build under ANY edit (including one that moves a
# cross-bucket pick like the first defining turn).
# ---------------------------------------------------------------------------

_ROLLED = "array_join(transform(array_sort(collect_list({rows})), x -> x.text), chr(10))"


def _pad(body="''", docs=NULL_S, hash_=NULL_S, data_type=NULL_S, meta="''"):
    return [
        f"{body} AS body",
        f"{docs} AS docs",
        f"{hash_} AS hash",
        f"{data_type} AS data_type",
        f"{meta} AS meta",
    ]


def local_nodes(spark: SparkSession, transcripts: DataFrame, requests: DataFrame) -> DataFrame:
    """File / Import / Function / Request nodes — pure functions of
    the conversation's own rows (embarrassingly parallel over conv_id
    buckets)."""
    # One groupBy(conv_id) — it reuses the conv_id hash partitioning
    # the derivation already produced, no shuffle — yields both
    # conversation rollups:
    #   File   body = ordered rollup of turn texts, guarded at
    #          MAX_FILE_SIZE (builder/utils.rs:9: body dropped, node
    #          kept);
    #   Import the system-turn section (combine_import_sections
    #          analog, builder/utils.rs:39-87: sort by start, join
    #          with newlines), for conversations that have one.
    # hash = digest of the (post-guard) body (prepare_file_data,
    # builder/utils.rs:90-101).
    convs = (
        transcripts.groupBy("conv_id")
        .agg(
            F.expr("max(turn_idx)").alias("fend"),
            F.expr(_ROLLED.format(rows="struct(turn_idx, text)")).alias("raw_body"),
            F.expr("min(CASE WHEN role = 'system' THEN turn_idx END)").alias("istart"),
            F.expr("max(CASE WHEN role = 'system' THEN turn_idx END)").alias("iend"),
            F.expr(_ROLLED.format(rows="CASE WHEN role = 'system' THEN struct(turn_idx, text) END"))
            .alias("ibody"),
        )
        .selectExpr(
            "conv_id",
            "istart",
            "stack(2, "
            f"{_conv_key_sql('conv_id')}, 'File', conv_id, 0, CAST(fend AS INT), "
            f"CASE WHEN length(raw_body) > {MAX_FILE_SIZE} THEN '' ELSE raw_body END, "
            f"'parent=' || {BUCKET_SQL}, "
            f"{_import_key_sql('conv_id', 'istart')}, 'Import', 'imports', CAST(istart AS INT), "
            "CAST(iend AS INT), ibody, "
            "'parent=' || conv_id) AS (node_key, node_type, name, start, `end`, body, meta)",
        )
        .where("node_type = 'File' OR istart IS NOT NULL")
        .selectExpr(
            "node_key", "node_type", "name", "'corpus/' || conv_id AS file", "start", "`end`",
            *_pad(body="body", hash_="md5(body)", meta="meta"),
        )
    )

    # Turn docs = nearest preceding system-turn text
    # (attach_function_comments analog, lang/mod.rs:53-97) — a
    # conv_id-partitioned window, shuffle-free over the derivation's
    # partitioning.
    turns = transcripts.selectExpr(
        f"{_turn_key_sql('conv_id', 'turn_idx')} AS node_key",
        "'Function' AS node_type",
        "'turn_' || CAST(turn_idx AS STRING) AS name",
        "'corpus/' || conv_id AS file",
        "turn_idx AS start",
        "turn_idx AS `end`",
        "text AS body",
        "last(CASE WHEN role = 'system' THEN text END, true) OVER ("
        "PARTITION BY conv_id ORDER BY turn_idx "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS docs",
        "md5(text) AS hash",
        f"{NULL_S} AS data_type",
        "'parent=' || conv_id || ';role=' || role || "
        "CASE WHEN tool != '' THEN ';tool=' || tool ELSE '' END AS meta",
    )

    # Request NODES are one per distinct (conv, turn, verb, path):
    # a turn containing the same 'VERB path' string twice must yield
    # one node (its node_key is the same).
    reqs = requests.select("conv_id", "turn_idx", "verb", "path").distinct().selectExpr(
        f"{_request_key_sql('conv_id', 'turn_idx')} AS node_key",
        "'Request' AS node_type",
        "path AS name",
        "'corpus/' || conv_id AS file",
        "turn_idx AS start",
        "turn_idx AS `end`",
        *_pad(
            body="verb || ' ' || path",
            hash_="md5(verb || ' ' || path)",
            meta="'parent=turn_' || CAST(turn_idx AS STRING) || ';verb=' || verb",
        ),
    )

    return convs.unionByName(turns).unionByName(reqs)


def global_nodes(
    spark: SparkSession,
    facts: DataFrame,
    ent_nodes: DataFrame,
    first_def: DataFrame,
    pack: dict | None = None,
) -> DataFrame:
    """Repository / Language / Directory / Var / Test / entity /
    Instance nodes — derived from the corpus-wide picks of the fact
    table (role and bucket strata, bucket-first var definitions), the
    globally-first test definitions, or the static dictionary."""
    # Language / Directory / extracted Var nodes: one projection of
    # the picks (a Var node sits at its bucket-FIRST declaring turn)
    strata = (
        global_picks(facts, handlers=False)
        .selectExpr(
            "CASE kind WHEN 'role' THEN " + _lang_key_sql("name")
            + " WHEN 'dir' THEN " + _dir_key_sql("name")
            + " ELSE " + _var_key_sql("name", "lo.conv_id", "lo.turn_idx") + " END AS node_key",
            "CASE kind WHEN 'role' THEN 'Language' WHEN 'dir' THEN 'Directory' ELSE 'Var' END"
            " AS node_type",
            "name",
            "CASE kind WHEN 'role' THEN 'corpus' WHEN 'dir' THEN 'corpus/' || name"
            " ELSE 'corpus/' || lo.conv_id END AS file",
            "CASE kind WHEN 'var' THEN lo.turn_idx ELSE 0 END AS start",
            "CASE kind WHEN 'var' THEN lo.turn_idx ELSE 0 END AS `end`",
            *_pad(meta="CASE kind WHEN 'var' THEN 'parent=' || lo.conv_id ELSE 'parent=corpus' END"),
        )
    )

    tests = first_def.selectExpr(
        f"{_test_key_sql('tid', 'd_conv', 'd_turn', pack)} AS node_key",
        f"{_test_type_expr('tid', pack)} AS node_type",
        "'test_' || tid AS name",
        "'corpus/' || d_conv AS file",
        "d_turn AS start",
        "d_turn AS `end`",
        *_pad(
            body="d_text",
            hash_="md5(d_text)",
            meta=f"'parent=' || d_conv || ';test_kind=' || {_test_kind_expr('tid', pack)}",
        ),
    )

    ents = ent_nodes.selectExpr(
        "node_key", "node_type", "name", "file", "start", "start AS `end`",
        "'' AS body", f"{NULL_S} AS docs", f"{NULL_S} AS hash", "data_type", "meta",
    )
    static = _local_relation(
        spark, "snodes", _static_node_rows(),
        "node_key STRING, node_type STRING, name STRING, file STRING, start INT, "
        "data_type STRING, meta STRING",
    ).selectExpr(
        "node_key", "node_type", "name", "file", "start", "start AS `end`",
        "'' AS body", f"{NULL_S} AS docs", f"{NULL_S} AS hash", "data_type", "meta",
    )

    return strata.unionByName(tests).unionByName(ents).unionByName(static)


def build_nodes(
    spark: SparkSession,
    transcripts: DataFrame,
    ent_nodes: DataFrame,
    first_def: DataFrame,
    requests: DataFrame,
    pack: dict | None = None,
) -> DataFrame:
    """All 19 node types: local_nodes + global_nodes over the fact
    table of `transcripts` (pipeline.build_graph composes the same two
    over the fact table it shares with the edges)."""
    return local_nodes(spark, transcripts, requests).unionByName(
        global_nodes(spark, turn_facts(transcripts, pack), ent_nodes, first_def, pack)
    )


# ---------------------------------------------------------------------------
# Edges
# ---------------------------------------------------------------------------

_EDGE_T = "STRUCT<edge_type: STRING, source_key: STRING, target_key: STRING>"


def _edge_sql(edge_type: str, src: str, dst: str) -> str:
    return (
        f"named_struct('edge_type', '{edge_type}', 'source_key', {src}, "
        f"'target_key', {dst})"
    )


def _each(arr: str, var: str, edge_type: str, src: str, dst: str, cond: str | None = None) -> str:
    """One edge per element of `arr` (optionally filtered)."""
    if cond is not None:
        arr = f"filter({arr}, {var} -> {cond})"
    return f"transform({arr}, {var} -> {_edge_sql(edge_type, src, dst)})"


def _when(cond: str, edges: str) -> str:
    return f"CASE WHEN {cond} THEN {edges} ELSE CAST(array() AS ARRAY<{_EDGE_T}>) END"


def _local_edges_sql() -> str:
    """The 13 bucket-local families as one array per fact row."""
    d = _dims()

    def key(e: str) -> str:
        return _lookup(d.key, e)

    def typ(e: str) -> str:
        return _lookup(d.type, e)

    families = [
        # CONTAINS Directory -> File, once per conversation
        _when("turn_idx = t_first",
              f"array({_edge_sql('CONTAINS', _dir_key_sql('bucket'), 'conv_key')})"),
        # CONTAINS File -> turn
        f"array({_edge_sql('CONTAINS', 'conv_key', 'turn_key')})",
        # CONTAINS File -> Import, at the first system turn
        _when("turn_idx = istart",
              f"array({_edge_sql('CONTAINS', 'conv_key', _import_key_sql('conv_id', 'istart'))})"),
        # CONTAINS turn -> Request
        _each("reqs", "r", "CONTAINS", "turn_key", "r.key"),
        # CALLS Request -> Endpoint (link_api_nodes)
        f"flatten(transform(reqs, r -> {_each(_eps_sql('r'), 'e', 'CALLS', 'r.key', key('e'))}))",
        # USES turn -> canonical entity, from resolved mentions and
        # typed CamelCase candidates alike
        _each(f"array_distinct(transform(array_union(ents, cands), e -> {_lookup(d.canon_key, 'e')}))",
              "k", "USES", "turn_key", "k"),
        # CALLS turn -> tool Library
        _each("tool_keys", "k", "CALLS", "turn_key", "k"),
        # ARG_OF tool turn -> entity passed as the call argument
        _when("tool != ''", _each("ents", "e", "ARG_OF", "turn_key", key("e"))),
        # IMPORTS File -> entities mentioned in turn 0
        _when("turn_idx = 0", _each("ents", "e", "IMPORTS", "conv_key", key("e"))),
        # INCLUDES Feature -> turn, RENDERS Page -> turn
        _each("ents", "e", "INCLUDES", key("e"), "turn_key", f"{typ('e')} = 'Feature'"),
        _each("ents", "e", "RENDERS", key("e"), "turn_key", f"{typ('e')} = 'Page'"),
        # CONTAINS turn -> dictionary Var under the tier cascade: only
        # the imported tier can accept a dictionary-resident var
        # (file 'entities' is no conversation and has no bucket), i.e.
        # the conversation's turn 0 mentions it
        _each("ents", "e", "CONTAINS", "turn_key", key("e"),
              f"{typ('e')} = 'Var' AND array_contains(t0_ents, e)"),
        # CONTAINS turn -> Datamodel of a return-section identifier
        _each("dm_keys", "k", "CONTAINS", "turn_key", "k"),
    ]
    return "concat(" + ", ".join(families) + ")"


def local_edges(facts: DataFrame) -> DataFrame:
    """Bucket-pure edge families: every row is a function of one
    conversation's rows + static dims. One explode, one dedup on
    (conv_id, edge) — satisfied by the conv_id partitioning, so
    map-side only."""
    return (
        facts.selectExpr("conv_id", f"inline({_local_edges_sql()})")
        .distinct()
        .drop("conv_id")
    )


def global_edges(
    spark: SparkSession,
    facts: DataFrame,
    first_def: DataFrame,
    pack: dict | None = None,
) -> DataFrame:
    """Cross-conversation edge families: the role/bucket strata, the
    bucket-first Var scaffold, HANDLER (first — or, per the pack's
    handler_pick, last — referencing turn per endpoint), the Test
    scaffold and test links (the corpus-wide first_def pick), tiered
    extracted-var usage, and the static dictionary families."""
    d = _dims()
    picks = global_picks(facts, handlers=True)
    at = "lo" if (pack or {}).get("handler_pick", "first") == "first" else "hi"
    strata = picks.selectExpr(
        "CASE kind WHEN 'ep' THEN 'HANDLER' ELSE 'CONTAINS' END AS edge_type",
        f"CASE kind WHEN 'var' THEN {_conv_key_sql('lo.conv_id')}"
        f" WHEN 'ep' THEN {_lookup(d.key, 'CAST(name AS INT)')}"
        f" ELSE '{REPO_KEY}' END AS source_key",
        f"CASE kind WHEN 'role' THEN {_lang_key_sql('name')}"
        f" WHEN 'dir' THEN {_dir_key_sql('name')}"
        f" WHEN 'var' THEN {_var_key_sql('name', 'lo.conv_id', 'lo.turn_idx')}"
        f" ELSE {_turn_key_sql(f'{at}.conv_id', f'{at}.turn_idx')} END AS target_key",
    )

    contains_test = first_def.selectExpr(
        "'CONTAINS' AS edge_type",
        f"{_conv_key_sql('d_conv')} AS source_key",
        f"{_test_key_sql('tid', 'd_conv', 'd_turn', pack)} AS target_key",
    )

    # CALLS Test -> referencing turn; CONTAINS turn -> extracted Var
    linked = linked_refs(facts, first_def, picks).selectExpr(
        "CASE kind WHEN 'test' THEN 'CALLS' ELSE 'CONTAINS' END AS edge_type",
        f"CASE kind WHEN 'test' THEN {_test_key_sql('name', 'd_conv', 'd_turn', pack)}"
        " ELSE turn_key END AS source_key",
        f"CASE kind WHEN 'test' THEN turn_key"
        f" ELSE {_var_key_sql('name', 'd_conv', 'd_turn')} END AS target_key",
    )

    return (
        strata.unionByName(contains_test)
        .unionByName(linked)
        .unionByName(static_edges(spark))
    )


def build_edges(
    spark: SparkSession,
    transcripts: DataFrame,
    resolved: DataFrame,
    ent_nodes: DataFrame,
    first_def: DataFrame,
    requests: DataFrame,
    pack: dict | None = None,
) -> DataFrame:
    """All 12 edge types: local_edges + global_edges over the fact
    table of `transcripts` (pipeline.build_graph composes the same two
    over the fact table it shares with the nodes). `resolved`,
    `ent_nodes` and `requests` are the pipeline's query-surface
    stages; the edge families do not read them — the fact table
    carries the same facts and takes the dictionary as literals — and
    they stay in the signature for the callers that hold them.

    Dedup is per arm on (src, dst, type): the local explode dedups
    once on (conv_id, edge); the linked arm is unique by construction
    (one row per turn and defining site, linked_refs), and so are the
    picks, first_def and static arms. Arms cannot collide: CONTAINS
    sub-families target disjoint node-type key spaces; the three CALLS
    families have disjoint source spaces (Function turns / Request
    keys / Test keys); OF splits into entity->entity and
    instance->entity; IMPORTS into File->entity and Class->Class. So
    no global dropDuplicates (test_edge_dedup_invariant proves the
    invariant)."""
    facts = turn_facts(transcripts, pack)
    return local_edges(facts).unionByName(global_edges(spark, facts, first_def, pack))


def triples(edges: DataFrame) -> DataFrame:
    """The P/R-gated view: (subj, pred, obj)."""
    return edges.select(
        F.col("source_key").alias("subj"),
        F.col("edge_type").alias("pred"),
        F.col("target_key").alias("obj"),
    )


def uses_by_entity(resolved: DataFrame, ent_nodes: DataFrame) -> DataFrame:
    """USES count per canonical entity — the skew-facing aggregate.

    Two-phase: pre-aggregate per (conv_id, entity) — co-partitioned
    with the mention stream, so the hot entity contributes one row
    per conversation, not one per mention — then final rollup.
    """
    per_conv = resolved.groupBy("conv_id", "entity_id").agg(F.count("*").alias("n"))
    en = F.broadcast(ent_nodes.select(F.col("start").alias("entity_id"), "canon_id"))
    names = F.broadcast(
        ent_nodes.select(F.col("start").alias("canon_id"), F.col("name").alias("canonical_name"))
    )
    return (
        per_conv.join(en, "entity_id")
        .groupBy("canon_id")
        .agg(F.sum("n").cast("bigint").alias("n_uses"))
        .join(names, "canon_id")
        .select(F.col("canon_id"), F.col("canonical_name"), F.col("n_uses"))
    )
