"""Candidate extraction — the per-turn flatMap stage.

Analog of the reference's per-file tree-sitter extraction operators
(collect_classes / collect_functions / get_function_calls, SURVEY.md
§2.2; ast/src/lang/parse/collect.rs). The key property preserved:
extraction is a PURE function of the turn text (the reference parses
each file independently; graph context is only consulted in later
join stages — builder/core.rs:33-107), which makes it embarrassingly
parallel over conv_id partitions.

Hot path uses built-in regexp functions (JVM-side, whole-stage
codegen) — not Python. A pandas-UDF rule-pack executor
(`extract_mentions_rulepack`) provides the extensibility surface
(the Stack-trait analog, queries/mod.rs:51-303) and is tested for
equality with the built-in path; rule packs are data, not code.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTION_RE = r"@([A-Za-z0-9_.\-]+)"
TOOL_RE = r"tool:([a-z]+)\("
# dash-at-end form: parses identically as a Spark SQL string literal
# (no backslash escapes) and as a Python regex
REQUEST_RE = r"(GET|POST|PUT|DELETE) (/[A-Za-z0-9_/.:-]+)"
TESTREF_RE = r"ref test_([0-9]+)"
TESTDEF_RE = r"defines test_([0-9]+)"
NUMSEG_RE = r"/[0-9]+"


def extract_mentions_raw(transcripts: DataFrame) -> DataFrame:
    """-> (conv_id, turn_idx, surface), one row per occurrence —
    shuffle-free (scan + generate only). Consumers that need
    per-turn dedup get it from their own aggregation (the link
    stage's best-candidate group-by absorbs duplicates), so the
    pipeline avoids a dedicated distinct shuffle of the widest
    intermediate."""
    # contains() guard before the regex pass: Spark's regexp_* first
    # copies the UTF8String into a java String and allocates a
    # Matcher PER ROW, even when nothing matches; contains() runs on
    # the raw bytes with zero allocation. Rows without the regex's
    # mandatory literal produce no exploded rows either way, so the
    # guard is semantics-free — it only skips the allocation-heavy
    # path for the (at production scale, vast) majority of turns
    # that mention nothing.
    return transcripts.where(F.col("text").contains("@")).select(
        "conv_id",
        "turn_idx",
        F.explode(F.regexp_extract_all("text", F.lit(MENTION_RE), 1)).alias("surface"),
    )


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """-> (conv_id, turn_idx, surface): distinct '@alias' mentions."""
    return extract_mentions_raw(transcripts).distinct()


def extract_tool_calls(transcripts: DataFrame) -> DataFrame:
    """-> (conv_id, turn_idx, toolname): `tool:name(` invocations.
    regexp_extract_all + explode — ALL calls per turn are emitted
    (the reference's get_function_calls collects every call site per
    file, lang/mod.rs:446-616), not just the first match."""
    # zero-alloc contains() guard on the regex's literal prefix
    # (see extract_mentions_raw) — ~80% of turns skip the regex
    return transcripts.where(F.col("text").contains("tool:")).select(
        "conv_id",
        "turn_idx",
        F.explode(F.regexp_extract_all("text", F.lit(TOOL_RE), 1)).alias("toolname"),
    )


def extract_requests(transcripts: DataFrame, pack: dict | None = None) -> DataFrame:
    """-> (conv_id, turn_idx, verb, path, norm_path), one row per
    request occurrence: a projection of the fact table
    (materialize.turn_facts), which takes every `VERB /path` match and
    splits verb and path on the first space.

    norm_path applies the normalize_backend_path rewrite chain
    (linker.rs:195-230, functions/paths.py) in norm_path_sql's
    rendering. WHICH template-var styles rewrite is dialect data: a
    pack's request_styles names the BACKEND_RULES_NAMED subset its
    framework writes, plus the pseudo-style 'numseg' for corpora that
    write concrete numeric ids as their template-var form (`/123` ->
    `/:param` — the transcriptish dialect's own style; the reference's
    linker has no such rule, which is exactly why it belongs in pack
    data rather than the engine). pack=None keeps the transcriptish
    default: numseg + the full chain. The edges match normalized
    requests to endpoints (materialize._eps_sql: a filter over the
    endpoint array on verb, segment count and paths_match);
    concrete-vs-:param segment matching is exercised by the
    kg_paths_match planted-dim query.
    """
    from .materialize import request_rows, turn_facts

    return request_rows(turn_facts(transcripts, pack))


def norm_path_sql(path: str, pack: dict | None = None) -> str:
    """Spark SQL: the normalize_backend_path rewrite of the request
    path expression `path` under the pack's request_styles (see
    extract_requests); one rendering for every consumer."""
    from ..functions.paths import normalize_backend_path_sql

    styles, numseg = None, True
    if pack is not None and pack.get("request_styles") is not None:
        st = list(pack["request_styles"])
        numseg = "numseg" in st
        styles = [s for s in st if s != "numseg"]
    inner = f"regexp_replace({path}, '{NUMSEG_RE}', '/:param')" if numseg else path
    return normalize_backend_path_sql(inner, "spark", styles=styles)


def extract_test_defs(transcripts: DataFrame) -> DataFrame:
    """-> (conv_id, turn_idx, tid, text): `defines test_<k>`
    definitions; text kept for the Test node body."""
    return transcripts.where(F.col("text").contains("defines test_")).select(
        "conv_id",
        "turn_idx",
        F.explode(F.regexp_extract_all("text", F.lit(TESTDEF_RE), 1)).alias("tid"),
        "text",
    )


def first_test_defs(transcripts: DataFrame) -> DataFrame:
    """-> (tid, d_conv, d_turn, d_text): the globally-FIRST defining
    turn per test id (deterministic pick => parallelism-invariant).
    Shared by Test-node materialization and the shared-test-id linker
    (link_e2e_tests analog, linker.rs:56-127).

    Expressed as a lexicographic struct-min AGGREGATE, not a window:
    a window over the ~50 test-id partitions caps the stage at 50
    concurrent tasks and ships every def row through the shuffle; the
    aggregate gets map-side partial combine, so the shuffle carries
    one candidate per (tid, input partition) and the heavy scan stays
    embarrassingly parallel. (conv_id, turn_idx) is unique, so the
    struct min equals the row_number()=1 pick exactly."""
    return (
        extract_test_defs(transcripts)
        .groupBy("tid")
        .agg(F.expr("min(struct(conv_id, turn_idx, text)) AS f"))
        .selectExpr("tid", "f.conv_id AS d_conv", "f.turn_idx AS d_turn", "f.text AS d_text")
    )


# ---------------------------------------------------------------------------
# Rule-pack executor: Arrow-batched pandas path (extensibility surface).
# ---------------------------------------------------------------------------

# A rule is (name, regex, distinct_per_turn). distinct_per_turn
# mirrors the consumer's dedup semantics: mention consumers dedup per
# turn (the link stage's group-by), call-site consumers keep every
# occurrence (get_function_calls collects all calls per file). The
# registry holds one pack per extraction family — packs are DATA; a
# new "language" is a new pack, not new code (the Stack-trait analog,
# queries/mod.rs:51-303).
DEFAULT_RULEPACK = [("mention", MENTION_RE, True)]
TOOL_RULEPACK = [("tool", TOOL_RE, False)]
TESTREF_RULEPACK = [("testref", TESTREF_RE, False)]


def _candidate_rulepack():
    # the per-turn CamelCase entity-candidate extractor (collect.py)
    # as a pack — distinct per turn, like the reference's per-file
    # collected-entity sets
    from .collect import CAMEL_RE

    return [("entity_candidate", CAMEL_RE, True)]


RULEPACK_REGISTRY = {
    "mentions": DEFAULT_RULEPACK,
    "tool_calls": TOOL_RULEPACK,
    "test_refs": TESTREF_RULEPACK,
    "entity_candidates": _candidate_rulepack(),
}


def extract_mentions_rulepack(
    transcripts: DataFrame, rulepack: list[tuple[str, str, bool]] | None = None
) -> DataFrame:
    """Rule-pack executor: the configured regexes over each turn,
    executed as an Arrow-batched mapInPandas over conv_id-partitioned
    batches. Each pack's output must equal the corresponding JVM
    built-in extractor (differential-tested and oracle-gated for all
    three registry packs).
    """
    import re

    rules = [(n, re.compile(p), d) for n, p, d in (rulepack or DEFAULT_RULEPACK)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_conv, out_turn, out_surface, out_rule = [], [], [], []
            for conv, turn, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                seen = set()
                for name, rx, distinct in rules:
                    for m in rx.findall(text):
                        if distinct:
                            if (name, m) in seen:
                                continue
                            seen.add((name, m))
                        out_conv.append(conv)
                        out_turn.append(turn)
                        out_surface.append(m)
                        out_rule.append(name)
            yield pd.DataFrame(
                {"conv_id": out_conv, "turn_idx": out_turn, "surface": out_surface, "rule": out_rule}
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        run, "conv_id STRING, turn_idx INT, surface STRING, rule STRING"
    )
