"""Entity linking — the tiered resolution scorer.

Reproduces the reference's heuristic call-resolution semantics
(func_target_file_finder, ast/src/lang/call_finder.rs:20-63):

  tier 3  alias is globally unique in the dictionary
          (call_finder.rs:65-99), OR unique after excluding "mock"
          candidates (call_finder.rs:128-151) and this candidate is
          the non-mock one;
  tier 2  candidate entity has an unambiguous mention elsewhere in
          the SAME conversation (same-file tier analog,
          call_finder.rs:153-176);
  tier 1  deterministic fallback: lowest entity_id
          (same-directory-unique analog collapsed to a total order
          so output is parallelism-invariant).

Best candidate per mention = highest tier, then lowest entity_id.
Case-only variants never match: the alias lookup is exact and
case-sensitive (call_finder.rs:175 rejects case-variants).

One expression scores every mention (`resolve_sql`). The static
dictionary enters it as two map literals (alias -> candidate ids
ascending; alias -> its tier-3 candidate), and the tier-2 evidence
is an array column: the tier-3 picks of every mention in the
conversation (`unamb_sql`, collected by one window over conv_id).
The build's fact table (materialize.turn_facts) evaluates it per
turn; link_mentions applies it to a mention stream.

Scale notes
-----------
* No join and no shuffle: the dictionary is a literal inside the
  projection, and the conv_id window (like link_mentions' per-turn
  group-by) reuses the derivation's conv_id partitioning.
* Hot aliases (the planted Zipf head: entity 0 appears in ~40% of
  mention turns) cost a map lookup per mention, whatever their
  frequency; the skew surfaces downstream in per-entity
  aggregations, which pre-aggregate per (conv_id, entity) before the
  global rollup (materialize.uses_by_entity).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import entities as E


@lru_cache(maxsize=1)
def _alias_maps() -> tuple[str, str]:
    """(alias -> candidate entity ids ascending, alias -> tier-3
    candidate) as SQL map literals."""
    names = {i: n for i, n, _ in E.ENTITIES}
    cands: dict[str, set[int]] = {}
    for eid, _aidx, alias in E.ALIASES:
        if eid in names:
            cands.setdefault(alias, set()).add(eid)
    unamb: dict[str, int] = {}
    for alias, eids in cands.items():
        nonmock = [e for e in eids if "mock" not in names[e].lower()]
        if len(eids) == 1:
            unamb[alias] = min(eids)
        elif len(nonmock) == 1:
            unamb[alias] = nonmock[0]
    return E._map_sql({a: sorted(e) for a, e in cands.items()}), E._map_sql(unamb)


def unamb_sql(surfaces: str) -> str:
    """The tier-3 candidates of the array of surfaces `surfaces`
    (the same-conversation evidence of tier 2). -> array<int>."""
    unamb = _alias_maps()[1]
    return f"filter(transform({surfaces}, s -> try_element_at({unamb}, s)), e -> e IS NOT NULL)"


def resolve_sql(surfaces: str, conv_unamb: str) -> str:
    """The best candidate of each surface in the array `surfaces`
    (distinct), given the conversation's tier-3 picks `conv_unamb`:
    the tier-3 candidate if the alias has one (score 3); else the
    lowest candidate id among `conv_unamb` (score 2); else the lowest
    candidate id (score 1). Unknown aliases resolve to nothing.
    -> array<struct<surface, entity_id, score>>."""
    cands, unamb = _alias_maps()
    tier2 = f"filter(x.c, c -> array_contains({conv_unamb}, c))"
    looked_up = (
        f"transform({surfaces}, s -> named_struct('surface', s, "
        f"'u', try_element_at({unamb}, s), 'c', try_element_at({cands}, s)))"
    )
    best = (
        f"transform({looked_up}, x -> named_struct('surface', x.surface, "
        f"'entity_id', coalesce(x.u, try_element_at({tier2}, 1), try_element_at(x.c, 1)), "
        f"'score', CASE WHEN x.u IS NOT NULL THEN 3 WHEN size({tier2}) > 0 THEN 2 ELSE 1 END))"
    )
    return f"filter({best}, r -> r.entity_id IS NOT NULL)"


def link_mentions(spark: SparkSession, mentions: DataFrame) -> DataFrame:
    """mentions(conv_id, turn_idx, surface) ->
    resolved(conv_id, turn_idx, surface, entity_id, score): the
    mentions grouped per turn, one conv_id window for the tier-2
    evidence, then resolve_sql."""
    return (
        mentions.groupBy("conv_id", "turn_idx")
        .agg(F.collect_set("surface").alias("surfaces"))
        .selectExpr(
            "conv_id",
            "turn_idx",
            "surfaces",
            f"flatten(collect_set({unamb_sql('surfaces')}) OVER (PARTITION BY conv_id)) AS conv_unamb",
        )
        .selectExpr("conv_id", "turn_idx", f"inline({resolve_sql('surfaces', 'conv_unamb')})")
    )
