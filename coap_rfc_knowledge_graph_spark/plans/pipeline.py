"""End-to-end KG-construction pipeline (EP1-EP3, SURVEY §3).

One lazy DataFrame program per stage boundary; each stage returns a
DataFrame so callers can materialize where they choose (tests collect,
production writes each to a table — see ``checkpointing.py`` for the
manifest/resume wrapper).

Dataflow (north rule):

    pages ──extract_sentences──> sentences ──rule_sentences──> rules_s
      sentences ──extract_mentions──> mentions
      mentions ──extract_triples_from_arrays (pairs + relations, fused)──> triples
      rules_s ──split_conditions──> clauses ──generate_behaviours──> behaviours
      behaviours ──parse_atomic_rules──> atomic
      mentions ──canonical_entities──> entities ; link entity_surface -> entity_id
      atomic+entities ──canonicalize_variables / encode_values──> atomic_linked
      atomic_linked ──build_rules──> rules ──build_nodes/build_edges──> graph
      rules ──Q1..Q6──> findings

Shuffle budget at scale (the plan we want, verified via .explain in
tests/test_plans.py): one url-repartition feeding sentences; the window
stages and the fused pair stage reuse that url partitioning; dictionary-
sized stages (entity canonicalization, value dictionary) shuffle only
dictionary rows; every join back to corpus-sized tables is broadcast
while the dictionary fits the broadcast budget (salted past it, see
``linking.link_mentions``). Up to one Arrow batch of rows
(``spark.sql.execution.arrow.maxRecordsPerBatch``; for the entities
also at most one 2048-row ``linking.SCORE_BLOCK``, which caps the
driver's quadratic pair scoring) the two dictionaries add only their
distinct aggregate's shuffle: one collect brings the rows to the
driver, which ranks, embeds and resolves them and returns a local
frame. Above it they run distributed from that same aggregate: a range
exchange and a ``localCheckpoint`` for each rank, the embed UDF over
the cluster's cores, and the pair generators.
The rules stage caches its atomic rules where they fan out into a
dictionary-sized branch plus that branch's join-back (see ``rules_stage``):
uncached, every such read re-runs the Python-UDF chain above them (split,
properties, link, variable canonicalization). ``KGResult.cached`` lists
every frame a stage persists, for ``KGResult.unpersist``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.conditions import generate_behaviours, split_conditions, with_context
from ..operators.contradictions import (
    check_conditional,
    check_direct_type1,
    check_direct_type2,
    check_direct_type3,
    check_entity_contradiction,
    check_single_rule_contradiction,
)
from ..config import DICTIONARY_BROADCAST_MAX_ROWS
from ..operators.linking import canonicalize_variables, link_mentions
from ..operators.mentions import extract_mentions
from ..operators.properties import parse_atomic_rules
from ..operators.relations import extract_triples_from_arrays
from ..operators.rule_filter import rule_sentences
from ..operators.rules import build_edges, build_nodes, build_rules, encode_values
from ..operators.sentences import extract_sentences


class KGResult:
    """Stage-output bundle. ``entities`` is LAZY: the canonicalization
    path contains driver-side eager work (dictionary collect + greedy
    resolve), so it only runs when a consumer actually needs the entity
    dictionary — the triples-only flagship never pays for it."""

    def __init__(
        self,
        sentences: DataFrame,
        rule_sentences: DataFrame,
        mentions: DataFrame,
        triples: DataFrame,
        entities: DataFrame | None = None,
        entities_fn=None,
    ):
        self.sentences = sentences
        self.rule_sentences = rule_sentences
        self.mentions = mentions
        self.triples = triples
        self._entities = entities
        self._entities_fn = entities_fn
        self.rules: DataFrame | None = None
        self.nodes: DataFrame | None = None
        self.edges: DataFrame | None = None
        self.findings: dict[str, DataFrame] = {}
        self.cached: list[DataFrame] = []  # frames the stages persisted

    def unpersist(self) -> None:
        """Release the frames the stages persisted, and only those: a
        caller's own caches survive (never ``clearCache``)."""
        for df in self.cached:
            df.unpersist()
        self.cached = []

    @property
    def entities(self) -> DataFrame:
        if self._entities is None:
            if self._entities_fn is None:
                raise ValueError("KGResult has neither entities nor entities_fn")
            self._entities = self._entities_fn()
        return self._entities


def extract_stage(pages: DataFrame, url_partitions: int | None = None) -> KGResult:
    """EP1+EP2: pages -> sentences/rule_sentences/mentions/triples +
    canonical entities. Pure transformations — nothing is executed here."""
    sentences = extract_sentences(pages, url_partitions=url_partitions)
    sentences = sentences.persist()  # feeds 4 downstream branches
    rules_s = rule_sentences(sentences)
    mentions_arr = extract_mentions(sentences, explode=False).persist()
    from ..operators.mentions import _explode_mentions

    mentions = _explode_mentions(mentions_arr)  # explode_outer: no UDF re-eval
    triples = extract_triples_from_arrays(mentions_arr)
    from ..operators.linking import canonical_entities  # local: avoids cycle

    result = KGResult(
        sentences=sentences,
        rule_sentences=rules_s,
        mentions=mentions,
        triples=triples,
        entities_fn=lambda: canonical_entities(mentions),
    )
    result.cached += [sentences, mentions_arr]
    return result


def canonical_triples(
    result: KGResult, max_broadcast_entities: int = DICTIONARY_BROADCAST_MAX_ROWS
) -> DataFrame:
    """Rewrite triples' surfaces to canonical entity ids (N4 over both
    subj and obj): triples_canonical(subj_id, subj, pred, obj_id, obj,
    url, sent_id). Each side is one ``link_mentions`` call, which picks
    the broadcast or the salted path by dictionary size."""
    entities = result.entities
    linked = link_mentions(result.triples, entities, "subj", max_broadcast_entities)
    linked = linked.withColumnsRenamed({"entity_id": "subj_id", "canonical": "subj_canonical"})
    linked = link_mentions(linked.drop("sim"), entities, "obj", max_broadcast_entities)
    return linked.select(
        "subj_id",
        F.col("subj_canonical").alias("subj"),
        "pred",
        F.col("entity_id").alias("obj_id"),
        F.col("canonical").alias("obj"),
        "url",
        "sent_id",
    )


def rules_stage(result: KGResult) -> KGResult:
    """EP3 steps 1-6: clauses -> behaviours -> atomic rules -> linked,
    variable-canonicalized, value-encoded rules -> graph tables.

    ``atomic`` is persisted where it fans out: after the parse (read by
    the link and its join-back) and after the variable join-back (read
    by both value-dictionary branches and the encode join-back). Each
    generative UDF then runs once per job: the value dictionary's
    collect (its rank checkpoint above one Arrow batch) fills both
    caches, and the ``rules`` write reads them. The caches join
    ``result.cached``."""
    clauses = split_conditions(with_context(result.rule_sentences, result.sentences))
    behaviours = generate_behaviours(clauses, result.mentions)
    atomic = parse_atomic_rules(behaviours).persist()
    result.cached.append(atomic)

    # N4: link each atomic rule's entity surface to its canonical entity
    atomic = link_mentions(atomic, result.entities, surface_col="entity_surface").drop("sim")

    # N5: per-entity variable canonicalization, joined back broadcast
    var_map = canonicalize_variables(atomic.select("entity_id", "var"))
    atomic = (
        atomic.join(F.broadcast(var_map), on=["entity_id", "var"], how="left")
        .withColumn("canonical_var", F.coalesce("canonical_var", "var"))
        .persist()
    )
    result.cached.append(atomic)

    # N7 + N8-N10
    atomic = encode_values(atomic)
    rules = build_rules(atomic).persist()
    result.cached.append(rules)
    result.rules = rules
    result.nodes = build_nodes(result.entities, rules)
    result.edges = build_edges(rules)
    return result


def query_stage(result: KGResult) -> KGResult:
    """EP3 step 7: the six contradiction checks."""
    assert result.rules is not None and result.edges is not None
    flagged = check_entity_contradiction(result.rules).persist()
    bad_rules = check_single_rule_contradiction(result.rules, flagged).persist()
    # the reference excludes Q2-flagged (self-contradictory) rules from
    # ALL FOUR pairwise checks (CoAP_contradiction_checking.py:603,734,
    # 824,925) — a self-contradictory rule is unsat against anything.
    result.findings = {
        "entity_contradictions": flagged,
        "single_rule_contradictions": bad_rules,
        "direct_type_1": check_direct_type1(result.rules, flagged, exclude_rules=bad_rules),
        "direct_type_2": check_direct_type2(result.rules, flagged, exclude_rules=bad_rules),
        "direct_type_3": check_direct_type3(result.rules, result.edges, exclude_rules=bad_rules),
        "conditional": check_conditional(result.rules, flagged, exclude_rules=bad_rules),
    }
    return result
