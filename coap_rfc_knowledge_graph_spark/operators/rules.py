"""N7-N10: value encoding, rule objects, graph materialization.

Reference semantics:
- N7 value dictionary (``src/CoAP_contradiction_checking.py:455-481``):
  distinct atomic-rule values; float-parsable strings become their float,
  others get synthetic ids counting up from 999999. The reference counts
  in Python-set iteration order (nondeterministic); we assign ids by
  lexicographic rank — deterministic under any partitioning (documented
  divergence, FIXTURES.md §4) and irrelevant to contradiction semantics
  (ids only need to be distinct and collision-free with real values).
- N8 requirement level / connective (``:335-348``): STRONG iff a strong
  modal is a substring of the rule sentence; OR iff ``\\bor\\b`` matches.
- N9 per-entity rule numbering (``:361-367``): running counter in clause
  order -> ``row_number`` over a (entity) window ordered by clause
  position.
- N10 antecedent->consequent condition edges (``:370-377``): the
  reference stashes antecedent rule-nodes and connects them to the next
  consequent clause's rule-nodes, resetting after each consequent. With
  paired A/C splits (one antecedent clause then one consequent clause
  per conditional sentence — the splitter's output shape) this is
  exactly the within-sentence antecedent x consequent product, which we
  compute as an equi-join on the rule-sentence key. SURVEY §2.4 N10.

Graph tables (north rule): ``nodes(id, kind, payload)`` +
``edges(src, dst, relation)`` — GraphFrames-compatible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import VALUE_DICT_SEED
from ..functions.ranking import spark_order_key, zip_with_rank
from ..functions.rows import collect_one_batch, local_frame

# --- N7: value dictionary encode ----------------------------------------------


def value_dictionary(atomic_rules: DataFrame) -> DataFrame:
    """distinct values -> (value, value_num). Floats (Spark's
    ``try_cast`` to double) pass through; non-floats, a null value
    included, get 999999 + lexicographic rank, nulls first.

    Up to one Arrow batch of distinct values
    (``functions.rows.collect_one_batch``), the dictionary is built on
    the driver from that one collect: Python's ``sorted`` ranks the
    non-floats in Spark's order, and the result is an Arrow-backed
    local frame. No range exchange, no rank checkpoint. The driver work
    is a sort, so the batch size alone bounds it: on a 4-core
    ``local[4]`` host the driver path took 0.40 s at 2048 values against
    1.10 s distributed, 0.63 s against 0.96 s at 16384, and lost only at
    131072 (2.7 s against 2.3 s).

    Above one batch, the rank comes from the distributed two-stage
    zipWithIndex (``functions.ranking``), NOT a global window: the
    distinct non-float set grows with the corpus (every unmatched N6
    behaviour text becomes a value), so a single-task total-order sort
    here would be a scale-path bottleneck (VERDICT r2 item 3)."""
    as_float = F.col("value").try_cast("double")  # ANSI-safe: non-floats -> null
    # checkpointed before the probe: above one batch both branches below
    # read the probe's aggregate instead of running it again
    distinct_vals = (
        atomic_rules.select("value")
        .distinct()
        .select("value", as_float.alias("value_num"))
        .localCheckpoint(eager=False)
    )
    rows = collect_one_batch(distinct_vals)
    if rows is not None:
        words = sorted((r["value"] for r in rows if r["value_num"] is None), key=spark_order_key)
        floats = [r for r in rows if r["value_num"] is not None]
        return local_frame(
            atomic_rules.sparkSession,
            {
                "value": [r["value"] for r in floats] + words,
                "value_num": [r["value_num"] for r in floats]
                + [float(VALUE_DICT_SEED + k) for k in range(len(words))],
            },
            "value string, value_num double",
        )
    floats = distinct_vals.filter(F.col("value_num").isNotNull())
    words = distinct_vals.filter(F.col("value_num").isNull()).select("value")
    non_floats = zip_with_rank(words, ["value"]).select(
        "value", (F.lit(VALUE_DICT_SEED) + F.col("idx")).cast("double").alias("value_num")
    )
    return floats.unionByName(non_floats)


def encode_values(atomic_rules: DataFrame) -> DataFrame:
    """Join the dictionary back (broadcast — it is dictionary-sized);
    adds ``value_num`` to every atomic rule with zero shuffle of the
    corpus-sized side."""
    dictionary = value_dictionary(atomic_rules)
    return atomic_rules.join(F.broadcast(dictionary), on="value")


# --- N8-N9: rule assembly -----------------------------------------------------


def build_rules(atomic_linked: DataFrame) -> DataFrame:
    """Atomic rules (with entity_id/canonical/canonical_var/value_num) ->
    rules table, one row per (clause, entity):

    rules(rule_id, entity_id, canonical, rule_number, connective, level,
          condition, url, sent_id, rule_num, clause_id, sentence,
          atoms array<struct<var,op,value_num>>)
    """
    grouped = (
        atomic_linked.groupBy(
            "url", "sent_id", "rule_num", "clause_id", "condition", "entity_id", "canonical"
        )
        .agg(
            F.first("sentence").alias("sentence"),
            F.first("is_strong").alias("is_strong"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("atom_id"),
                        F.col("canonical_var").alias("var"),
                        F.col("op"),
                        F.col("value_num"),
                    )
                )
            ).alias("atoms_sorted"),
        )
        .withColumn(
            "atoms",
            F.transform(
                "atoms_sorted",
                lambda a: F.struct(a["var"].alias("var"), a["op"].alias("op"), a["value_num"].alias("value_num")),
            ),
        )
        .drop("atoms_sorted")
    )
    grouped = grouped.withColumn(
        "connective",
        F.when(F.col("sentence").rlike(r"\bor\b"), "OR").otherwise("AND"),
    ).withColumn("level", F.when(F.col("is_strong"), "STRONG").otherwise("WEAK"))
    w = Window.partitionBy("entity_id").orderBy("url", "rule_num", "clause_id")
    grouped = grouped.withColumn("rule_number", F.row_number().over(w))
    return grouped.withColumn(
        "rule_id", F.concat_ws(" ", F.col("canonical"), F.lit("rule"), F.col("rule_number"))
    ).drop("is_strong")


# --- N10 + graph materialization ----------------------------------------------


def build_nodes(entities: DataFrame, rules: DataFrame) -> DataFrame:
    """nodes(id, kind, payload): entity nodes (payload = canonical) and
    rule nodes (payload = JSON of the rule body)."""
    ent_nodes = entities.select(
        F.col("canonical").alias("id"), F.lit("entity").alias("kind"), F.col("canonical").alias("payload")
    )
    rule_nodes = rules.select(
        F.col("rule_id").alias("id"),
        F.lit("rule").alias("kind"),
        F.to_json(F.struct("connective", "level", "condition", "sentence", "atoms")).alias("payload"),
    )
    return ent_nodes.unionByName(rule_nodes)


def build_edges(rules: DataFrame) -> DataFrame:
    """edges(src, dst, relation): entity->rule 'rule' edges plus
    antecedent->consequent 'condition' edges (N10 as an equi-join on the
    rule-sentence key — both sides are url-partitioned rule rows)."""
    rule_edges = rules.select(
        F.col("canonical").alias("src"), F.col("rule_id").alias("dst"), F.lit("rule").alias("relation")
    )
    antecedents = rules.filter(F.col("condition") == "Antecedent rule").select(
        "url", "rule_num", F.col("rule_id").alias("src")
    )
    consequents = rules.filter(F.col("condition") == "Consequent rule").select(
        "url", "rule_num", F.col("rule_id").alias("dst")
    )
    cond_edges = antecedents.join(consequents, on=["url", "rule_num"]).select(
        "src", "dst", F.lit("condition").alias("relation")
    )
    return rule_edges.unionByName(cond_edges)
