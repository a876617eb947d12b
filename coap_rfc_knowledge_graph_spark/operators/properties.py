"""N6: behaviour grammar -> atomic (property, op, value) rules — 100% native.

Reference semantics: ``extract_properties``
(``src/CoAP_contradiction_checking.py:26-202``; standalone twin
``src/properties_extraction.py:6-184``): an ORDERED chain of ~20
word-boundary regex branches over ``behaviour_property`` (the text before
the first '='), mapping to ops {=, !=, >, >=, <, <=} and properties
{value, error, idempotent, unrecognized option}; the numeric-range branch
emits TWO atoms (> lo, < hi); the fallback keeps the behaviour text
itself as the property. Sentiment ('True'/'False' after '=') flips = to
!= (and < to >=).

Spark shape: one ``when().when()...otherwise()`` expression chain
producing ``array<struct<var,op,value>>``, then ``posexplode``. Entirely
Catalyst — regexp predicates + regexp_extract(_all) are codegen'd JVM
work; no Python worker is involved in this stage at any scale. Branch
order is load-bearing (the reference's elif chain) and preserved 1:1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ATOMS_TYPE = "array<struct<var:string,op:string,value:string>>"


def _atom(var, op, value) -> Column:
    var = F.lit(var) if isinstance(var, str) else var
    op = F.lit(op) if isinstance(op, str) else op
    value = F.lit(value) if isinstance(value, str) else value
    return F.struct(var.alias("var"), op.alias("op"), value.alias("value"))


def atomic_rules_expr(behaviour: Column, sentiment: Column, variant: str = "coap") -> Column:
    """behaviour_property text + sentiment -> array of atomic-rule structs,
    branch-for-branch equal to the reference's elif chain.

    ``variant='mqtt'``/``'amqp'``: the reference's protocol variants
    comment out the numeric-range and return+response branches
    (``src/MQTT_contradiction_checking.py:49-56, 93-103``; same in the
    AMQP file) — those branch keys are skipped, order preserved.
    """
    bp = behaviour
    pos = sentiment == F.lit("True")
    eq_op = F.when(pos, "=").otherwise("!=")

    after = lambda word: F.trim(F.regexp_extract(bp, r"(?s)\b" + word + r"\b(.*)", 1))
    has = lambda pat: bp.rlike(r"\b" + pat + r"\b")
    nums = F.regexp_extract_all(bp, F.lit(r"\b(\d+)\b"), 1)
    nums_joined = F.array_join(nums, ".")
    num_or_error = F.when(nums_joined == "", "error").otherwise(nums_joined)

    one = lambda var, op, value: F.array(_atom(var, op, value))

    branches = [
        ("set_to", has("set") & has("to"), one("value", eq_op, after("to"))),
        ("unknown", has("unknown"), one("value", eq_op, "unknown")),
        (
            "numeric_range",
            has(r"\d+") & (has("and") | has("to")),
            F.when(F.size(nums) == 1, one("value", "=", F.element_at(nums, 1))).otherwise(
                F.array(
                    _atom("value", ">", F.element_at(nums, 1)),
                    _atom("value", "<", F.element_at(nums, 2)),
                )
            ),
        ),
        ("empty", has("Empty") | has("empty"), one("value", eq_op, "empty")),
        ("decreased_below", has("decreased") & has("below"), one("value", F.when(pos, "<").otherwise(">="), after("below"))),
        ("class_elective", has("class elective"), one("unrecognized option", eq_op, "elective")),
        ("class_critical", has("class critical"), one("unrecognized option", eq_op, "critical")),
        ("return_response", (has("return") | has("returned")) & has("response"), one("value", eq_op, nums_joined)),
        ("response_code", has("Response Code"), one("value", eq_op, num_or_error)),
        ("error_code", has("error code"), one("value", eq_op, num_or_error)),
        ("default_value", has("default value"), one("value", eq_op, "default")),
        ("value_be", has("value") & has("be"), one("value", eq_op, after("be"))),
        ("ignored", has("ignored"), one("error", eq_op, "ignore")),
        ("ignore", has("ignore"), one("error", eq_op, "ignore")),
        ("mfe", has("message format error"), one("error", eq_op, "message format error")),
        ("reject_message", has("reject") & has("message"), one("error", eq_op, "reject message")),
        ("rejected", has("rejected"), one("error", eq_op, "reject")),
        ("rejecting", has("Rejecting") & has("message"), one("error", eq_op, "reject message")),
        ("icmp", has("ICMP errors"), one("error", eq_op, "ICMP errors")),
        ("idempotent", has("idempotent"), one("idempotent", "=", sentiment)),
    ]
    skip = {"numeric_range", "return_response"} if variant in ("mqtt", "amqp") else set()
    expr = None
    for key, cond, result in branches:
        if key in skip:
            continue
        expr = F.when(cond, result) if expr is None else expr.when(cond, result)
    return expr.otherwise(one(bp, "=", sentiment)).cast(_ATOMS_TYPE)


def parse_atomic_rules(behaviours_df: DataFrame, variant: str = "coap") -> DataFrame:
    """behaviours(url, sent_id, rule_num, ..., behaviours string) ->
    atomic_rules(url, sent_id, rule_num, is_strong, sentence, condition,
    entity_surface, var, op, value, atom_id).

    Fan-out chain (all native): split the grammar string on ';' (dropping
    the trailing empty, as the reference's ``[:-1]``), explode, require an
    '@' (reference skips malformed atoms,
    ``src/CoAP_contradiction_checking.py:298-300``), split into
    entity / behaviour = sentiment, then apply the N6 when-chain and
    posexplode the resulting atom array.
    """
    segs = F.filter(
        F.transform(F.split(F.col("behaviours"), ";"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    df = behaviours_df.withColumn("atomic_raw", F.explode(segs))
    df = df.filter(F.size(F.split(F.col("atomic_raw"), "@")) >= 2)
    df = df.withColumn(
        "entity_surface", F.lower(F.trim(F.element_at(F.split(F.col("atomic_raw"), "@"), 1)))
    ).withColumn("var_sentiment", F.trim(F.element_at(F.split(F.col("atomic_raw"), "@"), 2)))
    bp = F.trim(F.element_at(F.split(F.col("var_sentiment"), "="), 1))
    sentiment = F.trim(F.element_at(F.split(F.col("var_sentiment"), "="), 2))
    df = df.withColumn("atoms", atomic_rules_expr(bp, sentiment, variant=variant))
    out = df.select(
        "url",
        "sent_id",
        "rule_num",
        "clause_id",
        "is_strong",
        "sentence",
        "condition",
        "entity_surface",
        F.posexplode("atoms").alias("atom_id", "a"),
    )
    return out.select(
        "url", "sent_id", "rule_num", "clause_id", "is_strong", "sentence", "condition", "entity_surface",
        "atom_id", F.col("a.var").alias("var"), F.col("a.op").alias("op"), F.col("a.value").alias("value"),
    )
