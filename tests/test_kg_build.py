"""Tests for linking (N1-N5), property parsing (N6), rule build (N7-N10)
and the contradiction checks (Q1-Q7).

The N6 test pins the Spark when-chain against an in-process Python oracle
that re-states the reference's ``extract_properties`` semantics
(``/root/reference/src/CoAP_contradiction_checking.py:26-202``) —
branch-for-branch, written from the studied behaviour, not copied.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.functions import stub_models
from coap_rfc_knowledge_graph_spark.functions.solver import check_sat
from coap_rfc_knowledge_graph_spark.operators.linking import (
    candidate_pairs_bruteforce,
    candidate_pairs_lsh,
    canonical_entities,
    distinct_surfaces,
    embedded_surfaces,
    link_surfaces,
    resolve_greedy,
    salted_top1_join,
)
from coap_rfc_knowledge_graph_spark.operators.properties import parse_atomic_rules
from coap_rfc_knowledge_graph_spark.operators.rules import (
    build_edges,
    build_rules,
    encode_values,
    value_dictionary,
)

# --- solver unit tests (no Spark) --------------------------------------------


def test_solver_simple_conjunction_sat():
    assert check_sat([("AND", [("x", ">", 1.0), ("x", "<", 5.0)])])
    assert check_sat([("AND", [("x", "=", 3.0)]), ("AND", [("y", "=", 4.0)])])


def test_solver_direct_contradiction():
    assert not check_sat([("AND", [("x", "=", 1.0)]), ("AND", [("x", "=", 2.0)])])
    assert not check_sat([("AND", [("x", ">", 5.0), ("x", "<", 5.0)])])
    assert not check_sat([("AND", [("x", ">=", 5.0), ("x", "<", 5.0)])])
    assert check_sat([("AND", [("x", ">=", 5.0), ("x", "<=", 5.0)])])
    assert not check_sat([("AND", [("x", ">=", 5.0), ("x", "<=", 5.0), ("x", "!=", 5.0)])])


def test_solver_neq_on_open_interval_is_sat():
    assert check_sat([("AND", [("x", ">", 0.0), ("x", "<", 1.0), ("x", "!=", 0.5)])])


def test_solver_or_branching():
    # (x=1 or x=2) and x!=1 and x!=2 -> unsat
    assert not check_sat(
        [("OR", [("x", "=", 1.0), ("x", "=", 2.0)]), ("AND", [("x", "!=", 1.0), ("x", "!=", 2.0)])]
    )
    # (x=1 or x=2) and x!=1 -> sat (x=2)
    assert check_sat([("OR", [("x", "=", 1.0), ("x", "=", 2.0)]), ("AND", [("x", "!=", 1.0)])])


def test_solver_multi_var_independence():
    assert check_sat([("AND", [("x", "=", 1.0), ("y", "=", 2.0), ("z", ">", 100.0)])])


# --- N6 oracle ----------------------------------------------------------------


def _oracle_extract_properties(behaviour: str):
    """In-process restatement of the reference grammar (studied semantics)."""
    behaviour = behaviour.strip()
    bp = behaviour.split("=")[0].strip()
    sentiment = behaviour.split("=")[1].strip()
    w = lambda word: re.search(r"\b" + word + r"\b", bp)
    eq = "=" if sentiment == "True" else "!="
    nums = re.findall(r"\b\d+\b", bp)
    if w("set") and w("to"):
        return [("value", eq, bp[w("to").end():].strip())]
    if w("unknown"):
        return [("value", eq, "unknown")]
    if w(r"\d+") and (w("and") or w("to")):
        if len(nums) == 1:
            return [("value", "=", nums[0])]
        return [("value", ">", nums[0]), ("value", "<", nums[1])]
    if w("Empty") or w("empty"):
        return [("value", eq, "empty")]
    if w("decreased") and w("below"):
        return [("value", "<" if sentiment == "True" else ">=", bp[w("below").end():].strip())]
    if w("class elective"):
        return [("unrecognized option", eq, "elective")]
    if w("class critical"):
        return [("unrecognized option", eq, "critical")]
    if (w("return") or w("returned")) and w("response"):
        return [("value", eq, ".".join(nums))]
    if w("Response Code"):
        return [("value", eq, ".".join(nums) or "error")]
    if w("error code"):
        return [("value", eq, ".".join(nums) or "error")]
    if w("default value"):
        return [("value", eq, "default")]
    if w("value") and w("be"):
        return [("value", eq, bp[w("be").end():].strip())]
    if w("ignored"):
        return [("error", eq, "ignore")]
    if w("ignore"):
        return [("error", eq, "ignore")]
    if w("message format error"):
        return [("error", eq, "message format error")]
    if w("reject") and w("message"):
        return [("error", eq, "reject message")]
    if w("rejected"):
        return [("error", eq, "reject")]
    if w("Rejecting") and w("message"):
        return [("error", eq, "reject message")]
    if w("ICMP errors"):
        return [("error", eq, "ICMP errors")]
    if w("idempotent"):
        return [("idempotent", "=", sentiment)]
    return [(bp, "=", sentiment)]


_BEHAVIOUR_CASES = [
    "be set to 1 = True",
    "be set to the payload marker = False",
    "unknown version = True",
    "Lengths 9 and 15 are reserved = True",
    "be 9 to 15 = False",
    "only 7 to = True",  # single number + 'to'
    "be Empty = True",
    "be empty = False",
    "be decreased below 42 = True",
    "be decreased below 42 = False",
    "be of class elective = True",
    "be of class critical = False",
    "return a 4.04 response = True",
    "returned response = False",  # no digits -> empty value string
    "Response Code 4 04 = True",
    "Response Code nothing = False",
    "error code 5 00 = True",
    "use the default value = True",
    "value be 255 = False",
    "be silently ignored = True",
    "ignore the option = False",
    "be processed as a message format error = True",
    "reject the message = False",
    "be rejected = True",
    "Rejecting the message = True",
    "cause ICMP errors = True",
    "be idempotent = False",
    "do something novel = True",  # fallback branch
]


def test_properties_grammar_matches_oracle(spark):
    # one input row per case, distinguished by sent_id; compare per case
    rows = [
        ("u", i, 0, 0, True, "s", "Entity rule", f"server @ {b};")
        for i, b in enumerate(_BEHAVIOUR_CASES)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, sent_id int, rule_num int, clause_id int, is_strong boolean, "
        "sentence string, condition string, behaviours string",
    )
    got = parse_atomic_rules(df).orderBy("sent_id", "atom_id").collect()
    by_case: dict[int, list] = {}
    for r in got:
        by_case.setdefault(r["sent_id"], []).append((r["var"], r["op"], r["value"]))
        assert r["entity_surface"] == "server"
    for i, b in enumerate(_BEHAVIOUR_CASES):
        expect = _oracle_extract_properties(b)
        assert by_case.get(i, []) == expect, f"behaviour {b!r}: spark={by_case.get(i)} oracle={expect}"


def test_properties_malformed_atom_skipped(spark):
    df = spark.createDataFrame(
        [("u", 0, 0, 0, True, "s", "Entity rule", "no at-sign here = True;")],
        "url string, sent_id int, rule_num int, clause_id int, is_strong boolean, "
        "sentence string, condition string, behaviours string",
    )
    assert parse_atomic_rules(df).count() == 0


# --- linking ------------------------------------------------------------------


@pytest.fixture(scope="module")
def mention_df(spark):
    rows = [
        ("u1", 0, 1, 2, "Server"),
        ("u1", 1, 1, 2, "server"),
        ("u1", 2, 1, 2, "servers"),  # morphological variant -> merges
        ("u1", 3, 1, 2, "Token"),
        ("u2", 0, 1, 2, "token value"),
        ("u2", 1, 1, 2, "completely different thing"),
    ]
    return spark.createDataFrame(rows, "url string, sent_id int, begin int, end int, surface string")


def test_distinct_surfaces_lowercases_and_dedups(spark, mention_df):
    got = distinct_surfaces(mention_df)
    surfaces = {r["surface"] for r in got.collect()}
    assert surfaces == {"server", "servers", "token", "token value", "completely different thing"}


def test_greedy_clustering_merges_variants(spark, mention_df):
    ents = canonical_entities(mention_df)
    canon = {r["canonical"] for r in ents.collect()}
    # servers merged into server (first-seen); token/token value distinct or merged per embedding
    assert "server" in canon
    assert "servers" not in canon


def test_greedy_resolution_is_last_wins_chain(spark):
    """Pin the exact first-wins/chained-overwrite shape: component
    {0,1,2} with edges (0,2) then (1,2) only -> 2 follows 1 (max i), 0
    stays its own cluster (the reference's semantics, NOT min-id
    connected components)."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7])],
        "idx long, vec array<float>",
    )
    pairs = spark.createDataFrame(
        [(0, 2, 0.95), (1, 2, 0.95)], "i long, j long, sim double"
    )
    got = {r["idx"]: r["canon_idx"] for r in resolve_greedy(pairs, emb).collect()}
    assert got == {0: 0, 1: 1, 2: 1}


def test_lsh_pairs_recover_bruteforce_pairs(spark, mention_df):
    emb = embedded_surfaces(distinct_surfaces(mention_df)).persist()
    bf = {(r["i"], r["j"]) for r in candidate_pairs_bruteforce(emb).collect()}
    lsh = {(r["i"], r["j"]) for r in candidate_pairs_lsh(emb, bands=24, rows_per_band=3).collect()}
    # high-sim (>0.9) pairs should survive banding at these settings
    assert bf <= lsh or bf == lsh or len(bf - lsh) == 0


def test_link_surfaces_top1(spark, mention_df):
    ents = canonical_entities(mention_df)
    queries = spark.createDataFrame([("the server",), ("token",)], "surface string")
    got = {r["surface"]: r["canonical"] for r in link_surfaces(queries, ents).collect()}
    assert got["the server"] == "server"
    assert got["token"] == "token"


def test_salted_top1_join_correctness(spark):
    import pyspark.sql.functions as SF

    big = spark.range(1000).select(
        SF.when(SF.col("id") % 10 == 0, "tail").otherwise("head").alias("k"), "id"
    )
    small = spark.createDataFrame(
        [("head", 1, "h1"), ("head", 9, "h9"), ("tail", 5, "t5")],
        "k string, score int, tag string",
    )
    got = salted_top1_join(big, small, key="k", order_col="score", salt_buckets=4)
    rows = got.collect()
    assert len(rows) == 1000
    tags = {r["k"]: r["tag"] for r in rows}
    assert tags == {"head": "h9", "tail": "t5"}


# --- N7 + rules ---------------------------------------------------------------


def test_value_dictionary_floats_and_ids(spark):
    df = spark.createDataFrame(
        [("1",), ("2.5",), ("empty",), ("default",), ("empty",)], "value string"
    )
    got = {r["value"]: r["value_num"] for r in value_dictionary(df).collect()}
    assert got["1"] == 1.0 and got["2.5"] == 2.5
    assert got["default"] == 999999.0  # lexicographic rank 1
    assert got["empty"] == 1000000.0
    assert len(got) == 4


def test_build_rules_and_edges(spark):
    atomic = spark.createDataFrame(
        [
            # one conditional sentence: antecedent clause + consequent clause
            ("u", 10, 0, 0, True, "If x, the server MUST obey.", "Antecedent rule", "server", 0, "value", "=", "1", 7, "server", 1.0),
            ("u", 10, 0, 1, True, "If x, the server MUST obey.", "Consequent rule", "server", 0, "value", "=", "2", 7, "server", 2.0),
            # one unconditional
            ("u", 20, 1, 0, False, "The server MAY retry.", "Entity rule", "server", 0, "error", "=", "ignore", 7, "server", 999999.0),
        ],
        "url string, sent_id int, rule_num int, clause_id int, is_strong boolean, sentence string, "
        "condition string, entity_surface string, atom_id int, var string, op string, value string, "
        "entity_id long, canonical string, value_num double",
    ).withColumn("canonical_var", F.col("var"))
    rules = build_rules(atomic)
    rows = {r["rule_id"]: r for r in rules.collect()}
    assert set(rows) == {"server rule 1", "server rule 2", "server rule 3"}
    assert rows["server rule 1"]["condition"] == "Antecedent rule"
    assert rows["server rule 1"]["level"] == "STRONG"
    assert rows["server rule 3"]["level"] == "WEAK"
    edges = build_edges(rules).collect()
    rels = {(e["src"], e["dst"], e["relation"]) for e in edges}
    assert ("server", "server rule 1", "rule") in rels
    assert ("server rule 1", "server rule 2", "condition") in rels
    assert len([e for e in edges if e["relation"] == "condition"]) == 1


def test_encode_values_roundtrip(spark):
    atomic = spark.createDataFrame(
        [("a", "1"), ("b", "xyz")], "k string, value string"
    )
    got = {r["k"]: r["value_num"] for r in encode_values(atomic).collect()}
    assert got["a"] == 1.0
    assert got["b"] >= 999999.0


def test_value_dictionary_distributed_rank(spark):
    """N7 non-float ids must come from the distributed two-stage rank
    (VERDICT r2 item 3): correct lexicographic ids, and no global-order
    window (single-task sort) anywhere in the plan."""
    from coap_rfc_knowledge_graph_spark.operators.rules import value_dictionary

    vals = [f"behaviour {i:03d}" for i in range(60)] + ["1.5", "42"]
    df = spark.createDataFrame([(v,) for v in vals], "value string")
    out = value_dictionary(df)
    got = {r["value"]: r["value_num"] for r in out.collect()}
    assert got["1.5"] == 1.5 and got["42"] == 42.0
    for i in range(60):
        assert got[f"behaviour {i:03d}"] == 999999.0 + i
    # a global window would show windowspecdefinition(value ASC ...) with
    # no partition column; the distributed rank partitions by __pid
    p = str(out._jdf.queryExecution().optimizedPlan())
    assert "windowspecdefinition(value" not in p, p


def test_embedded_surfaces_scale_path_same_index(spark, mention_df):
    ds = distinct_surfaces(mention_df)
    a = {r["surface"]: r["idx"] for r in embedded_surfaces(ds, scale_path=False).collect()}
    b = {r["surface"]: r["idx"] for r in embedded_surfaces(ds, scale_path=True).collect()}
    assert a == b


def test_link_broadcast_vs_distributed_parity(spark, mention_df):
    """The can't-broadcast fallback (distributed argmax + salted
    join-back) must produce byte-identical links to the broadcast path
    (VERDICT r1 #2). sim is float32-matmul vs double-sum — compared via
    the argmax identity (entity_id/canonical), not the raw float."""
    from coap_rfc_knowledge_graph_spark.operators.linking import link_mentions

    ents = canonical_entities(mention_df)
    cols = ["url", "sent_id", "begin", "end", "surface", "entity_id", "canonical"]
    a = {tuple(r) for r in link_mentions(mention_df, ents).select(cols).collect()}
    b = {
        tuple(r)
        for r in link_mentions(mention_df, ents, max_broadcast_entities=0).select(cols).collect()
    }
    assert a == b and len(a) == mention_df.count()


def test_canonical_triples_broadcast_vs_salted_parity(spark):
    """canonical_triples over its salted path (distributed link and
    salted join-back on both sides) equals its default broadcast path,
    row for row."""
    from coap_rfc_knowledge_graph_spark.plans.pipeline import canonical_triples, extract_stage
    from coap_rfc_knowledge_graph_spark.sources.pages import synthetic_pages

    res = extract_stage(synthetic_pages(spark, 12, seed=3), url_partitions=4)
    cols = ["subj_id", "subj", "pred", "obj_id", "obj", "url", "sent_id"]
    try:
        a = sorted(tuple(r) for r in canonical_triples(res).select(cols).collect())
        b = sorted(
            tuple(r) for r in canonical_triples(res, max_broadcast_entities=0).select(cols).collect()
        )
        assert a == b and len(a) == res.triples.count() > 0
    finally:
        res.unpersist()


def test_distributed_link_has_no_cross_join_on_main_path(spark, mention_df):
    """VERDICT r2 item 2: above the broadcast budget the link must NOT
    compute the exact Q x E cross product — candidates come from the
    (band, sig) equi-join; only the zero-candidate rescue may cross."""
    from coap_rfc_knowledge_graph_spark.operators.linking import (
        link_surfaces_distributed,
    )

    ents = canonical_entities(mention_df)
    pruned = link_surfaces_distributed(
        mention_df.select("surface"), ents, exact_fallback=False
    )
    p = str(pruned._jdf.queryExecution().optimizedPlan())
    assert "Join Cross" not in p, p


def test_distributed_link_rescues_missed_surfaces(spark, mention_df):
    """With a deliberately miss-prone banding (one 16-bit band) the
    candidate join drops unrelated surfaces; the exact fallback must
    rescue every one of them with the true argmax."""
    from coap_rfc_knowledge_graph_spark.operators.linking import (
        link_surfaces,
        link_surfaces_distributed,
    )

    ents = canonical_entities(mention_df)
    qs = mention_df.select("surface")
    exact = {
        (r["surface"], r["entity_id"], r["canonical"])
        for r in link_surfaces(qs, ents).collect()
    }
    got = link_surfaces_distributed(qs, ents, bands=1, rows_per_band=16).collect()
    assert {(r["surface"], r["entity_id"], r["canonical"]) for r in got} == exact
    # and no surface is linked twice (best/rescued are disjoint)
    assert len(got) == len({r["surface"] for r in got})


@pytest.fixture(scope="module")
def skew_mention_df(spark):
    """Adversarial head-skew corpus (SURVEY §7 mandatory test): ONE
    surface ('Server') is 50% of all mentions — the head-entity shape the
    north rule's salted join exists for."""
    head = [("u%d" % (i // 10), i % 10, 1, 2, "Server") for i in range(1000)]
    tail_surfaces = ["Token", "token value", "Client", "message id", "response code",
                     "payload", "option number", "Max-Age", "Uri-Path", "ETag"]
    tail = [
        ("t%d" % (i // 10), i % 10, 1, 2, tail_surfaces[i % len(tail_surfaces)])
        for i in range(1000)
    ]
    return spark.createDataFrame(
        head + tail, "url string, sent_id int, begin int, end int, surface string"
    )


def test_salted_join_spreads_head_key(spark, skew_mention_df):
    """The head key's rows must land in MULTIPLE salt buckets (one
    reducer absorbing 50% of the corpus is exactly the skew failure the
    salting prevents)."""
    big = skew_mention_df.withColumn("q_surface", F.lower(F.col("surface")))
    small = spark.createDataFrame(
        [("server", 1.0, 7), ("token", 0.9, 8)], "q_surface string, sim double, entity_id int"
    )
    got = salted_top1_join(
        big, small, key="q_surface", order_col="sim", salt_buckets=8, keep_salt=True
    )
    spread = {
        r["q_surface"]: r["n_salts"]
        for r in got.groupBy("q_surface")
        .agg(F.countDistinct("__salt").alias("n_salts"))
        .collect()
    }
    assert spread["server"] >= 6  # 1000 rows over 8 buckets: all-but-certain
    # and no row was lost or duplicated by the salting
    assert got.count() == 1000 + 100  # server mentions + Token mentions


def test_link_mentions_head_skew_parity(spark, skew_mention_df):
    """End-to-end link_mentions on the head-skew corpus: the forced
    distributed path (LSH-pruned link + salted join-back) must equal the
    broadcast path row-for-row, including every one of the 1000 head
    mentions (VERDICT r3 item 6)."""
    from coap_rfc_knowledge_graph_spark.operators.linking import link_mentions

    ents = canonical_entities(skew_mention_df)
    cols = ["url", "sent_id", "begin", "end", "surface", "entity_id", "canonical"]
    a = sorted(tuple(r) for r in link_mentions(skew_mention_df, ents).select(cols).collect())
    b = sorted(
        tuple(r)
        for r in link_mentions(skew_mention_df, ents, max_broadcast_entities=0)
        .select(cols)
        .collect()
    )
    assert a == b and len(a) == 2000


def test_canonical_auto_scale_path_parity(spark, mention_df):
    """Forcing the above-budget path (LSH candidates + distributed
    pointer-doubling resolve) yields the same surface->entity map as the
    broadcast/driver path at recall-safe band settings."""
    from coap_rfc_knowledge_graph_spark.operators.linking import _build_canonical

    _, members_a = _build_canonical(mention_df)
    _, members_b = _build_canonical(
        mention_df, max_broadcast_surfaces=0, bands=24, rows_per_band=3
    )
    a = {(r["surface"], r["entity_id"]) for r in members_a.collect()}
    b = {(r["surface"], r["entity_id"]) for r in members_b.collect()}
    assert a == b


def test_properties_variant_mqtt_skips_branches(spark):
    """MQTT/AMQP variants drop the numeric-range and return+response
    branches (reference comments them out) — inputs that hit those
    branches under 'coap' fall through to later branches instead."""
    rows = [
        ("u", 0, 0, 0, True, "s", "Entity rule", "server @ Lengths 9 and 15 are reserved = True;"),
        ("u", 1, 0, 0, True, "s", "Entity rule", "server @ return a 4 04 response = True;"),
    ]
    schema = (
        "url string, sent_id int, rule_num int, clause_id int, is_strong boolean, "
        "sentence string, condition string, behaviours string"
    )
    df = spark.createDataFrame(rows, schema)
    coap = {(r["sent_id"], r["var"], r["op"], r["value"]) for r in parse_atomic_rules(df).collect()}
    mqtt = {(r["sent_id"], r["var"], r["op"], r["value"]) for r in parse_atomic_rules(df, variant="mqtt").collect()}
    # coap: range branch -> two atoms; mqtt: falls through to fallback
    assert (0, "value", ">", "9") in coap and (0, "value", "<", "15") in coap
    assert not any(s == 0 and op in (">", "<") for s, _, op, _ in mqtt)
    # coap: return+response -> value = 4.04; mqtt: falls to Response Code? no ->
    # 'response' branch gone, no 'Response Code' (case), falls through
    assert (1, "value", "=", "4.04") in coap
    assert (1, "value", "=", "4.04") not in mqtt
