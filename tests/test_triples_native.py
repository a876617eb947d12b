"""Value-level verification of the flagship triple family (VERDICT r2
item 1).

Two layers:
1. ``kg_triples_native`` / ``kg_entities_native`` — the pure-Catalyst
   variant — must match the DuckDB oracle SQL value-for-value (the same
   comparison the driver runs at sf0.01, here at sf0.001 in-process).
2. The ACTUAL model-UDF flagship (`kg_triples`, `kg_entities`) content
   is pinned by an order-insensitive sha256 over all rows at sf0.001 —
   a content regression anywhere in the chain (tokenizer, tagger, span
   decode, pair markers, relation stub, canonicalization ordering) now
   fails a hard test, not just a row-count check. Hashes verified stable
   across local[3] and local[8].
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# pinned at round 3; if the stub-model contract deliberately changes,
# check the native variants against their DuckDB oracles with
# `python tools/check_oracles.py <SF> kg_triples_native kg_entities_native`
# and document the new pins in FIXTURES.md
FLAGSHIP_HASHES = {
    "kg_triples": (19174, "6164aa38d7a9b7daa3294e712f1b30c1ea332d17694ea084818bc10290189c90"),
    # re-pinned round 4: three surface pairs have TRUE cosine exactly at
    # the 0.9 threshold; the r3 value (2858) depended on float32 BLAS
    # summation order including one of them. Threshold compares are now
    # quantized to integer micro-units (linking.SIM_SCALE), which
    # excludes exact-threshold pairs under strict `>` deterministically
    # in every environment (FIXTURES.md §4).
    "kg_entities": (2859, "748a563f539a5b116971460cc0e3ef0c72e2b88b39327dd7150856f4f4425b78"),
    # round 3: the remaining rows-only kg family members, value-pinned —
    # a content regression anywhere in the sentence/coref/variables/
    # solver chains now fails here even though DuckDB can't reproduce
    # their model UDFs (kg_contradictions count includes the Q5/Q6
    # probe-page findings added this round)
    "kg_sentences": (500, "7a4fd9b287ca8538dd38ff774e7b450296593a76f0cad1d10da947001837b30e"),
    # kg_coref and kg_variables run over 32 seeded synthetic pages
    # (their RFC-corpus pins moved to RFC_MODEL_HASHES below)
    "kg_coref": (78, "bce373005da83ed1e0b0702e4989f968001ec03bf784a7576eeff50ad42d94d6"),
    "kg_variables": (125, "208b177833f90f2e7cb87557752045a752b602170b48e228dc56480918863c0f"),
    "kg_contradictions": (47, "ff70c032eecf3d7ce7f843085b027898f5f4f923f7788a27ace35ab0cc9dd0c6"),
    "kg_single_rule": (1, "0a49d010831eeebe03eac80389d6d7515bf4a4bce076f239db22be9568c0414f"),
    "kg_direct_type1": (591, "cb4de13850c44e8668ba290841b0d3474dc223771647a9ae940d19ee1261bbbe"),
    "kg_direct_type2": (4, "c508c7650d4ff9726a3a107f36e0ffc0ab7788f39e1e566bb8fa3d08f3f54f7a"),
    "kg_direct_type3": (3, "9a4127c35c2d91bb72cc61003a90f3fb328044f0067e8e1d342a57966a886cf3"),
    "kg_conditional": (4, "8b3e17db1ad06ab12242e3a17dada5c474a4fb504138d55de0fbbd07b5ce146d"),
    # round 4: the Gumbel-top-k DSIR resample is the one rows-only entry
    # in the data-selection family (float Gumbel keys aren't cross-engine
    # hashable); its selection content is pinned here instead — verified
    # identical at local[3] and local[8]. Re-pinned after widening the
    # noise draw from a 2^20-bucketed congruential to salted 62-bit
    # xxhash64 (review finding: bucket-colliding ids shared noise).
    "dsir_resample": (100, "bcb9a6cd14783e93bc5c282c3ffe67bcc3a3165b15652d7cfcd4cc1cbd5e4863"),
}


def _table_hash(df) -> tuple[int, str]:
    rows = sorted("|".join(str(v) for v in r) for r in df.collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize(
    "name,min_rows",
    [
        ("kg_triples_native", 1000),
        ("kg_entities_native", 1000),
        ("variables_native", 50),
        ("coref_native", 50),
    ],
)
def test_native_family_matches_duckdb(spark, name, min_rows):
    import __spark_entry__ as entry

    sp = entry.queries()[name](spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    ora = con.execute(entry.oracle_sql()[name]).fetchdf()
    cols = sorted(sp.columns)
    assert sorted(ora.columns) == cols
    a = sp[cols].sort_values(cols).reset_index(drop=True).astype(str)
    b = ora[cols].sort_values(cols).reset_index(drop=True).astype(str)
    assert len(a) == len(b) and len(a) > min_rows
    assert a.equals(b)


@pytest.mark.parametrize("name", sorted(FLAGSHIP_HASHES))
def test_flagship_content_hash_pinned(spark, name):
    import __spark_entry__ as entry

    n, h = _table_hash(entry.queries()[name](spark, SF))
    exp_n, exp_h = FLAGSHIP_HASHES[name]
    assert (n, h) == (exp_n, exp_h)


# the coref and variable-extractor stages over the four RFC documents
# (pinned at round 3, when kg_coref and kg_variables read this corpus)
RFC_MODEL_HASHES = {
    "coref": (369, "feedf257cefd39e28bf10656407ea39ef89909a54482c16931459503989c4c2a"),
    "variables": (431, "2faf3388954316056f777750c0536b78d45165ebf2a01beaf0bf5415b1fbb4e3"),
}


def _rfc_model_stage(spark, name):
    from coap_rfc_knowledge_graph_spark.operators.coref import resolve_coreferences
    from coap_rfc_knowledge_graph_spark.operators.rule_filter import rule_sentences
    from coap_rfc_knowledge_graph_spark.operators.sentences import extract_sentences
    from coap_rfc_knowledge_graph_spark.operators.variables import extract_variables
    from coap_rfc_knowledge_graph_spark.sources.pages import rfc_pages

    sents = extract_sentences(rfc_pages(spark), url_partitions=4)
    if name == "coref":
        return resolve_coreferences(sents, pronouns=["it", "they"])
    return extract_variables(rule_sentences(sents)).select("url", "sent_id", "sentence", "behaviours")


@pytest.mark.reference_data
@pytest.mark.parametrize("name", sorted(RFC_MODEL_HASHES))
def test_rfc_model_stage_hash_pinned(spark, name):
    assert _table_hash(_rfc_model_stage(spark, name)) == RFC_MODEL_HASHES[name]


def test_native_entities_no_global_sort(spark):
    """VERDICT r3 #2: the entity rank must come from the distributed
    zipWithIndex, not a global-order window — the physical plan must not
    contain a single-partition sort (Exchange SinglePartition feeding a
    Sort/Window)."""
    import __spark_entry__ as entry

    df = entry.queries()["kg_entities_native"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the rank must be computed per-partition (__pid windows; the range
    # exchange itself is hidden behind zip_with_rank's checkpoint scan) —
    # no window may order the full surface set by canonical (the old
    # global sort). zip_with_rank's offsets window (one row PER
    # PARTITION, keyed __pid) is the only allowed single-partition stage.
    assert "windowspecdefinition(__pid" in plan, plan
    assert "windowspecdefinition(canonical" not in plan, plan


def test_native_triples_pure_catalyst(spark):
    """The native variant must never enter Python (that's its point)."""
    import contextlib
    import io

    import __spark_entry__ as entry

    df = entry.queries()["kg_triples_native"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p and "MapInPandas" not in p
