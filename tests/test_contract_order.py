"""Order of the driver contract's queries(): the external driver
hash-verifies a prefix sample of it."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402


def test_queries_lead_with_oracle_keys_the_last_sample_missed():
    with open(os.path.join(ROOT, "CORRECTNESS_r05.json")) as fh:
        sampled = set(json.load(fh))
    oracled = set(entry.oracle_sql())
    keys = list(entry.queries())
    unsampled = oracled - sampled
    assert len(unsampled) == 34
    assert set(keys[:34]) == unsampled
    # every oracle-backed key still precedes every rows-only key
    assert set(keys[: len(oracled)]) == oracled
