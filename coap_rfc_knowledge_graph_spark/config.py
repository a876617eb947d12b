"""Shared constants of the pipeline.

Semantics sources (reference, studied not copied):
- modal keyword lists: ``src/CoAP_contradiction_checking.py:229-230``
- relation label set: ``src/relation_extractor.py:59-60``
- pronoun list: ``src/corefernece_resolution.py:108``
- similarity threshold: ``src/CoAP_contradiction_checking.py:278,414``
- value-dictionary seed: ``src/CoAP_contradiction_checking.py:468``
"""

MODAL_KEYWORDS = ["MUST", "REQUIRED", "SHALL", "SHOULD", "RECOMMENDED", "MAY", "OPTIONAL"]
STRONG_MODAL_KEYWORDS = ["MUST", "REQUIRED", "SHALL"]

# regex form of the modal filter (substring semantics, so no \b anchors --
# the reference uses `keyword in sentence`)
MODAL_REGEX = "|".join(MODAL_KEYWORDS)
STRONG_MODAL_REGEX = "|".join(STRONG_MODAL_KEYWORDS)

RELATIONS = {
    "NO RELATION": 0,
    "EQUIVALENT": 1,
    "HAS TYPE": 2,
    "HAS FIELD": 3,
    "TYPE OF": 4,
    "FIELD OF": 5,
    "HAS FEATURE": 6,
    "FEATURE OF": 7,
}
RELATION_NAMES = {v: k for k, v in RELATIONS.items()}

PRONOUNS = [
    "it", "its", "they", "their", "them",
    "this field", "the field", "this value", "the value", "the packet",
]

# entity/variable merge threshold (cosine)
SIMILARITY_THRESHOLD = 0.9

# synthetic float ids for non-numeric rule values
VALUE_DICT_SEED = 999999

# coref / properties context window: 5 preceding sentences + current
CONTEXT_WINDOW = 5

# embedding dimensionality of the deterministic stub phrase encoder
EMBED_DIM = 64

# BERT-ish tokenizer limits
MAX_TOKENS = 512

# salt buckets for the head-entity-skew link join (operators/linking.py)
LINK_SALT_BUCKETS = 8

# dictionary-size budget (rows) for driver-collect/broadcast paths in the
# canonicalization + link stages. Below: broadcast-matmul link, driver-side
# greedy resolve, brute-force candidate pairs. Above: LSH candidate pairs,
# pointer-doubling resolve, distributed shuffle top-1 link + salted join-back.
# Sized so the collected side stays well under typical 8 GiB driver/executor
# budgets (rows * (surface bytes + EMBED_DIM floats) << 1 GiB).
DICTIONARY_BROADCAST_MAX_ROWS = 2_000_000
