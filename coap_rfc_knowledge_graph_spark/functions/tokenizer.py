"""Deterministic BERT-style tokenizer (dependency-free).

The reference tokenizes with HuggingFace ``BertTokenizer('bert-base-cased')``
padded to ``max_length=512`` (``src/entity_extractor.py:56``,
``src/extract_all_MQTT_entities.py:86``). Neither transformers nor model
vocab files exist in this container, so this module provides a stable
wordpiece-lite tokenizer with the same *interface semantics* the pipeline
depends on:

- ``[CLS] tok ... [SEP] [PAD]*`` layout, truncation at MAX_TOKENS
- token <-> span bookkeeping so mention (begin, end) token indexes decode
  back to surface text (``tokenizer.decode`` analogue)

Tokens, not ids, are the carried representation in DataFrames — they are
self-describing and debuggable.
"""

from __future__ import annotations

import re

from ..config import MAX_TOKENS

CLS, SEP, PAD = "[CLS]", "[SEP]", "[PAD]"
SPECIAL_TOKENS = {CLS, SEP, PAD, "[E1]", "[/E1]", "[E2]", "[/E2]"}

_TOKEN_RE = re.compile(r"\w+|[^\w\s]")


def tokenize(sentence: str, max_tokens: int = MAX_TOKENS, pad: bool = True) -> list[str]:
    """Sentence -> [CLS] tokens [SEP] (+ [PAD] fill), truncating like the
    reference's ``padding='max_length', truncation=True``."""
    toks = _TOKEN_RE.findall(sentence)
    toks = toks[: max_tokens - 2]
    out = [CLS] + toks + [SEP]
    if pad and len(out) < max_tokens:
        out.extend([PAD] * (max_tokens - len(out)))
    return out


_NO_SPACE_BEFORE = set(".,;:!?)]}%'\"-")
_NO_SPACE_AFTER = set("([{$#\"'-")


def decode(tokens: list[str], skip_special_tokens: bool = True) -> str:
    """Token list -> surface string (HF ``decode`` analogue): joins with
    spaces, no space before closing punctuation / after openers."""
    parts: list[str] = []
    for tok in tokens:
        if skip_special_tokens and tok in SPECIAL_TOKENS and tok in {CLS, SEP, PAD}:
            continue
        if parts and (tok in _NO_SPACE_BEFORE or (parts[-1] and parts[-1][-1] in _NO_SPACE_AFTER)):
            parts.append(tok)
        else:
            parts.append((" " if parts else "") + tok)
    return "".join(parts)


def decode_span(tokens: list[str], begin: int, end: int) -> str:
    """Decode tokens[begin:end+1] skipping specials — the reference's
    ``tokenizer.decode(ids[start:end+1], skip_special_tokens=True)``
    (``src/extract_all_MQTT_entities.py:119-120``)."""
    return decode(tokens[begin : end + 1], skip_special_tokens=True)
