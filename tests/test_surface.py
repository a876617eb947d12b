"""Every public top-level function or class of the package has a caller
outside the tests: the package itself, ``jobs/``, ``__spark_entry__.py``,
``perfbench/`` or ``tools/``. A definition only tests reach is dead
surface; delete it, or name it below with the reason it stays."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "coap_rfc_knowledge_graph_spark")

# test oracles and test-data generators: their callers are the tests
ORACLES = {
    "lm_logprob_reference": "pure-Python oracle for corpus_lm.lm_logprob",
    "load_entity_pieces": "entity-piece set the wordpiece tests recompute expectations from",
    "synthetic_web_edges": "seeded power-law graph generator for the webgraph tests",
    "cosine_topk": "exact top-k reference for the IVF tests",
    "write_warc": "spec-shaped WARC writer the WARC reader tests parse",
}
# library operators with no in-repo caller yet, each covered by its own
# tests; ROADMAP lists them for a keep-or-delete decision
UNCALLED = {
    "cosine": "stub_models",
    "lm_coverage_filter": "corpus_lm",
    "lm_logprob": "corpus_lm",
    "exact_duplicates": "dedup",
    "dedup_exact": "dedup",
    "embedding_near_duplicates": "dedup",
    "sample_video_frames": "multimodal",
    "token_counts": "text_stats",
    "harmonic_centrality_sketch": "webgraph",
    "save_table": "catalog",
    "rfc_pages": "pages",
    "write_sentences_text": "sinks",
}


def _py_files(top: str) -> list[str]:
    if top.endswith(".py"):
        return [top]
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _referenced_names() -> set[str]:
    """Names used as code (not in strings or docstrings) by the callers."""
    names: set[str] = set()
    for top in (PACKAGE, "jobs", "__spark_entry__.py", "perfbench", "tools"):
        for path in _py_files(os.path.join(ROOT, top)):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.ImportFrom):
                    names.update(alias.name for alias in node.names)
    return names


def _public_definitions() -> dict[str, str]:
    """name -> path relative to the repo, for every public top-level
    function or class of the package."""
    defs = {}
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            is_def = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            if is_def and not node.name.startswith("_"):
                defs[node.name] = os.path.relpath(path, ROOT)
    return defs


def test_every_public_definition_has_a_non_test_caller():
    referenced = _referenced_names()
    kept = ORACLES.keys() | UNCALLED.keys()
    dead = sorted(
        f"{path}:{name}"
        for name, path in _public_definitions().items()
        if name not in referenced and name not in kept
    )
    assert not dead, f"{len(dead)} definitions only tests reach: {dead}"


def test_kept_lists_name_live_definitions():
    """A kept name that no longer exists, or that gained a caller, is
    stale and leaves the list."""
    defs = _public_definitions()
    referenced = _referenced_names()
    kept = ORACLES.keys() | UNCALLED.keys()
    assert sorted(kept - defs.keys()) == []
    assert sorted(n for n in kept if n in referenced) == []
    for name, module in UNCALLED.items():
        assert os.path.basename(defs[name]) == f"{module}.py", (name, defs[name])
