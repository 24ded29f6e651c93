"""Cross-pack contract for every term-filter language pack in
``LANGUAGE_PACKS``: one chain class runs each pack's term function, so
the index side (``term_filter_unique`` at dictionary-encode time) and
the query side (``analyze``) must agree on every golden surface form; the
chain rides the Arrow fast path; namespaced ``<field>:<term>`` postings
pass through; stop filtering switches the pack's own stop set; and a
pack module is imported only when its chain is built."""

import ast
import importlib
import json
import pathlib
import pickle
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

from lucenenet_spark.analysis.analyzer import (
    ENGLISH_STOP_WORDS,
    LANGUAGE_PACKS,
    analyze_flat_arrow,
    analyzer_for,
    arrow_fast_path_for,
)

TESTS = pathlib.Path(__file__).parent
PACKS = sorted(LANGUAGE_PACKS)
# the golden table of each pack lives in its own test module
_GOLDEN_FILE = {"english": "test_english_analyzer.py", "ascii_folding": "test_ascii_folding.py"}


def _surfaces(name: str) -> list[str]:
    """The surface forms of the pack's GOLDEN table."""
    path = TESTS / _GOLDEN_FILE.get(name, f"test_{name}.py")
    for node in ast.parse(path.read_text(encoding="utf-8")).body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "GOLDEN":
            return [g if isinstance(g, str) else g[0] for g in ast.literal_eval(node.value)]
    raise LookupError(f"no GOLDEN table in {path}")


def _chain(name: str, stop_words=ENGLISH_STOP_WORDS):
    return analyzer_for(name, stop_words, 255, False)


def _pack_module(name: str):
    return importlib.import_module(f"lucenenet_spark.analysis.{LANGUAGE_PACKS[name][0]}")


def test_every_pack_has_golden_forms():
    assert len(PACKS) == 31
    for name in PACKS:
        assert _surfaces(name), name


@pytest.mark.parametrize("name", PACKS)
def test_chain_runs_the_tables_term_function(name):
    a = _chain(name)
    assert arrow_fast_path_for(a)
    assert a.term is getattr(_pack_module(name), LANGUAGE_PACKS[name][2])
    # a module-level function: the chain pickles by reference
    assert pickle.loads(pickle.dumps(a)).term is a.term


@pytest.mark.parametrize("name", PACKS)
def test_namespaced_terms_pass_through(name):
    keys = [f"f:{s}" for s in _surfaces(name)]
    out = _chain(name).term_filter_unique(np.array(keys, dtype=object))
    assert list(out) == keys


@pytest.mark.parametrize("name", PACKS)
def test_query_and_index_side_agree_on_golden_forms(name):
    a = _chain(name)
    surfaces = _surfaces(name)
    codes, uniques, doc_idx, positions, _ = analyze_flat_arrow(pa.array(surfaces), a)
    indexed = [[] for _ in surfaces]
    for c, d in zip(codes, doc_idx):
        indexed[d].append(uniques[c])
    for s, got in zip(surfaces, indexed):
        assert got == a.analyze(s).tokens, s
    # and term by term, on the raw tokens the stop filter keeps
    for s in surfaces:
        toks = [t for t in a.tokenize(s) if t not in a.stop_words]
        assert list(a.term_filter_unique(np.array(toks, dtype=object))) == a.analyze(s).tokens, s


@pytest.mark.parametrize("name", PACKS)
def test_stop_words_switch_the_packs_own_set(name):
    own = LANGUAGE_PACKS[name][1]
    for given in (ENGLISH_STOP_WORDS, frozenset({"zzz"})):
        expected = getattr(_pack_module(name), own) if own else given
        assert _chain(name, given).stop_words == expected
    assert _chain(name, frozenset()).stop_words == frozenset()


def test_pack_modules_load_lazily():
    code = """
import json, sys
import lucenenet_spark.analysis.analyzer as an
packs = {m for m, _, _ in an.LANGUAGE_PACKS.values()}
def loaded():
    return sorted(p for p in packs if f"lucenenet_spark.analysis.{p}" in sys.modules)
before = loaded()
an.analyzer_for("italian", an.ENGLISH_STOP_WORDS, 255, False)
print(json.dumps([before, loaded()]))
"""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=TESTS.parent, capture_output=True, text=True, check=True
    )
    assert json.loads(out.stdout) == [[], ["italian"]]
