"""Guards on public lane knobs and on the hash option.

Lane knobs are string parameters that pick a physical plan. Each
operator runs one physical lane, or picks between lanes from what the
plan already has (the schema, a footer row count). A public function
that takes a string-defaulted ``engine``, ``first_mode``, ``df_mode``,
``strategy`` or ``score_mode`` parameter fails this test until it is
listed below, with the ``tools/race.py`` race that earned it a place
(docs/perf.md, "Lane races").

``hash_mode`` is not a lane knob: it picks the answer. Only functions
whose answer is the hash's choice take it — sampling, mixing, selection,
the KMV sketch and winnowing. Dedup, span and contamination operators
hash one way (portable where the hash defines the answer, ``xxhash64``
where the answer does not depend on it) and must not take it.
"""

from __future__ import annotations

import ast
from pathlib import Path

KNOB_NAMES = {"engine", "first_mode", "df_mode", "strategy", "score_mode"}

# (module path under patito_spark/, function, parameter)
ALLOWED: set[tuple[str, str, str]] = set()

# (module path under patito_spark/, function) that may take hash_mode
HASH_MODE_ALLOWED: set[tuple[str, str]] = {
    ("operators/mixing.py", "mix_corpora"),
    ("operators/sampling.py", "balance_classes"),
    ("operators/sampling.py", "cap_per_group"),
    ("operators/sampling.py", "deterministic_sample"),
    ("operators/sampling.py", "leakage_safe_split"),
    ("operators/sampling.py", "sample_exact_n"),
    ("operators/sampling.py", "stratified_sample"),
    ("operators/sampling.py", "train_test_split"),
    ("operators/sampling.py", "weighted_sample"),
    ("operators/selection.py", "dsir_lm"),
    ("operators/selection.py", "dsir_sample"),
    ("operators/selection.py", "dsir_weights"),
    ("operators/selection.py", "hashed_ngram_features"),
    ("operators/sketch.py", "kmv_distinct"),
    ("operators/winnow.py", "winnow_admission"),
    ("operators/winnow.py", "winnow_against"),
    ("operators/winnow.py", "winnow_fingerprints"),
    ("operators/winnow.py", "winnow_pairs"),
}

PACKAGE = Path(__file__).resolve().parent.parent / "patito_spark"


def _public_params():
    """(module, function, parameter, default node) of every public
    function's parameters."""
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            args = node.args
            positional = args.posonlyargs + args.args
            defaults = [None] * (len(positional) - len(args.defaults))
            pairs = list(zip(positional, defaults + list(args.defaults)))
            pairs += list(zip(args.kwonlyargs, args.kw_defaults))
            for arg, default in pairs:
                yield rel, node.name, arg.arg, default


def _lane_knobs() -> set[tuple[str, str, str]]:
    return {
        (rel, fn, arg)
        for rel, fn, arg, default in _public_params()
        if arg in KNOB_NAMES
        and isinstance(default, ast.Constant)
        and isinstance(default.value, str)
    }


def test_public_lane_knobs_are_the_raced_survivors():
    assert _lane_knobs() == ALLOWED


def test_at_most_four_lane_knobs():
    assert len(ALLOWED) <= 4


def test_hash_mode_only_where_the_hash_picks_the_answer():
    found = {
        (rel, fn) for rel, fn, arg, _ in _public_params() if arg == "hash_mode"
    }
    assert found == HASH_MODE_ALLOWED
