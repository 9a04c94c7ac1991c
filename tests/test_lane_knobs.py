"""Guard on public lane knobs: string parameters that pick a physical plan.

Each operator runs one physical lane, or picks between lanes from what
the plan already has (``hash_mode``, the schema, a footer row count).
A public function that takes a string-defaulted ``engine``,
``first_mode``, ``df_mode``, ``strategy`` or ``score_mode`` parameter
fails this test until it is listed below, with the ``tools/race.py``
race that earned it a place (docs/perf.md, "Lane races").
"""

from __future__ import annotations

import ast
from pathlib import Path

KNOB_NAMES = {"engine", "first_mode", "df_mode", "strategy", "score_mode"}

# (module path under patito_spark/, function, parameter)
ALLOWED: set[tuple[str, str, str]] = set()

PACKAGE = Path(__file__).resolve().parent.parent / "patito_spark"


def _lane_knobs() -> set[tuple[str, str, str]]:
    found = set()
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
                if (
                    arg.arg in KNOB_NAMES
                    and isinstance(default, ast.Constant)
                    and isinstance(default.value, str)
                ):
                    found.add((rel, node.name, arg.arg))
    return found


def test_public_lane_knobs_are_the_raced_survivors():
    assert _lane_knobs() == ALLOWED


def test_at_most_four_lane_knobs():
    assert len(ALLOWED) <= 4
