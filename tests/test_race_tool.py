"""tools/race.py's module swap, checked without a Spark job."""

import importlib.util
import os
import sys

from pyspark import cloudpickle

_RACE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "race.py"
)

OLD_TEXT = '''
def tokens(text):
    return "old tokens"


def marker():
    return "old marker"
'''


def _load_race():
    spec = importlib.util.spec_from_file_location("race_tool", _RACE_PATH)
    race = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(race)
    return race


def test_old_side_swap_restores_and_pickles_by_value():
    race = _load_race()
    import patito_spark.operators as ops
    import patito_spark.operators.heuristics as heuristics
    import patito_spark.operators.text as new_text

    name = "patito_spark.operators.text"
    old_side = race.OldSide(
        "old", {name: ("patito_spark/operators/text.py", OLD_TEXT)}
    )
    # Loading alone installs nothing.
    assert sys.modules[name] is new_text and ops.text is new_text
    try:
        with old_side:
            import patito_spark.operators.text as swapped

            assert swapped.marker() == "old marker"
            assert sys.modules[name] is swapped is ops.text
            # A name an unchanged module bound at import time follows too.
            assert heuristics.tokens("x") == "old tokens"
            blob = cloudpickle.dumps(swapped.marker)

        assert sys.modules[name] is new_text and ops.text is new_text
        assert heuristics.tokens is new_text.tokens
        assert not hasattr(new_text, "marker")
        # By reference this would look up `marker` on the restored module.
        assert cloudpickle.loads(blob)() == "old marker"
    finally:
        cloudpickle.unregister_pickle_by_value(old_side.modules[name])


def test_verdict_rule():
    race = _load_race()
    old = [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0]
    assert race.verdict(old, [t - 0.2 for t in old]) == "gain"
    assert race.verdict(old, [t + 0.2 for t in old]) == "loss"
    assert race.verdict(old, list(old)) == "none"
    # 8 wins in 10 pairs is not enough, however large the gap.
    assert race.verdict(old, [t - 0.5 for t in old[:8]] + old[8:]) == "none"
    # Nor are 4 wins in 4 pairs: a verdict needs at least ten.
    assert race.verdict(old[:4], [t - 0.5 for t in old[:4]]) == "none"
