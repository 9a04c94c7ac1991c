"""The floor file is validated when bench.py loads it."""

import json
import os

import pytest

from bench import load_floor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(tmp_path, doc):
    path = tmp_path / "floor.json"
    path.write_text(json.dumps(doc))
    return str(path)


def test_load_floor_accepts_valid_docs(tmp_path):
    committed = load_floor(os.path.join(ROOT, "BENCH_FLOOR.json"))
    assert committed["queries"] and committed["cpus"] > 0
    # No 'cpus' field is valid: main() then applies no guard.
    doc = {"sf": 0.1, "queries": {"ann_topk": 0.4, "dedup_exact": 1}}
    assert load_floor(_write(tmp_path, doc)) == doc


@pytest.mark.parametrize(
    "doc, field",
    [
        ({"sf": 0.1, "cpus": 32, "queries": {"ann_topk": 0.4, "dedup_exact": -1}},
         "'queries' entry 'dedup_exact'"),
        ({"sf": "0.1", "cpus": 32, "queries": {"ann_topk": 0.4}}, "'sf'"),
    ],
    ids=["negative-floor", "string-sf"],
)
def test_load_floor_names_the_bad_field(tmp_path, doc, field):
    with pytest.raises(ValueError, match=field):
        load_floor(_write(tmp_path, doc))
