"""Artifact loaders read their parquet through ``read_inferred``.

Each ``<Artifact>.read`` infers the schema of its directories once per
file version per session: a second load of an unchanged artifact runs no
Spark job outside the actions the loader itself calls (the metadata
``collect``/``first``/``count``), and a rewritten artifact infers again.
"""

from __future__ import annotations

import functools
import itertools

import numpy as np
import pytest

from patito_spark.operators.arpa import ArpaLm
from patito_spark.operators.quantize import IvfAdcIndex
from patito_spark.operators.similarity import IvfIndex, LshIndex
from patito_spark.operators.text import Bm25Index

_GROUPS = itertools.count()
_ACTIONS = ("collect", "count", "first", "head", "take")


def _jobs_outside_actions(spark, monkeypatch, load):
    """``(result, jobs)``: ``load()`` and the Spark jobs it launched in this
    thread outside DataFrame actions, counted with the statusTracker."""
    sc = spark.sparkContext
    group = f"artifact-load-{next(_GROUPS)}"
    depth = [0]

    def counted(fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            depth[0] += 1
            if depth[0] == 1:
                sc.setJobGroup(f"{group}-action", "action")
            try:
                return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
                if depth[0] == 0:
                    sc.setJobGroup(group, group)

        return inner

    cls = type(spark.range(1))
    with monkeypatch.context() as m:
        for name in _ACTIONS:
            m.setattr(cls, name, counted(getattr(cls, name)))
        sc.setJobGroup(group, group)
        try:
            result = load()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _lsh(spark, v):
    table = spark.createDataFrame(
        [(v, 10 + v, [0.5, float(v)])],
        "bucket long, neighbor_id long, __cvec array<double>",
    )
    return LshIndex(table, [[1.0, float(v)]], n_planes=1, seed=v)


def _ivf(spark, v):
    table = spark.createDataFrame(
        [(0, 10 + v, [1.0, float(v)])],
        "cell int, neighbor_id long, __cvec array<double>",
    )
    return IvfIndex(table, np.array([[1.0, float(v)]]), assign_metric="cosine")


def _bm25(spark, v):
    postings = spark.createDataFrame(
        [(10 + v, "tok", 1, 3)], "doc_id long, token string, tf long, dl int"
    )
    return Bm25Index(postings, n_docs=v, avgdl=3.0, id_col="doc_id")


def _ivfadc(spark, v):
    codes = spark.createDataFrame(
        [(0, 10 + v, [1, 2])], "cell int, neighbor_id long, pq_code array<smallint>"
    )
    return IvfAdcIndex(codes, np.array([[1.0, float(v)]]), {"m": 2, "v": v})


def _arpa(spark, v):
    schema = "gram string, logp double, bo double"
    tables = {
        1: spark.createDataFrame([("a", -1.0, -0.5)], schema),
        2: spark.createDataFrame([("a b", float(-v), None)], schema),
    }
    return ArpaLm(tables, {1: 1, 2: 1}, unk_log10=float(-v))


# name -> (build artifact version v, load, a value of the loaded artifact
# that differs between versions)
ARTIFACTS = {
    "lsh": (_lsh, LshIndex.read, lambda a: a.seed),
    "ivf": (_ivf, IvfIndex.read, lambda a: a.table.first()["neighbor_id"]),
    "bm25": (
        _bm25,
        lambda s, p: Bm25Index.read(s, p, materialize=False),
        lambda a: a.n_docs,
    ),
    "ivfadc": (
        _ivfadc,
        lambda s, p: IvfAdcIndex.read(s, p, materialize=False),
        lambda a: a.pq["v"],
    ),
    "arpa": (
        _arpa,
        lambda s, p: ArpaLm.read(s, p, materialize=False),
        lambda a: a.unk_log10,
    ),
}


@pytest.mark.parametrize("name", sorted(ARTIFACTS))
def test_second_load_of_an_artifact_runs_no_job_outside_its_actions(
    spark, monkeypatch, tmp_path, name
):
    build, load, _ = ARTIFACTS[name]
    path = str(tmp_path / name)
    build(spark, 1).write(path)
    _, cold = _jobs_outside_actions(spark, monkeypatch, lambda: load(spark, path))
    assert cold > 0
    _, warm = _jobs_outside_actions(spark, monkeypatch, lambda: load(spark, path))
    assert warm == 0


@pytest.mark.parametrize("name", sorted(ARTIFACTS))
def test_rewritten_artifact_infers_again(spark, monkeypatch, tmp_path, name):
    build, load, value = ARTIFACTS[name]
    path = str(tmp_path / name)
    build(spark, 1).write(path)
    assert value(load(spark, path)) == value(build(spark, 1))
    build(spark, 2).write(path, mode="overwrite")
    loaded, jobs = _jobs_outside_actions(
        spark, monkeypatch, lambda: load(spark, path)
    )
    assert jobs > 0
    assert value(loaded) == value(build(spark, 2))
