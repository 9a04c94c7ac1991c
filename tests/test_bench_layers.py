"""bench.py's JSON line: the headline fields and every entry's layer split."""

import ast
import json
import os

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Every environment variable bench.py reads; the layers need none.
BENCH_ENV = {
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_BENCH_RUNS",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_RACE_FLAGGED",
    "SPARK_GRAFT_RACE_RUNS",
}

LAYER_FIELDS = {
    "build_s",
    "build_jobs",
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "python_worker_cpu_s",
    "jit_ms",
    "warm_build_s",
    "warm_build_jobs",
}


def test_bench_line_carries_each_entrys_layers(spark, sf_dir, monkeypatch, capsys):
    entries = ["q6_forecast_revenue", "rel_from_parquet_path"]
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", ",".join(entries))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    bench.main()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    for key in ("metric", "unit", "sf", "cpus", "host_drift", "regressions"):
        assert key in line
    assert isinstance(line["value"], float)
    assert isinstance(line["queries"], dict) and sorted(line["queries"]) == entries
    assert all(isinstance(t, float) for t in line["queries"].values())
    assert line["value"] == round(sum(line["queries"].values()), 3)

    assert sorted(line["layers"]) == entries
    for name, split in line["layers"].items():
        assert set(split) == LAYER_FIELDS, name
        assert split["jobs"] >= 1 and split["jit_ms"] >= 0, name
        assert 0 <= split["build_s"] <= line["queries"][name] + 1e-3, name
        assert split["build_jobs"] <= split["jobs"], name


def test_bench_reads_no_new_environment_variable():
    with open(os.path.join(ROOT, "bench.py")) as fh:
        source = fh.read()
    read = set()
    for node in ast.walk(ast.parse(source)):
        target = None
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in ("get", "setdefault", "getenv") and node.args:
                target = node.args[0]
        elif isinstance(node, ast.Subscript):
            target = node.slice
        if isinstance(target, ast.Constant) and str(target.value).isupper():
            read.add(target.value)
    assert read == BENCH_ENV
    assert "argv" not in source and "argparse" not in source
