"""Interleaved same-process race of ``__spark_entry__.queries()`` entries:
the code at a git ref (old) against the working tree (new).

    python tools/race.py --ref REF --entries a,b [--sf-dir DIR] [--pairs 10]

The old side is the files ``git diff --name-only REF -- patito_spark
__spark_entry__.py`` lists, loaded once from their blobs. While it runs
they replace the new modules in ``sys.modules`` and in the project
globals that held them, their functions or classes, and they pickle by
value so Python workers run the shipped side's UDFs. Per entry: warm both
sides, check equal results, then time alternating pairs. One JSON line
per entry: median and quartiles per side, new-side wins and a verdict --
``gain`` (``loss``) when, over ten or more pairs, the new (old) side wins
9 in 10 and the medians differ by more than the old side's inter-quartile
range, else ``none``. Exits 1 if any entry's results differ.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import importlib.util
import json
import linecache
import os
import pkgutil
import statistics
import subprocess
import sys
import time
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark import cloudpickle  # noqa: E402

_MISSING = object()


def _git(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True)


def git_sources(ref: str) -> dict[str, tuple[str, str]]:
    """``{module: (repo path, source at ref)}`` for the swap set."""
    diff = _git("diff", "--name-only", ref, "--", "patito_spark", "__spark_entry__.py")
    if diff.returncode:
        raise SystemExit(diff.stderr.strip())
    shows = {p: _git("show", f"{ref}:{p}") for p in diff.stdout.split()}
    # A file added since ref has no old side.
    return {p[:-3].removesuffix("/__init__").replace("/", "."): (p, r.stdout)
            for p, r in shows.items() if p.endswith(".py") and not r.returncode}


def _apply(patches: list) -> list:
    """Set ``d[key] = value`` for each patch (``_MISSING`` deletes) and
    return the patches that undo them, in undo order."""
    undo = []
    for d, key, value in patches:
        undo.append((d, key, d.get(key, _MISSING)))
        if value is _MISSING:
            d.pop(key, None)
        else:
            d[key] = value
    return undo[::-1]


def _import_tree() -> None:
    """Import every project module from the working tree, so none is first
    imported -- binding old objects -- while the old side is installed."""
    import __spark_entry__  # noqa: F401
    import patito_spark

    for m in pkgutil.walk_packages(patito_spark.__path__, "patito_spark."):
        with contextlib.suppress(ImportError):
            importlib.import_module(m.name)


def _rebind(old: dict[str, types.ModuleType], modules) -> list:
    """Patches pointing each global of ``modules`` that holds a swapped
    module (a parent's child attribute included), or a function or class
    of one, at its ``old`` counterpart."""
    patches = []
    for mod in modules:
        ns = vars(mod)
        for attr, val in list(ns.items()):
            if isinstance(val, types.ModuleType):
                repl = old.get(val.__name__)
            elif isinstance(val, (types.FunctionType, type)):
                repl = getattr(old.get(val.__module__), val.__name__, None)
            else:
                continue
            if repl is not None and repl is not val:
                patches.append((ns, attr, repl))
    return patches


class OldSide:
    """The swap-set modules loaded from their old sources; entering the
    context installs them in place of the working-tree modules."""

    def __init__(self, ref: str, sources: dict[str, tuple[str, str]]):
        self.ref = ref
        self.sources = sources
        self.modules: dict[str, types.ModuleType] = {}
        _import_tree()
        self._undo = _apply([(sys.modules, n, _MISSING) for n in sources])
        sys.meta_path.insert(0, self)
        try:
            # Leaves first, the entry module last: a name a package re-exports
            # is then already old when a later module binds it on import.
            last = "__spark_entry__"
            for n in sorted(sources, key=lambda n: (n == last, -n.count("."))):
                importlib.import_module(n)
        finally:
            sys.meta_path.remove(self)
            _apply(self._undo)
        # For an old module that bound a swapped name before it loaded.
        _apply(_rebind(self.modules, self.modules.values()))

    def _unswapped(self) -> list[types.ModuleType]:
        """Project modules in ``sys.modules`` that are not old-side ones."""
        return [m for n, m in list(sys.modules.items()) if m is not None
                and n.split(".")[0] in ("__spark_entry__", "patito_spark")
                and n not in self.modules]

    # importlib finder/loader protocol, on sys.meta_path only while loading
    def find_spec(self, name, path=None, target=None):
        if name not in self.sources:
            return None
        path = os.path.join(ROOT, self.sources[name][0])
        pkg = [os.path.dirname(path)] if path.endswith("__init__.py") else None
        return importlib.util.spec_from_file_location(
            name, path, loader=self, submodule_search_locations=pkg
        )

    def create_module(self, spec):
        return None

    def exec_module(self, module) -> None:
        rel, src = self.sources[module.__name__]
        label = f"{self.ref}:{rel}"
        linecache.cache[label] = (len(src), None, src.splitlines(True), label)
        exec(compile(src, label, "exec", dont_inherit=True), vars(module))
        self.modules[module.__name__] = module
        # Modules loaded after this one bind its old names.
        self._undo[:0] = _apply(_rebind({module.__name__: module}, self._unswapped()))

    def __enter__(self) -> "OldSide":
        self._undo = _apply(
            [(sys.modules, n, m) for n, m in self.modules.items()]
            + _rebind(self.modules, self._unswapped())
        )
        # By name, so it also covers the new side: both sides pickle alike.
        for m in self.modules.values():
            cloudpickle.register_pickle_by_value(m)
        return self

    def __exit__(self, *exc) -> None:
        _apply(self._undo)


def _run(entry: str, spark, sf_dir: str, collect: bool = False):
    """Build and run the entry of whichever side is installed, timed as
    bench.py times it; returns (seconds, the pandas frame if collect)."""
    t0 = time.perf_counter()
    df = sys.modules["__spark_entry__"].queries()[entry](spark, sf_dir)
    if collect:
        out = df.toPandas()
    else:
        out = df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    sys.modules["patito_spark.functions.cache"].release_caches()
    return elapsed, out


def _stats(ts: list[float]) -> dict:
    q1, med, q3 = (round(q, 4) for q in statistics.quantiles(ts, n=4))
    return {"median": med, "q1": q1, "q3": q3, "runs": [round(t, 4) for t in ts]}


def verdict(old: list[float], new: list[float]) -> str:
    """``gain``/``loss``/``none`` under the 9-in-10-pairs and
    median-gap-beyond-the-old-IQR rule (ties count for neither side).
    Fewer than ten pairs never yield a verdict."""
    if len(old) < 10:
        return "none"
    need = 0.9 * len(old)
    q1, _, q3 = statistics.quantiles(old, n=4)
    gap = statistics.median(old) - statistics.median(new)
    if sum(n < o for o, n in zip(old, new)) >= need and gap > q3 - q1:
        return "gain"
    if sum(n > o for o, n in zip(old, new)) >= need and -gap > q3 - q1:
        return "loss"
    return "none"


def race(entry: str, spark, sf_dir: str, old_side: OldSide, pairs: int) -> dict:
    from verify_entries import frame_diff

    sides = {"old": old_side, "new": contextlib.nullcontext()}
    frames = {}
    for label, side in sides.items():
        with side:
            _run(entry, spark, sf_dir)  # warm
            frames[label] = _run(entry, spark, sf_dir, collect=True)[1]
    out = {"entry": entry, "ref": old_side.ref, "swapped": sorted(old_side.modules)}
    diff = frame_diff(frames["old"], frames["new"])
    if not diff["ok"]:
        return {**out, "equal": False, **diff}
    times: dict[str, list[float]] = {"old": [], "new": []}
    for i in range(pairs):
        for label in ("old", "new") if i % 2 == 0 else ("new", "old"):
            with sides[label]:
                times[label].append(_run(entry, spark, sf_dir)[0])
    old, new = times["old"], times["new"]
    return {**out, "equal": True, "rows": diff["rows"], "pairs": pairs,
            "old": _stats(old), "new": _stats(new),
            "new_wins": sum(n < o for o, n in zip(old, new)),
            "verdict": verdict(old, new)}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", required=True)
    ap.add_argument("--entries", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args(argv)
    if a.pairs < 2:
        ap.error("--pairs must be at least 2 (quartiles need two runs)")

    from patito_spark.session import get_session

    old_side = OldSide(a.ref, git_sources(a.ref))
    spark = get_session("race")
    spark.sparkContext.setLogLevel("ERROR")
    all_equal = True
    for entry in a.entries.split(","):
        result = race(entry, spark, a.sf_dir, old_side, a.pairs)
        all_equal &= result["equal"]
        print(json.dumps(result), flush=True)
    return 0 if all_equal else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
