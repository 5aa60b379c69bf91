"""Every defaulted parameter of the package is set by some caller.

An option that no call sets is a configuration that no test or benchmark
runs; its default belongs in the body as a constant. The check parses
files and starts no Spark:

* scope: every package ``def`` with defaults whose name is defined once
  in the package, plus each class ``__init__``, matched by class name;
* callers: every ``name(...)`` or ``x.name(...)`` call in the package,
  ``tests/``, ``scripts/``, ``perfbench/``, ``bench.py`` and
  ``__spark_entry__.py``;
* a call sets a parameter when it passes it by keyword, by position or
  through ``*``/``**``. Passing on an enclosing function's own never-set
  parameter does not count, and the scan repeats until nothing changes.
"""

import ast
from collections import Counter
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "postgres_cdc_example_spark"
CALLER_ROOTS = (PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench",
                ROOT / "bench.py", ROOT / "__spark_entry__.py")

# (module, function, parameter) -> why a value no caller sets stays a parameter
ALLOWED = {
    **{("queries/extensions.py", fn, p): "oracle SQL builder: reference text, kept as written"
       for fn in ("_kmeans_oracle", "_ivf_kmeans_oracle", "_semantic_dedup_oracle",
                  "_probe_recall_oracle", "_kmeans_cte")
       for p in ("k", "iterations")},
    **{("sources/jdbc.py", "snapshot_reader", p): "deployment setting of the source database"
       for p in ("table", "partition_column", "num_partitions")},
}


def _py_files(root):
    return [root] if root.suffix == ".py" else sorted(root.rglob("*.py"))


@cache
def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def _positional(fn):
    return [a.arg for a in fn.args.posonlyargs + fn.args.args]


def _defaulted(fn):
    pos = _positional(fn)
    names = pos[len(pos) - len(fn.args.defaults):] if fn.args.defaults else []
    return names + [a.arg for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                    if d is not None]


def _definitions():
    """name -> (module, fn node, positional offset) for every scoped def."""
    defs, counts = {}, Counter()
    for path in _py_files(PACKAGE):
        module = path.relative_to(PACKAGE).as_posix()
        tree = _parse(path)
        methods = {id(f) for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
                   for f in c.body if isinstance(f, ast.FunctionDef)}
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                init = next((f for f in node.body if isinstance(f, ast.FunctionDef)
                             and f.name == "__init__"), None)
                if init is not None and _defaulted(init):
                    defs[node.name] = (module, init, 1)
            elif isinstance(node, ast.FunctionDef):
                counts[node.name] += 1
                if _defaulted(node):
                    defs[node.name] = (module, node, int(id(node) in methods))
    return {n: d for n, d in defs.items() if counts[n] <= 1}


def _calls():
    """(call node, enclosing def node or None) for every call in the caller roots."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                out.append((child, fn))
            visit(child, child if isinstance(child, ast.FunctionDef) else fn)

    for root in CALLER_ROOTS:
        for path in _py_files(root):
            visit(_parse(path), None)
    return out


def _callee(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def never_set_parameters():
    """Sorted (module, function, parameter) triples that no call sets."""
    defs = _definitions()
    calls = [(c, enclosing, defs[_callee(c)]) for c, enclosing in _calls()
             if _callee(c) in defs]
    defaulted = {(id(fn), p) for _, fn, _ in defs.values() for p in _defaulted(fn)}
    unset = set()
    while True:
        set_params = set()
        for call, enclosing, (_, fn, offset) in calls:
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords):
                set_params.update((id(fn), p) for p in _defaulted(fn))
                continue
            passed = list(zip(_positional(fn)[offset:], call.args))
            passed += [(k.arg, k.value) for k in call.keywords]
            set_params.update(
                (id(fn), p) for p, value in passed
                if not (isinstance(value, ast.Name) and (id(enclosing), value.id) in unset))
        if defaulted - set_params == unset:
            break
        unset = defaulted - set_params
    return sorted((module, name, p) for name, (module, fn, _) in defs.items()
                  for p in _defaulted(fn) if (id(fn), p) in unset)


def test_every_option_has_a_caller():
    offenders = [t for t in never_set_parameters() if t not in ALLOWED]
    assert not offenders, (
        f"{len(offenders)} defaulted parameters that no caller sets "
        "(make each default a constant in the body):\n"
        + "\n".join(f"  {m}::{f}({p})" for m, f, p in offenders))
