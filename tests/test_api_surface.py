"""Every package parameter is an option some call uses, with a second value.

An option that no call sets, or that every call sets to the same constant,
is a configuration that no test or benchmark varies; its value belongs in
the body. The checks parse files and start no Spark.

* Scope: every parameter of every package ``def`` (``self``/``cls`` and
  ``*``/``**`` catch-alls aside), methods and nested functions included.
* Callers: every call in the package, ``tests/``, ``scripts/``,
  ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``. A call is
  resolved by what its name is bound to in its file: a local or nested
  ``def``, a module-level ``def`` or class (its ``__init__``, through
  ``super()`` and base classes), ``from m import f`` (following
  re-exports), ``m.f(...)`` on an imported module, or ``x.f(...)`` on
  any other object, which may be any package method named ``f`` or,
  with no such method, any module-level function named ``f``. A
  resolved call that does not fit the signature is some other callee.
* Values: a call binds each parameter it passes, and a call that omits
  one binds its default. A value is a constant when it is a literal, a
  module-level UPPER_CASE name, or a tuple or list of them. A name that
  is an enclosing function's parameter passes on that parameter's
  values. ``**name`` resolves to the ``dict(...)`` or ``{...}`` literal
  bound to ``name``; any other ``*``/``**`` sets every parameter to an
  unknown value. The scan repeats until nothing changes.
* Inputs: a parameter annotated ``DataFrame`` or ``Column`` (alone or in
  a union, such as ``Column | str``) carries data and is not flagged,
  even where every call names the same column. A function the code hands over
  as a value (a Spark callback such as ``applyInPandasWithState``'s, a
  ``foreachBatch`` body, a decorated query or layer) has callers the scan
  cannot see, and its parameters take unknown values. ``INPUTS`` lists
  the helpers whose ``str`` parameters are SQL-expression text, a
  fragment of the query the helper splices into the SQL it returns.
"""

import ast
import re
from collections import defaultdict
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "postgres_cdc_example_spark"
CALLER_ROOTS = (PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench",
                ROOT / "bench.py", ROOT / "__spark_entry__.py")
UNKNOWN = "?"
_DATA_TYPES = {"DataFrame", "Column"}

_ORACLE_BUILDERS = {
    ("queries/extensions.py", fn, p): "oracle SQL builder: reference text, kept as written"
    for fn in ("_kmeans_oracle", "_ivf_kmeans_oracle", "_semantic_dedup_oracle",
               "_probe_recall_oracle", "_kmeans_cte")
    for p in ("k", "iterations")
}
# (module, function, parameter) -> why a value no caller sets stays a parameter
ALLOWED = {
    **_ORACLE_BUILDERS,
    **{("sources/jdbc.py", "snapshot_reader", p): "deployment setting of the source database"
       for p in ("table", "partition_column", "num_partitions")},
}
# (module, function) -> helpers whose str parameters are SQL-expression text
INPUTS = {
    ("operators/dedup.py", "_hex_nibble"),
    ("queries/extensions.py", "_nib"),
    ("queries/relational.py", "_morton_sql"),
    ("queries/relational.py", "_ewma_terms_sql"),
}
# (module, function, parameter) -> why a value every caller binds stays a parameter
ALLOWED_ONE_VALUE = {
    **_ORACLE_BUILDERS,
    **{("sources/bucketed.py", "bucketed_join", p): "deployment setting: a catalog table name"
       for p in ("left", "right")},
    ("sources/jdbc.py", "jdbc_options", "url"): "deployment setting: the source database address",
    ("streaming/monitor.py", "replication_lag_seconds", "ts_col"):
        "the frozen benchmark (perfbench/cdc.py) passes it positionally",
}


def _py_files(root):
    return [root] if root.suffix == ".py" else sorted(root.rglob("*.py"))


@cache
def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def _module_of(dotted):
    """Package-relative path of a dotted module name, or None outside the package."""
    parts = dotted.split(".")
    if parts[0] != PACKAGE.name:
        return None
    base = PACKAGE.joinpath(*parts[1:])
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path.relative_to(PACKAGE).as_posix()
    return None


def _file_key(path):
    return path.relative_to(PACKAGE).as_posix() if PACKAGE in path.parents else str(path)


def _is_static(fn):
    return any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list)


def _params(fn, method):
    """Positional and keyword-only parameter names, without ``self``/``cls``."""
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    if method and not _is_static(fn):
        pos = pos[1:]
    return pos, [a.arg for a in fn.args.kwonlyargs]


def _defaults(fn, method):
    """parameter -> default expression node."""
    pos, kwonly = _params(fn, method)
    out = dict(zip(pos[len(pos) - len(fn.args.defaults):], fn.args.defaults))
    out.update((a, d) for a, d in zip(kwonly, fn.args.kw_defaults) if d is not None)
    return out


class _Def:
    def __init__(self, module, qualname, node, cls=None, scope=None):
        self.module, self.qualname, self.node = module, qualname, node
        self.cls, self.scope = cls, scope  # scope: the enclosing _Def of a nested def
        self.method = cls is not None
        self.pos, self.kwonly = _params(node, self.method)
        self.defaults = _defaults(node, self.method)
        self.rebound = {t.id for n in ast.walk(node) for t in _targets(n)}
        self.data = {a.arg for a in node.args.posonlyargs + node.args.args + node.args.kwonlyargs
                     if a.annotation is not None
                     and _DATA_TYPES & set(re.findall(r"\w+", ast.unparse(a.annotation)))}

    def params(self):
        return self.pos + self.kwonly


def _targets(node):
    if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign, ast.For, ast.comprehension,
                         ast.NamedExpr)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [t for tg in targets for t in ast.walk(tg) if isinstance(t, ast.Name)]
    return []


class _Index:
    """Definitions, imports and module constants of every scanned file."""

    def __init__(self):
        self.files = {}          # file key -> ast
        self.top = {}            # file key -> {name: _Def | ast.ClassDef}
        self.consts = {}         # file key -> {UPPER_CASE name: value node}
        self.imports = {}        # file key -> {alias: ("module", m) | ("name", m, name)}
        self.defs = []           # every package _Def
        self.methods = defaultdict(list)   # method name -> [_Def]
        self.functions = defaultdict(list)  # module-level function name -> [_Def]
        self.by_node = {}        # id(FunctionDef) -> _Def, in every scanned file
        for root in CALLER_ROOTS:
            for path in _py_files(root):
                self._index(_file_key(path), _parse(path), PACKAGE in path.parents)

    def _index(self, key, tree, in_package):
        self.files[key] = tree
        top, consts, imports = {}, {}, {}
        self.top[key], self.consts[key], self.imports[key] = top, consts, imports
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                for t in _targets(node):
                    if t.id.isupper() and node.value is not None:
                        consts[t.id] = node.value
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname and _module_of(a.name):
                        imports[a.asname] = ("module", _module_of(a.name))
                    elif a.name.split(".")[0] == PACKAGE.name:
                        imports[a.name.split(".")[0]] = ("module", "__init__.py")
            elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
                for a in node.names:
                    sub = _module_of(f"{node.module}.{a.name}")
                    if sub:
                        imports[a.asname or a.name] = ("module", sub)
                    elif _module_of(node.module):
                        imports[a.asname or a.name] = ("name", _module_of(node.module), a.name)

        def visit(node, qual, cls, scope):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.ClassDef):
                    if node is tree:
                        top[child.name] = child
                    visit(child, f"{qual}{child.name}.", child, scope)
                elif isinstance(child, ast.FunctionDef):
                    d = _Def(key, qual + child.name, child, cls, scope)
                    self.by_node[id(child)] = d
                    if node is tree:
                        top[child.name] = d
                    if in_package:
                        self.defs.append(d)
                    if in_package and cls is not None:
                        self.methods[child.name].append(d)
                    elif in_package and node is tree:
                        self.functions[child.name].append(d)
                    visit(child, f"{qual}{child.name}.", None, d)
                else:
                    visit(child, qual, cls, scope)

        visit(tree, "", None, None)

    def lookup(self, module, name, seen=()):
        """What module-level ``name`` is in ``module``, following re-exports."""
        if module in self.top and name in self.top[module]:
            return module, self.top[module][name]
        if module in self.consts and name in self.consts[module]:
            return module, self.consts[module][name]
        imp = self.imports.get(module, {}).get(name)
        if imp and imp[0] == "name" and (module, name) not in seen:
            return self.lookup(imp[1], imp[2], seen + ((module, name),))
        if imp and imp[0] == "module":
            return imp[1], None
        return None

    def init_of(self, module, cls):
        """The ``__init__`` a call of class ``cls`` runs, through package base classes."""
        for node in cls.body:
            if isinstance(node, ast.FunctionDef) and node.name == "__init__":
                return self.by_node[id(node)]
        for base in cls.bases:
            if isinstance(base, ast.Name):
                found = self.lookup(module, base.id)
                if found and isinstance(found[1], ast.ClassDef):
                    return self.init_of(found[0], found[1])
        return None


def _nested(scope, name):
    """The ``def`` named ``name`` visible from ``scope`` through enclosing functions."""
    while scope is not None:
        for node in scope.node.body:
            if isinstance(node, ast.FunctionDef) and node.name == name:
                return node
        scope = scope.scope
    return None


def _resolve(index, key, scope, func):
    """The package defs a call's (or a reference's) ``func`` expression may name."""
    if isinstance(func, ast.Name):
        nested = _nested(scope, func.id)
        if nested is not None:
            return [index.by_node[id(nested)]] if id(nested) in index.by_node else []
        found = index.lookup(key, func.id)
        if found is None:
            return []
        module, target = found
        if isinstance(target, _Def):
            return [target]
        if isinstance(target, ast.ClassDef):
            init = index.init_of(module, target)
            return [init] if init else []
        return []
    if not isinstance(func, ast.Attribute):
        return []
    owner = func.value
    if (isinstance(owner, ast.Call) and isinstance(owner.func, ast.Name)
            and owner.func.id == "super" and func.attr == "__init__" and scope and scope.cls):
        for base in scope.cls.bases:
            found = isinstance(base, ast.Name) and index.lookup(scope.module, base.id)
            if found and isinstance(found[1], ast.ClassDef):
                init = index.init_of(found[0], found[1])
                return [init] if init else []
        return []
    module = _module_expr(index, key, owner)
    if module is not None:
        found = index.lookup(module, func.attr)
        if found and isinstance(found[1], _Def):
            return [found[1]]
        if found and isinstance(found[1], ast.ClassDef):
            init = index.init_of(found[0], found[1])
            return [init] if init else []
        return []
    return list(index.methods.get(func.attr) or index.functions.get(func.attr, []))


def _module_expr(index, key, node):
    """The package module an expression such as ``q`` or ``q.extensions`` names."""
    if isinstance(node, ast.Name):
        imp = index.imports[key].get(node.id)
        return imp[1] if imp and imp[0] == "module" else None
    parent = _module_expr(index, key, node.value) if isinstance(node, ast.Attribute) else None
    if parent is None:
        return None
    parts = Path(parent).with_suffix("").parts
    package = parts[:-1] if parts[-1] == "__init__" else parts
    return _module_of(".".join((PACKAGE.name, *package, node.attr)))


_PLAIN_DECORATORS = ("staticmethod", "classmethod", "property", "cache")


def _sites(index):
    """(call, file key, enclosing _Def or None) for every call, and the package
    defs handed over as values (so called where the scan cannot see)."""
    calls, escaped, skip = [], set(), set()

    def visit(node, key, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, ast.Attribute):
                skip.add(id(child.value))  # a receiver, not a value handed over
            if isinstance(child, ast.FunctionDef):
                inner = index.by_node[id(child)]
                annotations = [a.annotation for a in ast.walk(child.args) if isinstance(a, ast.arg)]
                skip.update(id(n) for ann in annotations + [child.returns] if ann is not None
                            for n in ast.walk(ann))
                if any(not (isinstance(d, ast.Name) and d.id in _PLAIN_DECORATORS)
                       for d in child.decorator_list):
                    escaped.add(inner)
            elif isinstance(child, ast.AnnAssign):
                skip.update(id(n) for n in ast.walk(child.annotation))
            elif isinstance(child, ast.Call):
                calls.append((child, key, scope))
                skip.add(id(child.func))
            elif (isinstance(child, (ast.Name, ast.Attribute)) and isinstance(child.ctx, ast.Load)
                  and id(child) not in skip
                  and not (isinstance(child, ast.Attribute) and child.attr.startswith("__"))):
                escaped.update(_resolve(index, key, scope, child))
            visit(child, key, inner)

    for key, tree in index.files.items():
        visit(tree, key, None)
    return calls, escaped


def _const(index, key, node, seen=()):
    """A hashable token for a constant expression, or None."""
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        pass
    if isinstance(node, (ast.Tuple, ast.List)):
        parts = [_const(index, key, e, seen) for e in node.elts]
        return None if None in parts else f"({', '.join(parts)})"
    name, module = None, None
    if isinstance(node, ast.Name) and node.id.isupper():
        name, module = node.id, key
    elif isinstance(node, ast.Attribute) and node.attr.isupper():
        name, module = node.attr, _module_expr(index, key, node.value)
    found = module is not None and index.lookup(module, name)
    if found and isinstance(found[1], ast.expr) and (found[0], name) not in seen:
        value = _const(index, found[0], found[1], seen + ((found[0], name),))
        return value if value is not None else f"{found[0]}:{name}"
    return None


def _kw_pairs(value):
    """(keyword, value node) pairs of a ``{...}`` or ``dict(...)`` literal, or None."""
    if isinstance(value, ast.Dict) and all(isinstance(k, ast.Constant) for k in value.keys):
        return [(k.value, v) for k, v in zip(value.keys, value.values)]
    if (isinstance(value, ast.Call) and isinstance(value.func, ast.Name) and value.func.id == "dict"
            and not value.args and all(k.arg for k in value.keywords)):
        return [(k.arg, k.value) for k in value.keywords]
    return None


def _kw_dict(index, key, scope, name):
    """The keyword literal bound to ``name`` in the innermost enclosing def that
    binds it, else at module level; None when there is none or several."""
    bodies = []
    while scope is not None:
        bodies.append(list(ast.walk(scope.node)))
        scope = scope.scope
    for body in bodies + [index.files[key].body]:
        bound = [n for n in body if isinstance(n, ast.Assign)
                 and any(t.id == name for t in _targets(n))]
        if bound:
            return _kw_pairs(bound[0].value) if len(bound) == 1 else None
    return None


def _kwargs_of(scope, node):
    """The enclosing def's ``**kwargs`` name when ``node`` passes it on unchanged."""
    kwarg = scope.node.args.kwarg if scope is not None else None
    if (kwarg is not None and isinstance(node, ast.Name) and node.id == kwarg.arg
            and node.id not in scope.rebound):
        return node.id
    return None


def _bind(index, call, key, scope, d):
    """What a call passes to each parameter of ``d`` -- a value node, ``None``
    (the default), UNKNOWN, or ``("**", name)`` for the enclosing def's
    ``**name`` -- plus the extra keywords it hands ``d``'s own ``**kwargs``
    and whether a ``*``/``**`` hid some of them; None when the call does not
    fit the signature."""
    positional, blind = [], False
    for a in call.args:
        if not isinstance(a, ast.Starred):
            positional.append(a)
        elif isinstance(a.value, (ast.Tuple, ast.List)):
            positional.extend(a.value.elts)
        else:
            blind = True
    if len(positional) > len(d.pos) and d.node.args.vararg is None:
        return None
    bound, extra, passed_on = dict(zip(d.pos, positional)), {}, None
    for k in call.keywords:
        if k.arg is not None:
            pairs = [(k.arg, k.value)]
        elif _kwargs_of(scope, k.value):
            passed_on, pairs = _kwargs_of(scope, k.value), []
        else:
            pairs = _kw_pairs(k.value) or (
                _kw_dict(index, key, scope, k.value.id) if isinstance(k.value, ast.Name) else None)
            blind = blind or pairs is None
        for name, value in pairs or ():
            if name in d.params():
                bound[name] = value
            elif d.node.args.kwarg is None:
                return None
            else:
                extra[name] = value
    fallback = UNKNOWN if blind else ("**", passed_on) if passed_on else None
    if fallback is None and any(p not in bound and p not in d.defaults for p in d.params()):
        return None
    return {p: bound.get(p, fallback) for p in d.params()}, extra, blind


def _passthrough(scope, name):
    """The enclosing _Def whose parameter ``name`` is, if it is passed on unchanged."""
    while scope is not None:
        if name in scope.params():
            return scope if name not in scope.rebound else None
        if name in scope.rebound:
            return None
        scope = scope.scope
    return None


ABSENT = "absent"


@cache
def parameter_values():
    """The index, and {(def, parameter): (values, set by some call)} at the
    fixed point. ``(def, "**kw:p")`` holds what callers hand ``def``'s
    ``**kw`` for ``p``, ABSENT where a call leaves it out."""
    index = _Index()
    calls, escaped = _sites(index)
    resolved = [(call, key, scope, d, _bind(index, call, key, scope, d))
                for call, key, scope in calls for d in _resolve(index, key, scope, call.func)]
    resolved = [r for r in resolved if r[4] is not None]
    fed = defaultdict(set)  # (def, kwargs name) -> parameters of callees it feeds
    for _, _, scope, d, (binding, _, _) in resolved:
        fed[scope].update((v[1], p) for p, v in binding.items() if isinstance(v, tuple))

    def default(d, p):
        token = _const(index, d.module, d.defaults[p]) if p in d.defaults else None
        return token if token is not None else UNKNOWN

    def source(key, scope, value):
        if isinstance(value, ast.Name) and _passthrough(scope, value.id):
            return ("ref", (_passthrough(scope, value.id), value.id))
        token = _const(index, key, value)
        return ("set", token if token is not None else UNKNOWN)

    edges = []  # (target, ("set" | "default", token) | ("ref", state key), default for ABSENT)
    for call, key, scope, d, (binding, extra, blind) in resolved:
        for p, value in binding.items():
            if value is None:
                edges.append(((d, p), ("default", default(d, p)), None))
            elif value is UNKNOWN:
                edges.append(((d, p), ("set", UNKNOWN), None))
            elif isinstance(value, tuple):
                edges.append(((d, p), ("ref", (scope, f"**{value[1]}:{p}")), default(d, p)))
            else:
                edges.append(((d, p), source(key, scope, value), None))
        for name, p in fed.get(d, ()):
            target = (d, f"**{name}:{p}")
            if p in extra:
                edges.append((target, source(key, scope, extra[p]), None))
            else:
                edges.append((target, ("set", UNKNOWN) if blind else ("default", ABSENT), None))

    state = defaultdict(lambda: (frozenset(), False))
    for d in escaped:
        for p in d.params() + [f"**{n}:{p}" for n, p in fed.get(d, ())]:
            state[(d, p)] = (frozenset([UNKNOWN]), p not in d.defaults)
    changed = True
    while changed:
        changed = False
        for target, (kind, payload), absent in edges:
            values, is_set = state[target]
            if kind == "ref":
                src_values, src_set = state[payload]
                src_def, src_p = payload
                add = {absent if v == ABSENT else v for v in src_values}
                required = src_p in src_def.params() and src_p not in src_def.defaults
                is_set = is_set or src_set or required
            else:
                add = {payload}
                is_set = is_set or kind == "set"
            new = (values | add, is_set)
            if new != state[target]:
                state[target] = new
                changed = True
    return index, state


def never_set_parameters():
    """Sorted (module, function, parameter) triples with a default no call sets."""
    index, state = parameter_values()
    return sorted((d.module, d.qualname, p) for d in index.defs for p in d.defaults
                  if not state[(d, p)][1])


def single_valued_parameters():
    """{(module, function, parameter): value} for every parameter that every
    call binds to one constant, sorted."""
    index, state = parameter_values()
    out = {}
    for d in index.defs:
        for p in d.params():
            values = state[(d, p)][0]
            if (len(values) == 1 and UNKNOWN not in values and p not in d.data
                    and (d.module, d.qualname) not in INPUTS):
                out[(d.module, d.qualname, p)] = next(iter(values))
    return dict(sorted(out.items()))


def test_every_option_has_a_caller():
    offenders = [t for t in never_set_parameters() if t not in ALLOWED]
    assert not offenders, (
        f"{len(offenders)} defaulted parameters that no caller sets "
        "(make each default a constant in the body):\n"
        + "\n".join(f"  {m}::{f}({p})" for m, f, p in offenders))


def test_every_option_takes_two_values():
    offenders = {t: v for t, v in single_valued_parameters().items() if t not in ALLOWED_ONE_VALUE}
    assert not offenders, (
        f"{len(offenders)} parameters that every call binds to one constant "
        "(make each value a constant in the body):\n"
        + "\n".join(f"  {m}::{f}({p}) = {v}" for (m, f, p), v in offenders.items()))
