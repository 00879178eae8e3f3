"""Guard against unused package surface growing back.

A pure ``ast`` walk (no Spark session) over the package, ``tests/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py``. It fails with
a list of findings for:

- a top-level package function or class whose name appears nowhere
  outside its own definition;
- a defaulted parameter of a uniquely named package function that no
  call site sets, by keyword or by position. Column-name parameters
  (``*_col``, ``*_cols``, ``src``, ``dst``) are exempt: they name the
  input frame's schema and select no code path. A ``**name`` argument
  sets the keys the walk can see it carry (``_dict_keys``); one it
  cannot resolve counts as setting every parameter.

A value that no caller changes is a constant, not a parameter
(CLAUDE.md): give a new parameter a call site that sets it.
"""

from __future__ import annotations

import ast
import functools
import re
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "e_commerce_data_pipeline_spark"
COLUMN_PARAM = re.compile(r"(_cols?|^src|^dst)$")


@functools.cache
def _sources() -> dict[Path, ast.Module]:
    paths = [
        *sorted(PKG.rglob("*.py")),
        *sorted((ROOT / "tests").rglob("*.py")),
        *sorted((ROOT / "perfbench").rglob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    return {p: ast.parse(p.read_text(), str(p)) for p in paths}


def _name_of(node: ast.AST) -> str | None:
    """The identifier a node uses: a load, an attribute, an import, or a
    string that is a bare identifier (``__all__``, getattr)."""
    kind = type(node)
    if kind is ast.Name:
        return node.id
    if kind is ast.Attribute:
        return node.attr
    if kind is ast.alias:
        return node.name.rsplit(".", 1)[-1]
    if kind is ast.Constant and type(node.value) is str:
        return node.value if node.value.isidentifier() else None
    return None


def _in_package(path: Path) -> bool:
    return PKG in path.parents


@functools.cache
def _scan():
    """One pass over every source: identifier uses, calls, defs, and
    for each top-level package def or class the uses of its own name
    inside its own body (recursion is not a reference)."""
    uses: Counter = Counter()
    calls: list[ast.Call] = []
    defs = defaultdict(list)  # def name -> [(path, node, is_method)]
    aliases = {}  # `from x import y as z` -> z: y
    top_level = []  # (path, name, uses of name inside its definition)
    for path, tree in _sources().items():
        in_pkg = _in_package(path)
        methods = set()
        for stmt in tree.body:
            own = None
            if in_pkg and type(stmt) in (ast.FunctionDef, ast.ClassDef):
                own = stmt.name
            inside = 0
            for node in ast.walk(stmt):
                name = _name_of(node)
                if name is not None:
                    uses[name] += 1
                    inside += name == own
                kind = type(node)
                if kind is ast.Call:
                    calls.append(node)
                elif kind is ast.ClassDef:
                    methods.update(
                        id(f) for f in node.body
                        if type(f) is ast.FunctionDef and not any(
                            type(d) is ast.Name and d.id == "staticmethod"
                            for d in f.decorator_list
                        )
                    )
                elif kind is ast.FunctionDef or kind is ast.AsyncFunctionDef:
                    defs[node.name].append((path, node, id(node) in methods))
                elif kind is ast.ImportFrom:
                    aliases.update((a.asname, a.name) for a in node.names if a.asname)
            if own is not None:
                # a decorator that names the def registers it: a use
                inside -= sum(
                    _name_of(n) == own
                    for d in stmt.decorator_list
                    for n in ast.walk(d)
                )
                top_level.append((path, own, inside))
    return uses, calls, defs, aliases, top_level


def unreferenced_definitions() -> list[str]:
    uses, _, _, _, top_level = _scan()
    return [
        f"{path.relative_to(ROOT)}::{name}"
        for path, name, inside in top_level
        if uses[name] == inside
    ]


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        # QUERIES["q98_..."].fn(...) calls the registered query function
        if (
            f.attr == "fn"
            and isinstance(f.value, ast.Subscript)
            and isinstance(f.value.slice, ast.Constant)
        ):
            return f.value.slice.value
        return f.attr
    return None


@functools.cache
def _enclosing() -> dict[int, ast.AST]:
    """id(call) -> the innermost function definition around it."""
    out = {}
    for tree in _sources().values():
        # ast.walk is breadth-first: outer functions come before the
        # functions nested in them, which then overwrite their calls
        for fn in ast.walk(tree):
            if type(fn) in (ast.FunctionDef, ast.AsyncFunctionDef):
                for node in ast.walk(fn):
                    if type(node) is ast.Call:
                        out[id(node)] = fn
    return out


def _call_keywords(call: ast.Call, fn, seen: frozenset) -> set[str] | None:
    """The keywords ``call`` sets, or None when a ``**`` argument is
    one the walk cannot resolve."""
    keys = set()
    for kw in call.keywords:
        got = {kw.arg} if kw.arg else _dict_keys(kw.value, fn, seen)
        if got is None:
            return None
        keys |= got
    return keys


def _dict_keys(expr: ast.AST, fn, seen: frozenset) -> set[str] | None:
    """The keys a ``**expr`` argument inside function ``fn`` can carry,
    or None when the walk cannot tell. Resolved: a dict literal or
    ``dict(...)`` with literal keys; a call to a uniquely named
    function whose returns all resolve (the scale-profile
    ``*_kwargs()`` methods); a name that ``fn`` binds only to those,
    by assignment, by a ``for`` over a tuple or list of them, or by
    ``name["key"] = ...``; and ``fn``'s own ``**kwargs``, which
    carries the keywords the callers of ``fn`` pass to it."""
    _, calls, defs, aliases, _ = _scan()
    kind = type(expr)
    if kind is ast.Dict:
        if all(type(k) is ast.Constant and type(k.value) is str
               for k in expr.keys):
            return {k.value for k in expr.keys}
        return None
    if kind is ast.Call:
        name = _callee(expr)
        if name == "dict" and not expr.args:
            return _call_keywords(expr, fn, seen)
        sites = defs.get(aliases.get(name, name), [])
        if len(sites) != 1 or name in seen:
            return None
        callee = sites[0][1]
        returns = [
            n.value for n in ast.walk(callee)
            if type(n) is ast.Return and n.value is not None
        ]
        keys = [_dict_keys(r, callee, seen | {name}) for r in returns]
        return set().union(*keys) if returns and None not in keys else None
    if kind is not ast.Name or fn is None:
        return None
    var = expr.id
    if fn.args.kwarg is not None and fn.args.kwarg.arg == var:
        if len(defs.get(fn.name, [])) != 1 or fn.name in seen:
            return None
        keys = set()
        for call in calls:
            if aliases.get(_callee(call), _callee(call)) == fn.name:
                got = _call_keywords(
                    call, _enclosing().get(id(call)), seen | {fn.name}
                )
                if got is None:
                    return None
                keys |= got
        return keys - {a.arg for a in (*fn.args.args, *fn.args.kwonlyargs)}
    keys, handled = set(), set()
    for node in ast.walk(fn):
        values = []
        if type(node) is ast.Assign:
            for t in node.targets:
                if type(t) is ast.Name and t.id == var:
                    values.append(node.value)
                    handled.add(id(t))
                elif (type(t) is ast.Subscript and type(t.value) is ast.Name
                      and t.value.id == var):
                    if not (type(t.slice) is ast.Constant
                            and type(t.slice.value) is str):
                        return None
                    keys.add(t.slice.value)
        elif (type(node) is ast.For and type(node.target) is ast.Name
              and node.target.id == var):
            if type(node.iter) not in (ast.Tuple, ast.List):
                return None
            values.extend(node.iter.elts)
            handled.add(id(node.target))
        elif type(node) is ast.Attribute and _name_of(node.value) == var:
            return None  # a method call (update, setdefault) can add keys
        for v in values:
            got = _dict_keys(v, fn, seen)
            if got is None:
                return None
            keys |= got
    stores = [
        n for n in ast.walk(fn)
        if type(n) is ast.Name and n.id == var and type(n.ctx) is ast.Store
    ]
    if not handled or any(id(n) not in handled for n in stores):
        return None  # a parameter, or bound some other way
    return keys


def unset_parameters() -> list[str]:
    _, calls, defs, aliases, _ = _scan()
    set_kw = defaultdict(set)  # callee name -> keywords some call passes
    n_pos = defaultdict(int)  # callee name -> most positional args passed
    for call in calls:
        fn = _enclosing().get(id(call))
        name = _callee(call)
        # functools.partial(fn, ...) binds fn's parameters too
        if name == "partial" and call.args:
            call = ast.Call(
                func=call.args[0], args=call.args[1:], keywords=call.keywords
            )
            name = _callee(call)
        name = aliases.get(name, name)
        if name is None:
            continue
        if any(isinstance(a, ast.Starred) for a in call.args):
            n_pos[name] = 10**6
        n_pos[name] = max(n_pos[name], len(call.args))
        keys = _call_keywords(call, fn, frozenset())
        set_kw[name].update({"**"} if keys is None else keys)
    found = []
    for name, sites in defs.items():
        if len(sites) != 1:
            continue
        path, fn, is_method = sites[0]
        if not _in_package(path) or "**" in set_kw[name]:
            continue
        positional = [*fn.args.posonlyargs, *fn.args.args]
        first_default = len(positional) - len(fn.args.defaults)
        candidates = [
            (i, a) for i, a in enumerate(positional) if i >= first_default
        ] + [
            (None, a)
            for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
            if d is not None
        ]
        for i, arg in candidates:
            if COLUMN_PARAM.search(arg.arg) or arg.arg in set_kw[name]:
                continue
            if i is not None and n_pos[name] + is_method > i:
                continue
            found.append(f"{path.relative_to(ROOT)}::{fn.name}({arg.arg})")
    return sorted(found)


def test_every_package_definition_is_referenced():
    found = unreferenced_definitions()
    assert not found, "referenced nowhere outside their own definition:\n" + (
        "\n".join(found)
    )


def test_every_defaulted_parameter_is_set_by_some_call_site():
    found = unset_parameters()
    assert not found, (
        "defaulted parameters no call site sets (make them constants):\n"
        + "\n".join(found)
    )
