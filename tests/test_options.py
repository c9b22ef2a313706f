"""Every defaulted public parameter is one that some caller sets.

A default that no module, script, benchmark file or test ever overrides
is a constant spelled as an option: it widens the API, and the code path
it would select has never run. This Spark-free check parses the package's
public functions and methods and every call in the repository, and fails
on a defaulted parameter that no call sets, unless its name is one of the
deployment settings in ``DEPLOYMENT``.

Calls are matched by the called name: ``f(...)``, ``obj.f(...)``, and
an alias assigned anywhere (``apply_batch = FOLD.apply`` in one module,
``op = f if c else g`` in a function). A call that splats a dict
built in the same file from literal keys sets exactly those keys; any
other ``*args``/``**kwargs`` splat counts as setting every parameter.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cam_location_addressing_feature_service_etl_spark"
CALLERS = [PACKAGE, ROOT / "scripts", ROOT / "perfbench", ROOT / "tests"]
CALLER_FILES = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]

# Deployment settings: values that belong to where a job runs, not to
# the algorithm, so a default nobody overrides in this repository is
# still an option.
DEPLOYMENT = {
    "trigger": (
        "the streaming query's writeStream trigger: availableNow drains a "
        "backlog, a deployment picks its own cadence"
    ),
    "dfreq_dir": (
        "where the dedup registry's document-frequency state lives on the "
        "deployment's storage"
    ),
}

_ALL = object()  # a splat that may set any parameter


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def public_parameters() -> list[tuple[str, str, str, int | None, bool]]:
    """(module, qualified name, parameter, positional index, has default)
    for every parameter of every public function and method."""
    out = []

    def visit(body, mod, prefix, in_class):
        for node in body:
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                visit(node.body, mod, f"{prefix}{node.name}.", True)
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in node.decorator_list
            )
            skip = 1 if in_class and not static else 0
            first_default = len(positional) - len(a.defaults)
            for i, arg in enumerate(positional[skip:], start=skip):
                out.append(
                    (mod, prefix + node.name, arg.arg, i - skip, i >= first_default)
                )
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                out.append((mod, prefix + node.name, arg.arg, None, d is not None))

    for path in sorted(PACKAGE.rglob("*.py")):
        visit(_parse(path).body, str(path.relative_to(ROOT)), "", False)
    return out


def _callee_names(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _dict_keys(tree: ast.Module) -> dict[str, set | object]:
    """name -> the literal keys of the dicts assigned to it in this file
    (``_ALL`` once any assignment is not a literal dict)."""
    keys: dict[str, set | object] = {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.Assign):
            continue
        for target in node.targets:
            if not isinstance(target, ast.Name):
                continue
            v = node.value
            if isinstance(v, ast.Dict) and all(
                isinstance(k, ast.Constant) for k in v.keys
            ):
                found = {k.value for k in v.keys}
            elif (
                isinstance(v, ast.Call)
                and isinstance(v.func, ast.Name)
                and v.func.id == "dict"
                and not v.args
                and all(k.arg for k in v.keywords)
            ):
                found = {k.arg for k in v.keywords}
            else:
                found = _ALL
            prior = keys.get(target.id, set())
            keys[target.id] = (
                _ALL if _ALL in (prior, found) else prior | found
            )
    return keys


def _aliases(tree: ast.Module) -> dict[str, set[str]]:
    """``op = f`` / ``op = f if c else g`` -> {"op": {"f", "g"}}."""
    out: dict[str, set[str]] = defaultdict(set)
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            target, v = node.targets[0], node.value
            if not isinstance(target, ast.Name):
                continue
            branches = [v.body, v.orelse] if isinstance(v, ast.IfExp) else [v]
            names = [_callee_names(b) for b in branches]
            if all(isinstance(b, (ast.Name, ast.Attribute)) for b in branches):
                out[target.id].update(n for n in names if n)
    return out


def call_sites() -> tuple[dict[str, set], dict[str, int]]:
    """Per called name: the keywords any call passes (``_ALL`` in the
    set for an unresolved ``**`` splat) and the most positional
    arguments any call passes (a large number for a ``*`` splat)."""
    keywords: dict[str, set] = defaultdict(set)
    positional: dict[str, int] = defaultdict(int)
    files = [p for d in CALLERS for p in sorted(d.rglob("*.py"))] + CALLER_FILES
    trees = [_parse(path) for path in files]
    aliases: dict[str, set[str]] = defaultdict(set)
    for tree in trees:
        for name, targets in _aliases(tree).items():
            aliases[name] |= targets
    for tree in trees:
        dicts = _dict_keys(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = _callee_names(node.func)
            if name is None:
                continue
            passed, n_pos = set(), 0
            for arg in node.args:
                n_pos = 10**6 if isinstance(arg, ast.Starred) else n_pos + 1
            for kw in node.keywords:
                if kw.arg is not None:
                    passed.add(kw.arg)
                elif isinstance(kw.value, ast.Name) and kw.value.id in dicts:
                    found = dicts[kw.value.id]
                    passed |= {_ALL} if found is _ALL else found
                else:
                    passed.add(_ALL)
            for callee in {name} | aliases.get(name, set()):
                keywords[callee] |= passed
                positional[callee] = max(positional[callee], n_pos)
    return keywords, positional


@cache
def unset_defaults() -> list[tuple[str, str, str]]:
    keywords, positional = call_sites()
    unset = []
    for mod, qualname, param, index, has_default in public_parameters():
        if not has_default:
            continue
        name = qualname.rsplit(".", 1)[-1]
        if param in keywords[name] or _ALL in keywords[name]:
            continue
        if index is not None and positional[name] > index:
            continue
        unset.append((mod, qualname, param))
    return unset


def test_every_default_is_set_by_some_caller():
    unset = [u for u in unset_defaults() if u[2] not in DEPLOYMENT]
    assert not unset, (
        "defaulted public parameters that no caller sets; make each a "
        "constant in its function:\n"
        + "\n".join(f"  {m}::{q}({p})" for m, q, p in unset)
    )


def test_every_deployment_exemption_is_used():
    used = {p for _, _, p in unset_defaults()}
    assert set(DEPLOYMENT) <= used, sorted(set(DEPLOYMENT) - used)
