"""Every import of a repo module resolves, function-local ones included, so
a deletion that leaves a dangling ``from sparkhtml... import X`` fails here
rather than at bench or job time. Static: parses each tracked ``.py`` file
and imports nothing."""

import ast
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bound_names(tree: ast.Module) -> tuple[set[str], bool]:
    """Names a module binds at top level; the flag is True when it can bind
    more than the AST shows (star import or module ``__getattr__``)."""
    names, open_ = set(), False
    todo = list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                if a.name == "*":
                    open_ = True
                elif isinstance(node, ast.Import) and a.asname is None:
                    names.add(a.name.split(".")[0])
                else:
                    names.add(a.asname or a.name)
        elif not isinstance(node, ast.Lambda):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                names.add(node.id)
            todo.extend(ast.iter_child_nodes(node))
    return names, open_ or "__getattr__" in names


def test_repo_imports_resolve():
    out = subprocess.run(["git", "ls-files", "*.py"], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout
    trees, index = {}, {}  # path → AST; importable dotted name → path
    for path in out.splitlines():
        if not os.path.exists(os.path.join(ROOT, path)):
            continue
        with open(os.path.join(ROOT, path)) as f:
            trees[path] = ast.parse(f.read(), path)
        parts = path[:-3].split("/")
        if all(os.path.exists(os.path.join(ROOT, *parts[:i], "__init__.py"))
               for i in range(1, len(parts))):
            index[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    owner = {path: name for name, path in index.items()}
    roots = {name.split(".")[0] for name in index}
    bound = {name: _bound_names(trees[path]) for name, path in index.items()}

    failures, n_checked = [], 0
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] in roots:
                        n_checked += 1
                        if a.name not in index:
                            failures.append(f"{path}:{node.lineno}: import {a.name}")
            if not isinstance(node, ast.ImportFrom):
                continue
            module = node.module or ""
            if node.level:  # relative: resolve against the file's package
                package = owner[path].split(".")
                if not path.endswith("__init__.py"):
                    package = package[:-1]
                package = package[:len(package) - node.level + 1]
                module = ".".join(package + ([module] if module else []))
            if module.split(".")[0] not in roots:
                continue
            if module not in index:
                failures.append(f"{path}:{node.lineno}: no module {module}")
                continue
            names, open_ = bound[module]
            for a in node.names:
                if a.name == "*":
                    continue
                n_checked += 1
                if not (open_ or a.name in names or f"{module}.{a.name}" in index):
                    failures.append(
                        f"{path}:{node.lineno}: from {module} import {a.name}")
    assert not failures, "\n".join(failures)
    assert n_checked > 100, n_checked


def _import(module: str, name: str | None):
    """``module`` itself, or its attribute/submodule ``name``."""
    import importlib

    if name is None:
        return importlib.import_module(module)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return getattr(importlib.import_module(module), name)


def test_perfbench_tracing_targets_exist():
    """A traced benchmark run wraps program functions by name
    (``_patched``/``_timing`` in perfbench/tracing.py) and calls others
    through module attributes. Each such name, resolved through the
    imports of the function that uses it, must exist: a rename would
    otherwise surface only in the minutes-long perfbench tests."""
    path = os.path.join(ROOT, "perfbench", "tracing.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    checked, failures = [], []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        imports = {}  # local name → (module, name or None)
        for node in ast.walk(fn):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    imports[a.asname or a.name] = (node.module, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    imports[a.asname or a.name] = (a.name, None)
        loops = {}  # (owner var, attr var) → literal (owner, attr) pairs
        for node in ast.walk(fn):
            if (isinstance(node, ast.For) and isinstance(node.target, ast.Tuple)
                    and isinstance(node.iter, ast.Tuple)):
                loops[tuple(e.id for e in node.target.elts)] = \
                    [tuple(e.elts) for e in node.iter.elts]
        params = {a.arg for a in fn.args.args}
        targets = []
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                    and node.func.id in ("_patched", "_timing")):
                owner, attr = node.args[:2]
                if isinstance(attr, ast.Constant):
                    targets.append((owner.id, attr.value))
                elif (owner.id, attr.id) in loops:
                    targets += [(o.id, a.value)
                                for o, a in loops[(owner.id, attr.id)]]
                elif not {owner.id, attr.id} <= params:
                    failures.append(f"{fn.name}:{node.lineno}: unresolved")
            elif (isinstance(node, ast.Attribute)
                  and isinstance(node.value, ast.Name)
                  and imports.get(node.value.id, ("",))[0].startswith("sparkhtml")):
                targets.append((node.value.id, node.attr))
        for owner, attr in targets:
            if owner not in imports:
                failures.append(f"{fn.name}: {owner} is not imported there")
            elif not hasattr(_import(*imports[owner]), attr):
                failures.append(f"{fn.name}: {owner}.{attr} does not exist")
            checked.append(f"{owner}.{attr}")
    assert not failures, "\n".join(failures)
    for name in ("pipeline.extract_main_text", "extract.extract_main_text",
                 "treebuilder.parse_fragment", "pipeline._extract_arrow",
                 "pipeline.extract_metrics_df", "FlatDOM.from_html"):
        assert name in checked, name


def test_spark_layer_crosses_into_python_through_arrow_only():
    """sparkhtml/ has one way into Python: Arrow (``arrow_udf``,
    ``mapInArrow``, ``applyInArrow``). A pandas crossing is a second idiom
    with its own null and dtype rules, so no module there may name one,
    nor import pandas at all."""
    banned = {"pandas_udf", "mapInPandas", "applyInPandas",
              "applyInPandasWithState"}

    def is_banned(name: str) -> bool:
        return name.split(".")[-1] in banned or name.split(".")[0] == "pandas"

    out = subprocess.run(["git", "ls-files", "sparkhtml/*.py"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout
    hits = []
    for path in out.splitlines():
        with open(os.path.join(ROOT, path)) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [a.name for a in node.names]
                if isinstance(node, ast.ImportFrom) and node.module:
                    names.append(node.module)
                name = next((n for n in names if is_banned(n)), None)
            else:
                continue
            if name is not None and is_banned(name):
                hits.append(f"{path}:{node.lineno}: {name}")
    assert not hits, "\n".join(hits)
