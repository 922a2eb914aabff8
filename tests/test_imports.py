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
