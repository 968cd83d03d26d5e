"""Every Python file in the repo compiles with warnings turned into errors.

Invalid string escapes such as ``'\\s'`` only warn today (DeprecationWarning
on 3.11, SyntaxWarning from 3.12) and become syntax errors in a later
Python; this check catches them, and any other compile-time warning, early.
"""

import ast
import os
import subprocess
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_files() -> list[str]:
    """Tracked ``.py`` files; every ``.py`` outside hidden directories when
    the checkout has no git metadata."""
    try:
        out = subprocess.run(
            ["git", "ls-files", "-z", "*.py"], cwd=REPO, check=True,
            capture_output=True,
        ).stdout.decode()
        return [p for p in out.split("\0") if p]
    except (OSError, subprocess.CalledProcessError):
        paths = []
        for root, dirs, files in os.walk(REPO):
            dirs[:] = [d for d in dirs if not d.startswith(".")]
            paths += [
                os.path.relpath(os.path.join(root, f), REPO)
                for f in files if f.endswith(".py")
            ]
        return paths


def test_python_sources_compile_without_warnings():
    files = _python_files()
    assert files
    bad = []
    for rel in files:
        with open(os.path.join(REPO, rel), "rb") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, rel, "exec", dont_inherit=True)
            except (SyntaxError, Warning) as e:
                bad.append(f"{rel}: {e}")
    assert not bad, "\n".join(bad)


def _module_name(rel: str) -> str:
    parts = rel[: -len(".py")].split("/")
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _from_base(rel: str, node: ast.ImportFrom) -> str:
    """The module a ``from ... import`` in file ``rel`` reads from, a
    relative import resolved against the file's package."""
    if not node.level:
        return node.module
    module = _module_name(rel).split(".")
    package = module if rel.endswith("__init__.py") else module[:-1]
    base = package[: len(package) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


def _imported_names(rel: str, src: bytes) -> set[str]:
    """Dotted names an ``import`` anywhere in the file (module level or
    inside a function) may load, relative imports resolved against the
    file's package; ``from m import x`` yields both ``m`` and ``m.x``."""
    names = set()
    for node in ast.walk(ast.parse(src, rel)):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(rel, node)
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def test_every_package_module_is_reachable():
    """Every ``ocr_poc_spark`` module is imported, directly or through other
    package modules, from the CLI or from a tracked file outside the package,
    the tests and the driver file ``__spark_entry__.py``; a module only tests
    or driver queries reach is dead code."""
    files = _python_files()
    package = {
        _module_name(rel): rel for rel in files
        if rel.startswith("ocr_poc_spark/")
    }
    roots = [
        rel for rel in files
        if not rel.startswith(("ocr_poc_spark/", "tests/"))
        and rel != "__spark_entry__.py"
    ] + ["ocr_poc_spark/__main__.py"]
    reached = {_module_name("ocr_poc_spark/__main__.py")}
    queue = list(roots)
    while queue:
        rel = queue.pop()
        with open(os.path.join(REPO, rel), "rb") as fh:
            src = fh.read()
        for name in _imported_names(rel, src):
            parts = name.split(".")
            # importing a.b.c also runs the packages a and a.b
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in package and mod not in reached:
                    reached.add(mod)
                    queue.append(package[mod])
    # A package's __init__ runs whenever one of its modules is imported, so
    # a dead package shows up as its dead modules.
    unreached = sorted(
        package[m] for m in set(package) - reached
        if not package[m].endswith("__init__.py")
    )
    assert not unreached, "only tests import:\n" + "\n".join(unreached)


def _top_level_definitions(tree: ast.Module) -> dict[str, ast.stmt]:
    """Top-level functions, classes and constants of a module, by name;
    dunder names (``__version__``, ``__all__``) are exempt."""
    defs = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        else:
            continue
        for name in names:
            if not (name.startswith("__") and name.endswith("__")):
                defs[name] = node
    return defs


def _module_bindings(rel: str, tree: ast.Module, package: set[str]) -> dict:
    """Local name -> package module, for every import in the file (module
    level or inside a function) that binds a package module: ``import a.b``
    binds ``a``, ``import a.b as c`` binds ``c``, ``from a import b`` binds
    ``b`` when ``a.b`` is a module."""
    bindings = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname:
                    bindings[alias.asname] = alias.name
                else:
                    head = alias.name.split(".")[0]
                    bindings[head] = head
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(rel, node)
            for alias in node.names:
                if f"{base}.{alias.name}" in package:
                    bindings[alias.asname or alias.name] = f"{base}.{alias.name}"
    return bindings


def _dotted(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _dotted(node.value)
        return f"{head}.{node.attr}" if head else None
    return None


def test_every_package_definition_is_reachable():
    """Every top-level function, class and constant of ``ocr_poc_spark`` is
    reached from the same roots as the module check: the CLI and the
    tracked files outside the package, the tests and the driver file.
    Reachability follows ``from m import name``, ``module.attr`` and
    same-module names, out of function bodies and module-level statements;
    a definition only tests or driver queries reach is dead code."""
    files = [rel for rel in _python_files() if not rel.startswith("tests/")]
    package_files = {
        _module_name(rel): rel for rel in files
        if rel.startswith("ocr_poc_spark/")
    }
    trees = {}
    for rel in files:
        with open(os.path.join(REPO, rel), "rb") as fh:
            trees[rel] = ast.parse(fh.read(), rel)
    defs = {
        mod: _top_level_definitions(trees[rel])
        for mod, rel in package_files.items()
    }
    bindings = {
        rel: _module_bindings(rel, tree, set(package_files))
        for rel, tree in trees.items()
    }
    reached: set[tuple[str, str]] = set()
    run_modules: set[str] = set()
    queue: list[tuple[str, ast.AST]] = []  # (file, live node)

    def reach_module(mod: str) -> None:
        # importing a.b.c also runs the packages a and a.b; a module's
        # statements other than its definitions run on import
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in package_files and m not in run_modules:
                run_modules.add(m)
                rel = package_files[m]
                definitions = set(map(id, defs[m].values()))
                queue.extend(
                    (rel, node) for node in trees[rel].body
                    if id(node) not in definitions
                )

    def reach(mod: str, name: str) -> None:
        if f"{mod}.{name}" in package_files:
            reach_module(f"{mod}.{name}")
        elif name in defs.get(mod, {}) and (mod, name) not in reached:
            reached.add((mod, name))
            reach_module(mod)
            queue.append((package_files[mod], defs[mod][name]))

    roots = [
        rel for rel in files
        if not rel.startswith("ocr_poc_spark/") and rel != "__spark_entry__.py"
    ] + ["ocr_poc_spark/__main__.py"]
    queue.extend((rel, trees[rel]) for rel in roots)
    reach_module(_module_name("ocr_poc_spark/__main__.py"))
    while queue:
        rel, live = queue.pop()
        own = _module_name(rel)
        for node in ast.walk(live):
            if isinstance(node, ast.ImportFrom):
                base = _from_base(rel, node)
                for alias in node.names:
                    reach(base, alias.name)
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    reach_module(alias.name)
            elif isinstance(node, ast.Name):
                reach(own, node.id)
            elif isinstance(node, ast.Attribute):
                # module.attr, with module bound by an import in this file
                head, _, rest = (_dotted(node.value) or "").partition(".")
                mod = bindings[rel].get(head)
                if mod:
                    reach(".".join([mod] + ([rest] if rest else [])), node.attr)
    unreached = sorted(
        f"{package_files[mod]}: {name}"
        for mod, names in defs.items() for name in names
        if (mod, name) not in reached
    )
    assert not unreached, "only tests reach:\n" + "\n".join(unreached)
