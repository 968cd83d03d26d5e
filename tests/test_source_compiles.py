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


def _imported_names(rel: str, src: bytes) -> set[str]:
    """Dotted names an ``import`` anywhere in the file (module level or
    inside a function) may load, relative imports resolved against the
    file's package; ``from m import x`` yields both ``m`` and ``m.x``."""
    module = _module_name(rel).split(".")
    package = module if rel.endswith("__init__.py") else module[:-1]
    names = set()
    for node in ast.walk(ast.parse(src, rel)):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                base = ".".join(base + ([node.module] if node.module else []))
            else:
                base = node.module
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def test_every_package_module_is_reachable():
    """Every ``ocr_poc_spark`` module is imported, directly or through other
    package modules, from the CLI or from a tracked file outside the package
    and the tests; a module only tests reach is dead code."""
    files = _python_files()
    package = {
        _module_name(rel): rel for rel in files
        if rel.startswith("ocr_poc_spark/")
    }
    roots = [
        rel for rel in files
        if not rel.startswith(("ocr_poc_spark/", "tests/"))
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
