"""Every Python file in the repo compiles with warnings turned into errors.

Invalid string escapes such as ``'\\s'`` only warn today (DeprecationWarning
on 3.11, SyntaxWarning from 3.12) and become syntax errors in a later
Python; this check catches them, and any other compile-time warning, early.
"""

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
