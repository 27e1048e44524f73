"""Repository hygiene checks that need no Spark session.

``test_no_zero_reference_definitions``: every top-level function, class
and module-level assignment in the library is named somewhere else in the
repository's Python files — a caller, a test, a tool or a docstring. Code
with zero references goes.

``test_no_unreferenced_scripts``: every script in ``tools/`` and at the
repository root is used — another Python file names or imports it, or
README.md or CLAUDE.md documents it. A script nothing names goes.
"""

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIBRARY = ROOT / "vtcomposite_spark"


def _py_files():
    return [p for p in ROOT.rglob("*.py") if ".git" not in p.parts]


def _top_level_names(node):
    """(name, line) of each name a module-level statement defines."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [(node.name, node.lineno)]
    targets = node.targets if isinstance(node, ast.Assign) else \
        [node.target] if isinstance(node, ast.AnnAssign) else []
    return [(t.id, node.lineno) for t in targets
            if isinstance(t, ast.Name) and not t.id.startswith("__")]


def test_no_zero_reference_definitions():
    # word -> {(file, line)} over every Python file of the repository
    seen = defaultdict(set)
    for path in _py_files():
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for word in re.findall(r"\w+", line):
                seen[word].add((path, lineno))

    unreferenced = []
    for path in sorted(LIBRARY.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            for name, lineno in _top_level_names(node):
                if not seen[name] - {(path, lineno)}:
                    unreferenced.append(
                        f"{path.relative_to(ROOT)}:{lineno} {name}")
    assert not unreferenced, (
        "top-level definitions nothing else names:\n"
        + "\n".join(unreferenced))


def test_no_unreferenced_scripts():
    docs = [ROOT / "README.md", ROOT / "CLAUDE.md"]
    texts = {p: p.read_text() for p in _py_files() + docs if p.exists()}
    unused = []
    for script in sorted([*ROOT.glob("*.py"), *ROOT.glob("tools/*.py")]):
        stem = re.escape(script.stem)
        # the file name (a command, a path) or an import of the module
        named = re.compile(rf"\b{stem}\.py\b|\bimport\s+{stem}\b"
                           rf"|\bfrom\s+{stem}\s+import\b|\btools\.{stem}\b")
        if not any(named.search(text) for p, text in texts.items()
                   if p != script):
            unused.append(str(script.relative_to(ROOT)))
    assert not unused, "scripts nothing names:\n" + "\n".join(unused)
