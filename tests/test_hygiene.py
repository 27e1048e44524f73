"""Repository hygiene checks that need no Spark session.

``test_no_zero_reference_definitions``: every top-level function, class
and module-level assignment in the library is named outside ``tests/``
and outside its own definition — by a caller, a tool, a benchmark or
another definition's docstring. A name only tests reach, or only its own
docstring, goes: a parity reference moves to ``tests/reference_plans.py``
and anything else is deleted.

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
TESTS = ROOT / "tests"


def _py_files():
    return [p for p in ROOT.rglob("*.py") if ".git" not in p.parts]


def _top_level_names(node):
    """Names a module-level statement defines."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else \
        [node.target] if isinstance(node, ast.AnnAssign) else []
    return [t.id for t in targets
            if isinstance(t, ast.Name) and not t.id.startswith("__")]


def test_no_zero_reference_definitions():
    # word -> {(file, line)} over every Python file outside tests/
    seen = defaultdict(set)
    for path in _py_files():
        if TESTS in path.parents:
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for word in re.findall(r"\w+", line):
                seen[word].add((path, lineno))

    unreferenced = []
    for path in sorted(LIBRARY.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            # its own definition: decorators, signature, docstring, body
            first = min([node.lineno] + [d.lineno for d in getattr(
                node, "decorator_list", [])])
            own = {(path, n) for n in range(first, node.end_lineno + 1)}
            for name in _top_level_names(node):
                if not seen[name] - own:
                    unreferenced.append(
                        f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    assert not unreferenced, (
        "top-level definitions named nowhere outside tests/ and their "
        "own definition:\n" + "\n".join(unreferenced))


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
