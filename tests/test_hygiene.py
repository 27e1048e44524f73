"""Repository hygiene checks that need no Spark session.

``test_no_zero_reference_definitions``: every library definition has a
caller outside the tests. A definition is a module-level function, class
or assignment, also one nested in a module-level ``if`` or ``try``. A
reference is a name, an attribute or an imported name in the code of a
``.py`` file outside ``tests/`` that is not a ``test_*.py`` file;
docstrings and comments are not code. References from inside a
definition count only once that definition is itself referenced, so a
name that only its own body or only unreferenced code names goes too. A
parity reference that only tests call moves to ``tests/reference_plans.py``
and anything else is deleted.

``test_no_unreferenced_scripts``: every script in ``tools/`` and at the
repository root is used — another Python file names or imports it, or
README.md or CLAUDE.md documents it. A script nothing names goes.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIBRARY = ROOT / "vtcomposite_spark"
TESTS = ROOT / "tests"

# The only exemption: the WARC reader and writer (their helpers follow
# from them) stay for ROADMAP item 5, defined failure behaviour for
# malformed input. This tuple may only shrink.
EXEMPT = ("read_warc", "parse_warc_bytes", "write_warc", "cdx_index")


def _py_files():
    return [p for p in ROOT.rglob("*.py") if ".git" not in p.parts]


def _statements(body):
    """(node, names) for the module-level code in ``body``: a definition
    with the names it binds, or other code (an import, an ``if`` test, a
    loop that runs at import) with None. Definitions nested in
    module-level ``if`` and ``try`` blocks are definitions too."""
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node, [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            yield node, [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)
                         and not n.id.startswith("__")]
        elif isinstance(node, ast.If):
            yield node.test, None
            yield from _statements(node.body + node.orelse)
        elif isinstance(node, ast.Try):
            for h in node.handlers:
                if h.type:
                    yield h.type, None
                yield from _statements(h.body)
            yield from _statements(node.body + node.orelse + node.finalbody)
        else:
            yield node, None


def _references(node):
    """Names, attributes and imported names read in ``node``'s code."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.ImportFrom):
            yield from (a.name for a in n.names)


def test_no_zero_reference_definitions():
    defs = []  # (path, statement, names, the names its code reads)
    reached = set(EXEMPT)
    for path in _py_files():
        if TESTS in path.parents or path.name.startswith("test_"):
            continue
        tree = ast.parse(path.read_text())
        if LIBRARY not in path.parents:
            reached.update(_references(tree))
            continue
        for node, names in _statements(tree.body):
            if names is None:
                reached.update(_references(node))
            else:
                defs.append((path, node, names, set(_references(node))))

    # a definition's own references count once something reaches it
    live = set()
    while True:
        new = [i for i, (_, _, names, _) in enumerate(defs)
               if i not in live and reached.intersection(names)]
        if not new:
            break
        live.update(new)
        for i in new:
            reached |= defs[i][3]
    unreferenced = [
        f"{path.relative_to(ROOT)}:{node.lineno} {', '.join(names)}"
        for i, (path, node, names, _) in enumerate(defs) if i not in live]
    assert not unreferenced, (
        "library definitions that no code outside tests/ reaches:\n"
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
