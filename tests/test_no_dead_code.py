"""Dead-code guard (no Spark): every top-level ``def``/``class`` in the
package must be referenced by name somewhere outside its own definition —
in the package, the driver contract, the bench scripts, jobs/, tools/,
perfbench/ or tests/. A helper whose last caller was deleted fails here."""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "mbrngq_spark"


def _sources() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), ROOT / "__spark_entry__.py",
             *ROOT.glob("bench*.py")]
    for d in ("jobs", "tools", "perfbench", "tests"):
        files += (ROOT / d).rglob("*.py")
    return sorted(set(files))


def _refs(node: ast.AST) -> Counter:
    """Names a subtree mentions: loads, attribute accesses, imports."""
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def test_every_top_level_definition_is_referenced():
    trees = {p: ast.parse(p.read_text(), filename=str(p))
             for p in _sources()}
    total = Counter()
    for tree in trees.values():
        total += _refs(tree)
    unreferenced = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            # references inside the definition itself (recursion, a
            # method calling its own class) do not keep it alive
            if total[node.name] - _refs(node)[node.name] <= 0:
                unreferenced.append(
                    f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not unreferenced, "unreferenced definitions:\n" + \
        "\n".join(unreferenced)
