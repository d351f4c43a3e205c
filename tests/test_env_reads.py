"""No behaviour switch hides behind an environment variable.

Alternates that measurement rejected used to ship behind env flags.
The package may read only the deployment settings listed here; a new
read fails this test, so a config field or a deletion is the way out.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ufuzzy_spark"

ALLOWED = {
    ("session.py", "SPARK_GRAFT_MASTER"),
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "SPARK_DRIVER_MEM"),
}


def _env_reads(tree):
    """(lineno, key) for every environ / getenv use in ``tree``; key is
    None unless it is a string literal."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.Name):
            name = node.id
        else:
            continue
        if name not in ("environ", "getenv"):
            continue
        use = parents.get(node)
        if name == "environ" and isinstance(use, ast.Attribute):  # .get(...)
            use = parents.get(use)
        if isinstance(use, ast.Call) and use.args:
            arg = use.args[0]
        elif isinstance(use, ast.Subscript):
            arg = use.slice
        else:
            arg = None
        key = arg.value if isinstance(arg, ast.Constant) else None
        yield node.lineno, key


def test_scanner_sees_every_read_form():
    src = (
        "import os\nfrom os import environ\n"
        "os.environ.get('A')\nos.getenv('B')\nos.environ['C']\n"
        "environ.get('D')\n'E' in os.environ\nos.getenv(name)\n"
    )
    reads = sorted(_env_reads(ast.parse(src)), key=lambda r: r[0])
    keys = [k for _, k in reads]
    assert keys == ["A", "B", "C", "D", None, None]


def test_package_reads_only_deployment_settings():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for lineno, key in _env_reads(ast.parse(path.read_text())):
            found.add((rel, key, lineno))
    extra = sorted(f for f in found if f[:2] not in ALLOWED)
    assert not extra, f"env reads outside the allow-list: {extra}"
    assert {(f, k) for f, k, _ in found if f == "session.py"} == {
        a for a in ALLOWED if a[0] == "session.py"
    }
