"""Every data-dependent broadcast goes through one byte budget.

``session.broadcast_if_fits`` / ``fits_broadcast`` hold the package's
only broadcast rule (n_rows x row_bytes <= BCAST_MAX_BYTES). A
broadcast hint may appear only inside that helper, in
``broadcast_once`` (one relation for an attach join's two sides)
whose callers decide through ``fits_broadcast``, or in a function
whose broadcast side is bounded independently of corpus size. A new
bare broadcast fails this test.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ufuzzy_spark"

ALLOWED = {
    ("session.py", "broadcast_if_fits"): "the one guarded broadcast",
    ("session.py", "broadcast_once"): "callers pass fits_broadcast",
    ("entry_queries.py", "q_simhash_fingerprint"): "the 60-row bit table",
    ("entry_queries.py", "q_tpch_region_revenue"): "TPC-H nation and region",
    ("entry_queries.py", "q_tpch_top_suppliers"): "the 10-row top-k",
    ("entry_queries.py", "q_ann_cosine_topk"): "the fixed ANN query set",
    ("entry_queries.py", "_srp_buckets_df"): "the SRP planes, one row per band",
    ("entry_queries.py", "q_ann_srp_topk"): "the fixed ANN query set",
    ("entry_queries.py", "q_ann_ivf_topk"): "the K-row IVF codebook and queries",
    ("operators/ann.py", "brute_force_topk"): "the caller's query set",
    ("operators/ann.py", "lsh_topk"): "the caller's query buckets",
    ("operators/ann.py", "ivf_topk"): "the caller's query lists",
    ("operators/decontaminate.py", "ngram_overlap"): "benchmark n-grams",
}


def _broadcasts(tree):
    """(function, lineno) of every broadcast call in ``tree``: any
    ``broadcast(...)`` / ``x.broadcast(...)`` and any
    ``.hint("broadcast" | "broadcastjoin" | "mapjoin")``."""
    hints = {"broadcast", "broadcastjoin", "mapjoin"}

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            arg = node.args[0] if node.args else None
            if name == "broadcast" or (
                name == "hint"
                and isinstance(arg, ast.Constant)
                and str(arg.value).lower() in hints
            ):
                yield fn, node.lineno
        for child in ast.iter_child_nodes(node):
            yield from visit(child, fn)

    yield from visit(tree, None)


def test_scanner_sees_every_broadcast_form():
    src = (
        "from pyspark.sql.functions import broadcast\n"
        "def f(df, sc):\n"
        "    F.broadcast(df)\n    broadcast(df)\n    sc.broadcast([1])\n"
        "    df.hint('BROADCAST')\n    df.hint('mapjoin')\n"
        "    df.hint('merge')\n    np.broadcast_to(a, 3)\n"
        "F.broadcast(x)\n"
    )
    found = sorted(_broadcasts(ast.parse(src)), key=lambda r: r[1])
    assert found == [("f", 3), ("f", 4), ("f", 5), ("f", 6), ("f", 7), (None, 10)]


def test_broadcasts_only_in_guard_or_bounded_sides():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, lineno in _broadcasts(ast.parse(path.read_text())):
            found.add((rel, fn, lineno))
    extra = sorted(f for f in found if f[:2] not in ALLOWED)
    assert not extra, f"broadcasts outside the guard and allow-list: {extra}"
    # a stale entry would silently allow a future bare broadcast there
    assert {f[:2] for f in found} == set(ALLOWED)
