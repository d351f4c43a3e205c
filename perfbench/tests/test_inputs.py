"""Tests of the benchmark's own inputs and result shape. No Spark.

    python -m pytest perfbench/tests -q

Set PERFBENCH_TESTDATA to a directory holding the original
``documents.parquet`` to also check the checked-in search corpus
against it.
"""

import json
import os
import sys
from collections import deque
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402
from perfbench.inputs import (  # noqa: E402
    CHAIN_LEN,
    SEARCH_SOURCE,
    batch_corpus,
    chain_pages,
    write_pages,
    write_search_copy,
)
from perfbench.workloads import SEARCH_QUERIES  # noqa: E402


def test_same_seed_same_bytes(tmp_path):
    a_pages, a_pairs = batch_corpus(5, gen_docs=300, chain_docs=64)
    b_pages, b_pairs = batch_corpus(5, gen_docs=300, chain_docs=64)
    assert a_pairs == b_pairs
    a = write_pages(a_pages, tmp_path / "a.parquet").read_bytes()
    b = write_pages(b_pages, tmp_path / "b.parquet").read_bytes()
    assert a == b
    c_pages, _ = batch_corpus(6, gen_docs=300, chain_docs=64)
    assert write_pages(c_pages, tmp_path / "c.parquet").read_bytes() != a


def _diameter(nodes: set, adj: dict) -> int:
    best = 0
    for src in nodes:
        dist = {src: 0}
        todo = deque([src])
        while todo:
            u = todo.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    todo.append(v)
        best = max(best, max(dist.values()))
    return best


def test_chains_have_diameter_at_least_10():
    pages, links = chain_pages(7, n_docs=4 * CHAIN_LEN)
    assert len(pages) == 4 * CHAIN_LEN
    adj: dict = {}
    for p in links:
        if p["is_dup"]:
            adj.setdefault(p["url_a"], []).append(p["url_b"])
            adj.setdefault(p["url_b"], []).append(p["url_a"])
    seen: set = set()
    diameters = []
    for u in adj:
        if u in seen:
            continue
        comp, todo = {u}, [u]
        while todo:
            for v in adj[todo.pop()]:
                if v not in comp:
                    comp.add(v)
                    todo.append(v)
        seen |= comp
        diameters.append(_diameter(comp, adj))
    assert len(diameters) == 4
    assert min(diameters) >= 10, diameters


def _sorted_rows(tbl):
    return tbl.sort_by([("doc_id", "ascending")]).to_pylist()


def test_search_copy_holds_exactly_the_source_rows(tmp_path):
    out = write_search_copy(3, tmp_path)
    src, copy = pq.ParquetFile(SEARCH_SOURCE), pq.ParquetFile(out)
    assert copy.schema_arrow == src.schema_arrow
    assert copy.metadata.num_row_groups == src.metadata.num_row_groups
    assert _sorted_rows(copy.read()) == _sorted_rows(src.read())
    ids = copy.read(columns=["doc_id"]).column(0).to_pylist()
    assert ids != src.read(columns=["doc_id"]).column(0).to_pylist()
    again = write_search_copy(3, tmp_path / "again")
    assert again.read_bytes() == out.read_bytes()


@pytest.mark.skipif(
    not os.environ.get("PERFBENCH_TESTDATA"), reason="PERFBENCH_TESTDATA unset"
)
def test_checked_in_corpus_equals_testdata():
    orig = Path(os.environ["PERFBENCH_TESTDATA"]) / "documents.parquet"
    assert _sorted_rows(pq.read_table(SEARCH_SOURCE)) == _sorted_rows(
        pq.read_table(orig)
    )


def test_benchmark_json_lists_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    assert {f"entry_queries.{q}_ms" for q in SEARCH_QUERIES} <= set(layers)


def test_tail_is_highest_percentile_with_ten_beyond():
    walls = [float(i) for i in range(1, 34)]  # 33 samples
    value, pct = run.tail(walls)
    assert value == 23.0 and sum(w > value for w in walls) == 10
    assert pct == pytest.approx(100 * 23 / 33)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
