"""Session-resident input tables (entry_queries._table / _shared).

Each input table is read, hash-partitioned and persisted once per
session, so a query after the first is a narrow pass over the cached
partitions. These tests pin that plan shape, that a table rewritten
mid-session is rebuilt rather than served stale, and that
release_shared frees what the registry holds.
"""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ufuzzy_spark import entry_queries as eq


def _write_docs(sf_dir, n: int) -> None:
    """``n`` documents; every third one matches fuzzy_filter's needle."""
    text = [f"doc {i} spark sql join" if i % 3 == 0 else f"doc {i}" for i in range(n)]
    table = pa.table({"doc_id": pa.array(range(n), pa.int64()), "text": text})
    pq.write_table(table, f"{sf_dir}/documents.parquet")


@pytest.fixture
def sf_dir(spark, tmp_path):
    """A private sf_dir holding a 500-row documents table."""
    _write_docs(tmp_path, 500)
    yield str(tmp_path)
    eq.release_shared(spark, str(tmp_path))


def _operators(df) -> list[str]:
    """One-line descriptions of df's physical operators. Walks children
    only, so the plan a cached relation was built from (an inner child
    of InMemoryTableScan) is not included."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        out.append(node.simpleString(25))
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_second_query_is_narrow_pass_over_resident_table(spark, sf_dir):
    q = eq.queries()["fuzzy_filter"]
    first = q(spark, sf_dir).count()
    again = q(spark, sf_dir)
    ops = _operators(again)
    assert any(o.startswith("InMemoryTableScan") for o in ops), ops
    assert not any(o.startswith("FileScan") for o in ops), ops
    assert not any(o.startswith("Exchange") and "doc_id" in o for o in ops), ops
    assert again.count() == first


def test_rewritten_table_is_rebuilt_not_served_stale(spark, sf_dir):
    q = eq.queries()["fuzzy_filter"]
    before_ids = _persisted_ids(spark)
    old_hits = {r.doc_id for r in q(spark, sf_dir).collect()}
    old_frame_ids = _persisted_ids(spark) - before_ids
    assert old_hits == set(range(0, 500, 3)) and old_frame_ids

    _write_docs(sf_dir, 100)  # rewritten in place, same sf_dir
    new_hits = {r.doc_id for r in q(spark, sf_dir).collect()}
    assert new_hits == set(range(0, 100, 3))
    assert eq.queries()["normalize_tokens"](spark, sf_dir).count() == 100
    assert not old_frame_ids & _persisted_ids(spark)
    stamps = {k[3] for k in eq._SHARED if k[1] == sf_dir}
    assert len(stamps) == 1


def test_release_shared_unpersists_and_empties_registry(
    spark, sf_dir, tmp_path_factory
):
    other = tmp_path_factory.mktemp("other_sf")
    _write_docs(other, 50)
    before_ids = _persisted_ids(spark)
    eq.queries()["fuzzy_filter"](spark, sf_dir).count()
    eq._sharr(spark, sf_dir)  # a chain frame over the same table
    mine = _persisted_ids(spark) - before_ids
    eq.queries()["fuzzy_filter"](spark, str(other)).count()
    theirs = _persisted_ids(spark) - before_ids - mine
    assert len(mine) == 2 and len(theirs) == 1

    eq.release_shared(spark, sf_dir)
    assert not any(k[1] == sf_dir for k in eq._SHARED)
    assert any(k[1] == str(other) for k in eq._SHARED)
    assert not mine & _persisted_ids(spark)
    assert theirs <= _persisted_ids(spark)

    eq.release_shared(spark)
    assert eq._SHARED == {}
    assert not theirs & _persisted_ids(spark)


def test_stopped_session_entries_dropped_on_first_use(spark, sf_dir):
    """A frame of an earlier, stopped session cannot be unpersisted (its
    context is gone); the registry must simply forget it."""

    class Stopped:
        def unpersist(self):
            raise AssertionError("a stopped session's frame was touched")

    stale = ("local-stopped", sf_dir, "documents", (0, 0), "documents")
    eq._SHARED[stale] = (Stopped(), 0)
    try:
        eq.queries()["fuzzy_filter"](spark, sf_dir).count()
        assert stale not in eq._SHARED
        assert {k[0] for k in eq._SHARED} == {spark.sparkContext.applicationId}
    finally:
        eq._SHARED.pop(stale, None)
