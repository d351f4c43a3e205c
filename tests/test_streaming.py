"""Structured Streaming integration: incremental dedup as the
foreachBatch body of a file-stream query (streaming/stream.py).

Dedup's global-clustering nature makes watermarked streaming state a
poor fit (SURVEY.md §2.2), so the streaming story is micro-batch:
each arriving snapshot runs ``incremental_dedup`` against catalog
state. These tests drive a real ``readStream`` -> ``foreachBatch``
query over parquet drops through the library API, check the final
clusters equal a single batch run, and pin the recovery contract:
a replayed epoch is an exactly-once no-op (catalog ingest journal)
and torn state is refused loudly, never built upon.
"""

import json

import pytest


def _clusters(df):
    return {(r.url, r.cluster_id) for r in df.select("url", "cluster_id").collect()}


@pytest.fixture(scope="module")
def stream_run(spark, tmp_path_factory):
    """One end-to-end dedup_stream run shared by the assertions below:
    400 pages in two parquet drops, one micro-batch each."""
    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.stream import dedup_stream

    tmp_path = tmp_path_factory.mktemp("ufz_stream")
    pages, _ = gen_corpus(400, seed=9, label_pairs=False)
    full = spark.createDataFrame(pages)
    batch = _clusters(run_pipeline(spark, full).clusters)

    half = len(pages) // 2
    in_dir = tmp_path / "stream_in"
    spark.createDataFrame(pages[:half]).coalesce(1).write.mode("append").parquet(
        str(in_dir)
    )
    spark.createDataFrame(pages[half:]).coalesce(1).write.mode("append").parquet(
        str(in_dir)
    )

    cat = LocalParquetCatalog(tmp_path / "cat")
    q = dedup_stream(
        spark,
        str(in_dir),
        cat,
        full.schema,
        str(tmp_path / "stream_ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(300)
    return cat, batch, spark.createDataFrame(pages[half:])


def test_stream_equals_batch(spark, stream_run):
    cat, batch, _ = stream_run
    assert _clusters(cat.read(spark, "clusters")) == batch


def test_epoch_replay_is_exactly_once(spark, stream_run):
    """Spark's foreachBatch recovery replays the last epoch with the
    same id and data; the ingest journal must absorb it as a no-op
    (same snapshot ids, same clusters — state not doubled)."""
    from ufuzzy_spark.streaming.stream import dedup_epoch_sink

    cat, batch, second_half = stream_run
    before = {t: cat.snapshots(t) for t in ("sigs", "normed", "pair_cnt", "clusters")}
    # two drops at maxFilesPerTrigger=1 -> epochs 0 and 1; replay #1
    dedup_epoch_sink(spark, cat)(second_half, 1)
    after = {t: cat.snapshots(t) for t in before}
    assert after == before
    assert _clusters(cat.read(spark, "clusters")) == batch


def test_torn_state_is_refused(spark, stream_run):
    """An ingest that died between its first and last state write
    leaves a begun-but-not-committed journal marker; the next ingest
    must refuse rather than silently double refcount deltas."""
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    cat, _, second_half = stream_run
    cat.journal_begin("epoch-crashed", {"leg": "delta"})
    try:
        with pytest.raises(ValueError, match="torn state"):
            incremental_dedup(
                spark,
                cat,
                second_half.withColumn(
                    "url", second_half.url.substr(1, 100)  # never reached
                ),
            )
    finally:
        # leave the shared catalog usable for later-ordered tests
        cat.journal_commit("epoch-crashed")


def test_journal_status_roundtrip(tmp_path):
    from ufuzzy_spark.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(tmp_path / "cat")
    assert cat.journal_status("e1") is None
    assert cat.torn_ingests() == []
    cat.journal_begin("e1", {"n_new": 7})
    assert cat.journal_status("e1") == "begun"
    assert cat.torn_ingests() == ["e1"]
    cat.journal_commit("e1")
    assert cat.journal_status("e1") == "committed"
    assert cat.torn_ingests() == []
    # ids are arbitrary strings (hashed for the filename)
    cat.journal_begin("weird/../id with spaces")
    assert cat.torn_ingests() == ["weird/../id with spaces"]


def test_catalog_write_is_crash_atomic(spark, tmp_path):
    """A writer dying mid-write leaves only a staging dir that every
    read path ignores; a lagging _LATEST marker (death between rename
    and marker) never reuses a committed snapshot id."""
    from ufuzzy_spark.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(tmp_path / "cat")
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    cat.write(df, "t")
    cat.append(df.where("id < 2"), "t")
    tdir = tmp_path / "cat" / "t"

    # no staging residue after successful writes
    assert not list(tdir.glob("_tmp-*"))

    # simulate a crashed writer: staging dir with data but no rename
    crashed = tdir / "_tmp-snapshot-00000099"
    crashed.mkdir()
    (crashed / "part-junk.parquet").write_bytes(b"not parquet")
    assert cat.snapshots("t") == [1, 2]
    assert cat.read_all(spark, "t").count() == 7

    # _LATEST lagging by one (death between rename and marker update):
    # the next write must still pick a FRESH id, not collide with the
    # committed-but-unmarked snapshot
    (tdir / "_LATEST").write_text("1")
    assert cat.latest_snapshot("t") == 2
    snap = cat.append(df.where("id >= 4"), "t")
    assert snap == 3
    assert cat.read_all(spark, "t").count() == 8

    # a crashed BUCKETED write leaves no committed snapshot either
    # (the session-catalog registration is dropped post-rename, so
    # reads re-register from _META.json at the final path)
    snap = cat.write(df, "tb", bucket_by=(["id"], 4))
    meta = json.loads(
        (tmp_path / "cat" / "tb" / f"snapshot-{snap:08d}" / "_META.json").read_text()
    )
    assert meta["bucket_by"] == ["id"]
    assert cat.read(spark, "tb").count() == 5


def test_journal_commit_moves_out_of_torn_scan(tmp_path):
    """Commit relocates the record to ``committed/`` so the torn scan
    at the top of every ingest is O(in-flight ids), not O(every ingest
    the stream ever ran); legacy flat committed records migrate in
    passing, and a begun file whose committed twin already exists
    (crash between the commit replace and the in-flight unlink) heals
    to committed."""
    from ufuzzy_spark.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(tmp_path / "cat")
    for i in range(5):
        cat.journal_begin(f"e{i}")
        cat.journal_commit(f"e{i}")
    d = tmp_path / "cat" / "_ingests"
    assert list(d.glob("*.json")) == []  # nothing left in-flight
    assert len(list((d / "committed").glob("*.json"))) == 5
    assert cat.torn_ingests() == []
    cat.journal_commit("e0")  # idempotent re-commit
    assert cat.journal_status("e0") == "committed"

    # legacy flat layout (pre-subdir): a committed record at top level
    # is migrated by the scan, then never touched again
    legacy = d / "00legacy.json"
    legacy.write_text(json.dumps({"ingest_id": "legacy", "status": "committed"}))
    assert cat.torn_ingests() == []
    assert not legacy.exists()
    assert (d / "committed" / "00legacy.json").exists()
    assert cat.torn_ingests() == []

    # crash between the commit replace and the unlink: both files
    # exist — done-file existence IS the commit, the stale begun file
    # is removed and the id reads committed
    cat.journal_begin("e9")
    p = cat._journal_path("e9")
    rec = json.loads(p.read_text())
    rec["status"] = "committed"
    cat._journal_done_path("e9").write_text(json.dumps(rec))
    assert cat.torn_ingests() == []
    assert not p.exists()
    assert cat.journal_status("e9") == "committed"


def test_latest_snapshot_tolerates_torn_marker(spark, tmp_path):
    """A writer dying inside the marker write must not brick the
    catalog: an empty/garbage ``_LATEST`` used to raise ``int('')``
    in every subsequent catalog op. The dir scan (whose rename is the
    real commit point) is the source of truth; the next write heals
    the marker."""
    from ufuzzy_spark.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(tmp_path / "cat")
    df = spark.range(3).selectExpr("id")
    cat.write(df, "t")
    marker = tmp_path / "cat" / "t" / "_LATEST"
    marker.write_text("")  # torn write_text truncation
    assert cat.latest_snapshot("t") == 1
    assert cat.write(df, "t") == 2
    assert marker.read_text() == "2"
    marker.write_text("not a number")
    assert cat.latest_snapshot("t") == 2


def test_torn_scan_heal_survives_concurrent_unlink(tmp_path, monkeypatch):
    """Two scans racing on the same healed leftover (or a scan racing
    journal_commit's own unlink): the loser's unlink must not raise
    FileNotFoundError and abort the scan mid-ingest (ADVICE r5). The
    same holds when a concurrent commit moves an in-flight record
    before the scan reads it, and when a concurrent healer migrates a
    legacy committed record before the scan's own os.replace."""
    import os
    import pathlib

    from ufuzzy_spark.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(tmp_path / "cat")
    cat.journal_begin("e2")
    cat.journal_commit("e2")
    # recreate the stale in-flight twin the heal branch targets
    p = cat._journal_path("e2")
    p.write_text(json.dumps({"ingest_id": "e2", "status": "begun"}))

    orig_unlink = pathlib.Path.unlink

    def racing_unlink(self, missing_ok=False):
        # the competing healer wins between glob and our unlink
        if self == p and self.exists():
            orig_unlink(self)
        return orig_unlink(self, missing_ok=missing_ok)

    monkeypatch.setattr(pathlib.Path, "unlink", racing_unlink)
    assert cat.torn_ingests() == []  # pre-fix: FileNotFoundError
    assert not p.exists()

    # journal_commit lands between the scan's glob and its read_text
    cat.journal_begin("e3")
    p3 = cat._journal_path("e3")
    orig_read_text = pathlib.Path.read_text
    raced = []

    def racing_read_text(self, *args, **kwargs):
        if self == p3 and not raced:
            raced.append(self)  # journal_commit reads p3 itself
            cat.journal_commit("e3")
        return orig_read_text(self, *args, **kwargs)

    monkeypatch.setattr(pathlib.Path, "read_text", racing_read_text)
    assert cat.torn_ingests() == []
    assert cat.journal_status("e3") == "committed"

    # a legacy flat-layout committed record, migrated by a competing
    # healer between the scan's read_text and its os.replace
    p4 = cat._journal_path("e4")
    p4.write_text(json.dumps({"ingest_id": "e4", "status": "committed"}))
    done4 = cat._journal_done_path("e4")
    orig_replace = os.replace

    def racing_replace(src, dst):
        if src == p4 and p4.exists():
            orig_replace(p4, done4)
        return orig_replace(src, dst)

    monkeypatch.setattr(os, "replace", racing_replace)
    assert cat.torn_ingests() == []
    assert done4.exists() and not p4.exists()
    assert cat.journal_status("e4") == "committed"
