"""Physical-plan pins — the scale properties .explain() must show.

These guard against regressions that only hurt at 100 TB: filters not
reaching the scan, full-schema reads for narrow projections,
accidental cartesian products, missed broadcasts.
"""

import pyspark.sql.functions as F
import pytest

from ufuzzy_spark.plans.explain import (
    codegen_stage_count,
    formatted_plan,
    has_broadcast_join,
    has_cartesian,
    pushed_filters,
    scan_read_schema,
)

SF_DIR = "/root/testdata/sf0.01"


def test_lang_filter_pushed_to_scan(spark, fixture_dir):
    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    plan = formatted_plan(pages.where("lang = 'en'").select("url"))
    pushed = pushed_filters(plan)
    assert pushed and any("lang" in p for p in pushed), plan


def test_projection_prunes_scan_schema(spark, fixture_dir):
    """A 2-column projection must not read html (the wide column)."""
    from ufuzzy_spark.operators.normalize import normalize

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    out = normalize(pages.where("lang='en'")).select("url", "norm_text")
    plan = formatted_plan(out)
    schemas = scan_read_schema(plan)
    assert schemas and all("html" not in s and "warc_ts" not in s for s in schemas), (
        schemas
    )


def test_pipeline_has_no_cartesian_and_uses_codegen(spark, fixture_dir):
    from ufuzzy_spark.operators.dedup import exact_dedup
    from ufuzzy_spark.operators.lsh import (
        candidate_pairs,
        postings_from_band_hashes,
    )
    from ufuzzy_spark.operators.minhash import banded_signatures
    from ufuzzy_spark.operators.normalize import normalize

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    normed = normalize(pages.where("lang='en'"))
    _, reps = exact_dedup(normed)
    sigs = banded_signatures(reps).select("url", "band_hashes")
    cands = candidate_pairs(postings_from_band_hashes(sigs))
    # AQE wraps everything in AdaptiveSparkPlan and hides codegen spans
    # until runtime — inspect the static plan with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = formatted_plan(cands)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert not has_cartesian(plan), plan
    assert codegen_stage_count(plan) >= 2, plan


def test_ann_broadcast_join(spark):
    from ufuzzy_spark.operators.ann import brute_force_topk

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.where("vec_id < 3")
    plan = formatted_plan(brute_force_topk(embs, q, k=3))
    assert has_broadcast_join(plan), plan


def test_verify_join_not_cartesian(spark, fixture_dir):
    from ufuzzy_spark.operators.normalize import normalize
    from ufuzzy_spark.operators.verify import verify_pairs

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    normed = normalize(pages.where("lang='en'"))
    pairs = normed.limit(10).select(
        F.col("url").alias("url_a"), F.col("url").alias("url_b")
    )
    plan = formatted_plan(verify_pairs(pairs, normed))
    assert not has_cartesian(plan), plan


def test_no_unpartitioned_windows_in_entry_plans(spark):
    """Every ranking in the driver queries must be two-phase/partitioned
    — an unpartitioned Window funnels all rows into one task at scale
    (VERDICT r1: rank_comparator, typeahead_rank, ann_cosine_topk)."""
    import __spark_entry__ as entry
    from ufuzzy_spark.plans.explain import unpartitioned_window_count

    # queries that run eager jobs at plan-construction time (iterative
    # CC checkpoints / lineage writes) are pinned by their own e2e tests
    eager = {"dup_clusters", "resume_lineage", "incremental_ingest"}
    for name, fn in entry.queries().items():
        if name in eager:
            continue
        plan = formatted_plan(fn(spark, SF_DIR))
        assert unpartitioned_window_count(plan) == 0, (
            f"{name}: unpartitioned Window in plan\n{plan}"
        )


def test_tpch_region_revenue_broadcasts_dims(spark):
    """nation/region dims must reach the plan as broadcast joins; the
    orders x customer fact join must not be a cartesian."""
    from ufuzzy_spark.entry_queries import q_tpch_region_revenue

    plan = formatted_plan(q_tpch_region_revenue(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert not has_cartesian(plan), plan


def _executed_operators(df) -> list[tuple[str, set[str]]]:
    """(node name, output column names) of df's final (post-AQE)
    physical plan, query-stage wrappers opened; run df first."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        cols = node.output()
        out.append((name, {cols.apply(i).name() for i in range(cols.size())}))
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def _attach_builds(df, payload: set[str]) -> list[str]:
    """Sorted names of the broadcast exchanges in df's executed plan
    whose output carries a ``payload`` column."""
    return sorted(
        name
        for name, cols in _executed_operators(df)
        if name in ("BroadcastExchange", "ReusedExchange") and cols & payload
    )


ONE_BUILD = ["BroadcastExchange", "ReusedExchange"]


def test_ngram_jaccard_builds_shingle_arrays_once(spark):
    """Both sides of the jaccard attach read ONE built relation of the
    per-doc shingle arrays: one BroadcastExchange, one ReusedExchange."""
    from ufuzzy_spark.entry_queries import q_ngram_jaccard

    df = q_ngram_jaccard(spark, SF_DIR)
    df.collect()
    names = [name for name, _ in _executed_operators(df)]
    assert names.count("BroadcastExchange") == 1, names
    assert names.count("ReusedExchange") == 1, names
    assert _attach_builds(df, {"sha", "shb"}) == ONE_BUILD


def test_verify_window_attach_builds_windows_once(spark):
    """verify_pairs (and pair_features, same attach) with
    broadcast_texts: the url_a and url_b sides read one built window
    relation."""
    from ufuzzy_spark.operators.verify import verify_pairs

    normed = spark.createDataFrame(
        [(f"u{i}", f"text number {i} words") for i in range(20)],
        ["url", "norm_text"],
    ).persist()
    pairs = spark.createDataFrame(
        [(f"u{i}", f"u{i + 1}") for i in range(19)], ["url_a", "url_b"]
    )
    df = verify_pairs(pairs, normed, broadcast_texts=True)
    assert df.count() == 19
    df.collect()
    assert _attach_builds(df, {"norm_a", "norm_b"}) == ONE_BUILD
    normed.unpersist()


def test_verify_pairs_native_builds_profiles_once(spark):
    from ufuzzy_spark.entry_queries import q_verify_pairs_native

    df = q_verify_pairs_native(spark, SF_DIR)
    df.collect()
    assert _attach_builds(df, {"terms_a", "terms_b"}) == ONE_BUILD


def test_embedding_near_dup_builds_vectors_once(spark, monkeypatch):
    """The cosine attach runs inside CC's first fence, so the edge
    frame handed to connected_components is captured and run."""
    import ufuzzy_spark.operators.components as components
    from ufuzzy_spark.entry_queries import q_embedding_near_dup

    seen = []
    cc = components.connected_components

    def capture(edges, *args, **kwargs):
        seen.append(edges)
        return cc(edges, *args, **kwargs)

    monkeypatch.setattr(components, "connected_components", capture)
    q_embedding_near_dup(spark, SF_DIR)
    (edges,) = seen
    edges.collect()
    assert _attach_builds(edges, {"xe", "ye"}) == ONE_BUILD


# -- bucketed state layout (VERDICT r4 next #6) ------------------------- #
# docs/PLANS.md's residual-cost note claims state tables "would
# additionally be bucketed by their join keys" on a real cluster; these
# pin that the catalog's optional bucketBy layout actually delivers the
# two properties the claim rests on.


def _bucketed_sigs_catalog(spark, tmp_path, n_rows=20000, n_buckets=8):
    from ufuzzy_spark.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(tmp_path / "bcat")
    sigs = spark.range(0, n_rows).select(
        F.xxhash64(F.col("id").cast("string")).alias("content_hash"),
        F.array(F.col("id"), F.col("id") + 1).alias("band_hashes"),
        F.col("id").alias("simhash"),
    )
    cat.write(sigs, "sigs", bucket_by=(["content_hash"], n_buckets))
    return cat


def test_bucketed_state_join_shuffles_probe_side_only(spark, tmp_path):
    """The 100 TB memo-join shape: once a probe side outgrows the
    broadcast bound, the sigs/verdicts join plans as sort-merge — and
    the BUCKETED state side must feed the join straight from the scan
    (no Exchange over O(state) bytes; only the probe side shuffles)."""
    cat = _bucketed_sigs_catalog(spark, tmp_path)
    state = cat.read_all(spark, "sigs")
    probe = spark.range(0, 500).select(
        F.xxhash64((F.col("id") * 7).cast("string")).alias("content_hash")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(state.join(probe, "content_hash", "left_semi"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" in plan, plan
    # exactly ONE Exchange: the probe side. A second one would mean the
    # state scan is being shuffled — the O(state) cost the layout exists
    # to remove.
    assert plan.count("(Exchange") + plan.count("+- Exchange") == 1, plan


def test_bucketed_state_literal_filter_prunes_buckets(spark, tmp_path):
    """Literal =/IN predicates on the bucket column must prune the scan
    to matching buckets (SelectedBucketsCount k out of n, k < n)."""
    import re

    cat = _bucketed_sigs_catalog(spark, tmp_path)
    state = cat.read_all(spark, "sigs")
    keys = [r.content_hash for r in state.limit(3).collect()]
    # filter-only queries have no join to justify a bucketed scan, so
    # the planner's auto-bucketed-scan heuristic must be off to see the
    # pruning (a join+filter query prunes with it on)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        plan = formatted_plan(state.where(F.col("content_hash").isin(keys)))
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) < int(m.group(2)), plan


def test_bucketed_chain_delta_union_and_recompaction(spark, tmp_path):
    """Deltas union away the bucket property (honest: two parquet dirs
    are two tables); compaction folds them into a fresh FULL snapshot
    that is bucketed again — the steady-state layout contract."""
    cat = _bucketed_sigs_catalog(spark, tmp_path, n_rows=1000)
    delta = spark.range(1000, 1200).select(
        F.xxhash64(F.col("id").cast("string")).alias("content_hash"),
        F.array(F.col("id"), F.col("id") + 1).alias("band_hashes"),
        F.col("id").alias("simhash"),
    )
    cat.append(delta, "sigs")
    assert cat.read_all(spark, "sigs").count() == 1200
    assert cat.maybe_compact(
        spark, "sigs", max_deltas=1, bucket_by=(["content_hash"], 8)
    )
    again = cat.read_all(spark, "sigs")
    assert again.count() == 1200
    assert "Bucketed: true" in formatted_plan(
        again.join(
            spark.range(3).select(
                F.xxhash64(F.col("id").cast("string")).alias("content_hash")
            ).hint("shuffle_merge"),
            "content_hash",
            "left_semi",
        )
    )
    # fresh-session path: drop the registration the write left behind;
    # _read_snap must re-register from _META.json via CLUSTERED BY DDL
    # with the bucket layout intact
    snap = cat.latest_snapshot("sigs")
    spark.sql(f"DROP TABLE IF EXISTS {cat._reg_name('sigs', snap)}")
    re_read = cat.read_all(spark, "sigs")
    assert re_read.count() == 1200
    assert "Bucketed: true" in formatted_plan(
        re_read.join(
            spark.range(3).select(
                F.xxhash64(F.col("id").cast("string")).alias("content_hash")
            ).hint("shuffle_merge"),
            "content_hash",
            "left_semi",
        )
    )
