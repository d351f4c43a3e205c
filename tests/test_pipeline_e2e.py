"""End-to-end pipeline correctness — the BASELINE.json gate.

Recall metric (FIXTURES.md F4): of all oracle-labeled dup pairs with
both endpoints lang='en', the fraction co-clustered by the pipeline
must be >= 0.99. Labels come from the SAME PairVerifier predicate the
verify UDF runs, so this measures candidate-generation (LSH) +
clustering recall against reference-semantics ground truth.
"""

import pyspark.sql.functions as F
import pytest

from ufuzzy_spark.config import PipelineConfig
from ufuzzy_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, fixture_dir):
    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    res = run_pipeline(spark, pages)
    res.clusters.cache()
    res.verified_pairs.cache()
    return res


def test_recall_against_oracle_pairs(spark, fixture_dir, result):
    pairs = spark.read.parquet(str(fixture_dir / "dup_pairs_oracle.parquet"))
    dup_pairs = pairs.where("is_dup")

    c = result.clusters.select("url", "cluster_id")
    joined = (
        dup_pairs.join(
            c.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("ca")),
            "url_a",
        )
        .join(
            c.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cb")),
            "url_b",
        )
    )
    total = joined.count()
    hit = joined.where("ca = cb").count()
    recall = hit / total
    misses = (
        joined.where("ca != cb")
        .groupBy("mutation")
        .count()
        .collect()
    )
    assert recall >= 0.99, (
        f"recall {recall:.4f} ({hit}/{total}); misses by class: "
        f"{[(r['mutation'], r['count']) for r in misses]}"
    )


def test_precision_no_false_merges(spark, fixture_dir, result):
    """Labeled negatives must not be co-clustered."""
    pairs = spark.read.parquet(str(fixture_dir / "dup_pairs_oracle.parquet"))
    negs = pairs.where("NOT is_dup AND mutation = 'none'")

    c = result.clusters.select("url", "cluster_id")
    joined = (
        negs.join(
            c.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("ca")),
            "url_a",
        )
        .join(
            c.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cb")),
            "url_b",
        )
    )
    false_merges = joined.where("ca = cb").count()
    assert false_merges == 0


def test_every_doc_clustered_once(spark, fixture_dir, result):
    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    n_en = pages.where("lang = 'en'").count()
    assert result.clusters.count() == n_en
    assert result.clusters.select("url").distinct().count() == n_en
    # exactly one canonical per cluster
    bad = (
        result.clusters.groupBy("cluster_id")
        .agg(F.sum(F.col("is_canonical").cast("int")).alias("n_canon"))
        .where("n_canon != 1")
        .count()
    )
    assert bad == 0


def test_excluded_lang_rows_not_clustered(spark, fixture_dir, result):
    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    xx = pages.where("lang = 'xx'").select("url")
    assert result.clusters.join(xx, "url").count() == 0


def test_extraction_invariant_holds_on_fixture_pages(spark, fixture_dir):
    """input_hint rule: the text extracted from each page's html is
    byte-identical to its text column. A page whose text differs by one
    character, or whose html is null, is a violation."""
    from ufuzzy_spark.operators.normalize import extraction_invariant_violations

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    assert pages.count() == 3000
    assert extraction_invariant_violations(pages).count() == 0

    a, b = pages.select("url", "html", "text").limit(2).collect()
    bad = spark.createDataFrame(
        [(a.url, None, a.text), (b.url, b.html, b.text + ".")],
        "url string, html binary, text string",
    )
    assert extraction_invariant_violations(bad).count() == 2


def test_verify_udf_matches_oracle_labels(spark, fixture_dir):
    """The Spark verify UDF must reproduce PairVerifier labels exactly
    on the golden pairs (same code, but exercises the Arrow path)."""
    from ufuzzy_spark.operators.normalize import normalize
    from ufuzzy_spark.operators.verify import verify_pairs

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    pairs = spark.read.parquet(str(fixture_dir / "dup_pairs_oracle.parquet"))

    normed = normalize(pages)
    verified = verify_pairs(pairs.select("url_a", "url_b"), normed).select(
        "url_a", "url_b", F.col("is_dup").alias("udf_is_dup")
    )

    cmp = pairs.join(verified, ["url_a", "url_b"], "inner")
    assert cmp.count() == pairs.count()
    mismatches = cmp.where("is_dup != udf_is_dup").count()
    assert mismatches == 0


def test_exact_dup_star_edges(spark, fixture_dir):
    from ufuzzy_spark.operators.dedup import exact_dedup
    from ufuzzy_spark.operators.normalize import normalize

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet"))
    normed = normalize(pages.where("lang='en'"))
    edges, reps = exact_dedup(normed)
    n, e, r = normed.count(), edges.count(), reps.count()
    assert r + e == n                      # every doc is rep or member
    assert reps.select("url").distinct().count() == r


def test_pipeline_optional_branches(spark, fixture_dir):
    """Substring branch emits a separate table; simhash candidate
    branch unions postings without breaking the main flow."""
    from ufuzzy_spark.config import PipelineConfig

    pages = spark.read.parquet(str(fixture_dir / "pages.parquet")).limit(800)
    res = run_pipeline(
        spark,
        pages,
        pcfg=PipelineConfig(),
        include_substring_pairs=True,
        use_simhash_candidates=True,
    )
    assert res.clusters.count() > 0
    assert res.substring_pairs is not None
    # substring pairs must reference known urls, canonical order
    sp = res.substring_pairs.limit(50).collect()
    assert all(r.url_a < r.url_b for r in sp)
