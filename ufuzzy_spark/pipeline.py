"""End-to-end near-duplicate pipeline — the Spark analog of
uFuzzy's filter -> info -> sort lifecycle (SURVEY.md §3).

    pages --normalize(narrow)--> normed
          --exact_dedup(1 shuffle)--> exact star edges + reps
          --signatures(narrow pandas UDFs)--> minhash/simhash
          --LSH bands(1 shuffle)--> candidate pairs
          --verify(pair-text joins + Arrow UDF)--> verified pairs
          --connected components(iterative)--> clusters
          --canonical election(window)--> final table

Each stage is a separately runnable DataFrame -> DataFrame function
(the reference's own à-la-carte architecture, README.md:139-181).
``run_pipeline`` fences the stages that several consumers read, with
one ``StageRunner.materialize`` call each, whether or not a checkpoint
dir is given (with one they are also resumable):

- ``normed``: read by exact dedup, both verify text attaches, the CC
  nodes and the election, three of them as concurrent subplans of the
  verify job (over a lazy cache they recomputed normalize a varying
  number of times: 312..568 s run to run on 1M docs at local[16]).
  Its row count picks the verify and election join plans.
- ``exact_edges``: one branch of the CC edge union.
- ``signatures``: the salted two-phase bucket cap reads the postings
  several times; unfenced, the signature UDF reruns up to 4x.
- ``candidate_pairs``: capped-bucket expansion UNION star overflow,
  both derived from the same bucket window.
- ``verified_pairs``: the other branch of the CC edge union, which
  reads both branches in one job; unfenced, the whole signatures ->
  LSH -> verify chain ran twice.
- ``substring_pairs``, when asked for: a separate output table.

``reps`` (read only by signatures) and the clusters (the caller's
output) are left lazy.
"""

from __future__ import annotations

import argparse
import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufuzzy_spark.config import DEDUP_LANGS, PipelineConfig
from ufuzzy_spark.lineage import StageRunner
from ufuzzy_spark.operators.components import connected_components, elect_canonical
from ufuzzy_spark.operators.dedup import exact_dedup
from ufuzzy_spark.operators.lsh import candidate_pairs, postings_from_band_hashes
from ufuzzy_spark.operators.minhash import banded_signatures
from ufuzzy_spark.operators.normalize import normalize
from ufuzzy_spark.operators.verify import WINDOW_ATTACH_ROW_BYTES, verify_pairs
from ufuzzy_spark.session import fits_broadcast


@dataclass
class PipelineResult:
    clusters: DataFrame           # url, cluster_id, is_canonical
    verified_pairs: DataFrame     # url_a, url_b, score, is_dup, ...
    candidate_pairs: DataFrame
    substring_pairs: DataFrame | None = None  # long exact-substring dupes
    metrics: dict = field(default_factory=dict)
    _runner: StageRunner | None = field(default=None, repr=False)

    def unpersist(self) -> None:
        """Release the storage of the run's stage fences. Read the
        result frames first: they are unreadable afterwards. Repeated
        run_pipeline calls in one session otherwise accumulate
        checkpoint blocks (VERDICT r1 #4)."""
        if self._runner is not None:
            self._runner.release()


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    pcfg: PipelineConfig | None = None,
    checkpoint_dir: str | None = None,
    include_substring_pairs: bool = False,
    use_simhash_candidates: bool = False,
) -> PipelineResult:
    pcfg = pcfg or PipelineConfig()
    runner = StageRunner(spark, checkpoint_dir, pcfg.config_hash())
    metrics: dict = {"config_hash": pcfg.config_hash(), "stages": runner.metrics}

    # 1. normalize (narrow) — only dedup-eligible languages proceed.
    # Repartition by url hash up front: a real 100 TB corpus arrives
    # as thousands of files, but a single-file sandbox input would
    # otherwise pin every narrow stage (normalize + signature UDFs) to
    # the parquet row-group count — one cheap shuffle of the raw pages
    # buys full-width parallelism for all downstream narrow stages.
    target_parts = max(
        spark.sparkContext.defaultParallelism * 2, pcfg.num_partitions
    )
    in_scope = (
        pages.where(F.col("lang").isin(*DEDUP_LANGS))
        .repartition(target_parts, "url")
    )
    normed, n_normed, _ = runner.materialize(
        "normed",
        lambda: normalize(in_scope, pcfg.match).select(
            "url", "warc_ts", "norm_text"
        ),
    )
    # r06: unbroadcast, the two text-attach joins shuffle the pair
    # table twice
    bcast_texts = fits_broadcast(n_normed, WINDOW_ATTACH_ROW_BYTES)

    # 2. exact-hash pre-dedup: strips identical-content mass before LSH
    exact_edges_l, reps = exact_dedup(normed)
    exact_edges = runner.materialize("exact_edges", lambda: exact_edges_l).df

    # 3. signatures over representatives only (narrow, Arrow UDFs) —
    # band hashes are folded INSIDE the UDF (minhash.banded_signatures)
    # so only bands+bag_bands longs/doc cross Arrow and the JVM never
    # re-slices signature arrays (the 0.65-scaling stage of round 2)
    sigs = runner.materialize(
        "signatures",
        lambda: banded_signatures(reps, pcfg).select(
            "url", "band_hashes", "simhash"
        ),
    ).df

    # 4. LSH candidates (one shuffle + distinct). Optional SimHash
    # Hamming-ball postings union in as a recall backstop (the band
    # trick over fingerprint chunks shares the same bucket machinery).
    def _cands():
        buckets = postings_from_band_hashes(sigs, pcfg)
        if use_simhash_candidates:
            from ufuzzy_spark.operators.lsh import simhash_chunk_buckets

            buckets = buckets.unionByName(simhash_chunk_buckets(sigs, pcfg))
        return candidate_pairs(buckets, pcfg)

    cands = runner.materialize("candidate_pairs", _cands).df

    # 5. bounded-edit verification (precision pass)
    verified = runner.materialize(
        "verified_pairs",
        lambda: verify_pairs(cands, normed, pcfg, broadcast_texts=bcast_texts),
    ).df

    # 6. connected components over exact + verified edges
    dup_edges = verified.where("is_dup").select("url_a", "url_b")
    cc_labels = connected_components(
        exact_edges.unionByName(dup_edges), all_nodes=normed.select("url")
    )

    # 7. canonical election
    clusters = elect_canonical(cc_labels, normed, n_docs=n_normed)

    # 8. optional long-exact-substring branch: a SEPARATE output table
    # (shared boilerplate chunks are not near-dup clusters; SURVEY §3)
    sub_pairs = None
    if include_substring_pairs:
        from ufuzzy_spark.operators.substring import substring_pairs

        sub_pairs = runner.materialize(
            "substring_pairs", lambda: substring_pairs(normed, pcfg)
        ).df

    runner.write_metrics_table()
    return PipelineResult(clusters, verified, cands, sub_pairs, metrics, runner)


def main() -> None:
    from ufuzzy_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="pages parquet path")
    ap.add_argument("--rows", type=int, default=5000, help="synthesize N pages")
    ap.add_argument("--output", default="/tmp/ufz_out")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("ufuzzy-pipeline", master=args.master)

    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        from fixtures.gen import write_fixtures

        fix = write_fixtures("/tmp/ufz_fixtures_cli", args.rows, label_pairs=False)
        pages = spark.read.parquet(str(fix / "pages.parquet"))

    t0 = time.time()
    res = run_pipeline(spark, pages)
    res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    res.verified_pairs.write.mode("overwrite").parquet(
        f"{args.output}/verified_pairs"
    )
    wall = time.time() - t0

    n_docs = pages.count()
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    print(
        json.dumps(
            {
                "docs": n_docs,
                "clusters": n_clusters,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 1),
                "metrics": res.metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
