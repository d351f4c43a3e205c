"""Connected components over verified dup edges -> cluster ids.

Iterative min-label propagation with pointer jumping, driver-owned
loop (Catalyst cannot express iteration; SURVEY.md §4). Each round:

    label(v) <- min(label(v), min over neighbors u of label(u))   # hop
    label(v) <- min(label(v), label(label(v)))                    # jump

The hop alone is O(cluster diameter) rounds — fine for the star
shapes exact-dup groups form, but real web corpora also produce
near-dup CHAINS (template pages with successive edits): the sf0.1
documents table contains a component of diameter >= 11, measured as
12 rounds / ~37 s before the jump step was added (round 5). The jump
treats the label table itself as a second edge set — label(v) is
always the url of a node in v's component (min over a reachable
subset), so label(label(v)) stays in-component and chain distance
halves per round: O(log diameter) rounds total, the same device
GraphX/GraphFrames CC uses. Each round is one ``session.fence``: the
eager ``localCheckpoint`` that truncates lineage also counts, through
``observe``, how many labels the round lowered, and a round that
lowered none ends the loop — convergence costs no job of its own.
Every ``_STATS_RESET_EVERY`` rounds the fenced labels are rebuilt over
their row RDD to drop the preserved origin statistics, whose
BigInteger bit-length otherwise doubles per self-join round (see
``_STATS_RESET_EVERY`` for the growth arithmetic).
Labels are the cluster's minimum url — deterministic and
shuffle-stable, matching the fixture convention (FIXTURES.md F4:
cluster_id = min url in cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ufuzzy_spark.session import fence, jvm_rows

# Stats-reset cadence. ``Dataset.localCheckpoint`` truncates the plan
# but PRESERVES the source plan's estimated statistics
# (``LogicalRDD.originStats``). In an iterative self-join loop,
# estimated ``sizeInBytes`` is the PRODUCT of both join branches, so
# the preserved BigInteger's bit-length DOUBLES every round: measured
# on a 2k-node graph, rounds 0-13 ran ~1 s each, then 2 -> 5 -> 13 ->
# 28 -> 80 -> 220 s with a constant logical plan, constant RDD lineage,
# and a constant 4 jobs per round; jstack pinned the wall at 100% CPU
# inside ``BigInteger.multiplyToomCook3`` under
# ``IterableOnceOps.product`` (Catalyst size-only stats estimation
# multiplying megabyte-sized integers). A leaf over the checkpoint's
# JVM row RDD (``session.jvm_rows``, no job) has the default stats —
# constant bit-length per round — but its readers pay an InternalRow
# <-> Row conversion over every row, so the loop rebuilds only every
# ``_STATS_RESET_EVERY`` rounds: bit growth is exponential in ROUNDS
# SINCE RESET, from a small base (tens of bits), so after k rounds a
# multiply costs O((b0 * 2^k)^~1.6) — measured harmless through
# k ~= 12 (sub-ms) and catastrophic by k ~= 17 (seconds/round).
# Resetting every 6 rounds caps bits at ~64x base while paying the
# Row round-trip at most twice for any realistic diameter (pointer
# jumping needs log2(diameter) rounds: 6 covers diameter 64, 12
# covers 4096).
_STATS_RESET_EVERY = 6


def connected_components(
    edges: DataFrame,
    all_nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """edges(url_a, url_b) -> (url, cluster_id).

    ``all_nodes`` (one ``url`` column) optionally adds isolated docs,
    which come back as singleton clusters (cluster_id = own url).

    Raises ``RuntimeError`` when the labels still move after
    ``max_iter`` rounds: a round that lowers no label (the fixpoint
    check) may run as round ``max_iter + 1``.
    """
    # undirected adjacency, both directions — materialized once so the
    # iteration never recomputes the (expensive) upstream edge plan.
    # Plain checkpoint stats for the seeds: their preserved stats are a
    # CONSTANT base (upstream estimate bits) that only the iterated
    # self-join doubles — the periodic reset below caps that growth,
    # and a rebuild here would pay the Row round-trip over the full
    # edge set on every CC invocation for nothing
    sym = fence(
        edges.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst"))
        .unionByName(
            edges.select(F.col("url_b").alias("src"), F.col("url_a").alias("dst"))
        )
    ).df

    labels = fence(
        sym.select(F.col("src").alias("url"))
        .distinct()
        .withColumn("label", F.col("url"))
    ).df

    for it in range(max_iter + 1):
        # ONE join per round (r06): hop and jump fuse into the classic
        # label-doubling step L'(v) = min(L(v), min L(N(v)), L(L(v)))
        # by treating the label table itself as extra edges v -> L(v):
        # the neighbor-min over sym ∪ label-edges then includes
        # L(L(v)). Same fixpoint (component-min labels), still O(log
        # diameter) rounds, but the per-round cost drops from two
        # joins + a convergence join to one join — CC on a 1k-edge
        # graph measured 10.3 s -> per-round fixed overhead was the
        # entire cost at small edge counts.
        lab_edges = labels.select(
            F.col("url").alias("src"), F.col("label").alias("dst")
        )
        nbr_min = (
            sym.unionByName(lab_edges)
            .join(labels.select(F.col("url").alias("dst"), "label"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "url")
        )
        # labels only ever decrease; the fenced frame keeps each
        # node's previous label so the checkpoint's own action counts
        # the lowered ones
        labels, _, moved = fence(
            labels.select("url", F.col("label").alias("prev"))
            .join(nbr_min, "url", "left")
            .select(
                "url",
                F.least(
                    F.col("prev"), F.coalesce("nbr_label", F.col("prev"))
                ).alias("label"),
                "prev",
            ),
            lowered=F.count_if(F.col("label") < F.col("prev")),
        )
        if moved["lowered"] == 0:
            break
        if it % _STATS_RESET_EVERY == _STATS_RESET_EVERY - 1:
            labels = jvm_rows(labels)
    else:
        # a dup chain whose labels still move after max_iter rounds
        # would exit with inconsistent cluster ids
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (cluster diameter exceeds max_iter); "
            "raise max_iter"
        )

    out = labels.select("url", F.col("label").alias("cluster_id"))
    if all_nodes is not None:
        singletons = (
            all_nodes.select("url")
            .join(out, "url", "left_anti")
            .withColumn("cluster_id", F.col("url"))
        )
        out = out.unionByName(singletons)
    return out


def elect_canonical(
    clusters: DataFrame, normed: DataFrame, n_chars_col: str | None = None
) -> DataFrame:
    """Per-cluster canonical doc via the reference rank-comparator keys.

    The reference's sort (uFuzzy.mjs:74-110) ranks matches by match
    quality; for cluster canonicalization the analogous deterministic
    multi-key order is: longest normalized text DESC (most complete
    copy), earliest warc_ts ASC (first crawl), url ASC (tiebreak).

    ``n_chars_col`` names a precomputed full-text length column
    (streaming/incremental.py stores it at ingest and keeps only a
    text window — length() over the window would elect differently
    than batch); default computes length(norm_text) here.
    """
    from pyspark.sql import Window

    length_expr = (
        F.length("norm_text") if n_chars_col is None else F.col(n_chars_col)
    )
    enriched = clusters.join(
        normed.select("url", length_expr.alias("n_chars"), "warc_ts"),
        "url",
        "left",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("warc_ts"), F.asc("url")
    )
    return (
        enriched.withColumn("rnk", F.row_number().over(w))
        .withColumn("is_canonical", F.col("rnk") == 1)
        .drop("rnk", "n_chars", "warc_ts")
    )
