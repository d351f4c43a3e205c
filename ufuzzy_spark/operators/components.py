"""Connected components over verified dup edges -> cluster ids.

Labels are the cluster's minimum url — deterministic and
shuffle-stable, matching the fixture convention (FIXTURES.md F4:
cluster_id = min url in cluster). ``connected_components`` fences the
edges once; that fence's own action counts them, and the count picks
one of two exact paths with the same output:

* **In-memory finish** (the edges fit the broadcast budget at
  ``CC_EDGE_BYTES`` each, ``session.fits_broadcast``): one collect
  brings the edges to the driver as Arrow, nodes are encoded in sorted
  order (Arrow compares strings by UTF-8 bytes, as Spark does, so the
  smallest code is the smallest url), a vectorized union-find
  (``_min_labels``) labels every node with its component's smallest
  code, and the labels return as one local frame. batch_dedup's dup
  graph (perfbench seed 11, 4 cores) is labelled and elected in 6
  jobs / 0.97 s, against 34 jobs / 3.9 s on the loop.
* **Distributed label doubling** (anything larger): the driver-owned
  loop of fenced rounds (Catalyst cannot express iteration; SURVEY.md
  §4). Each round is

      label(v) <- min(label(v), min over neighbors u of label(u))   # hop
      label(v) <- min(label(v), label(label(v)))                    # jump

  fused into one join. The hop alone is O(cluster diameter) rounds —
  fine for the star shapes exact-dup groups form, but real web
  corpora also produce near-dup CHAINS (template pages with
  successive edits): the sf0.1 documents table contains a component
  of diameter >= 11, measured as 12 rounds / ~37 s before the jump
  step was added (round 5). label(v) is always the url of a node in
  v's component, so label(label(v)) stays in-component and chain
  distance halves per round: O(log diameter) rounds total, the same
  device GraphX/GraphFrames CC uses. Each round is one
  ``session.fence`` whose action also counts, through ``observe``,
  how many labels the round lowered; a round that lowered none ends
  the loop, so convergence costs no job of its own. Every
  ``_STATS_RESET_EVERY`` rounds the fenced labels are rebuilt over
  their row RDD to drop the preserved origin statistics, whose
  BigInteger bit-length otherwise doubles per self-join round (see
  ``_STATS_RESET_EVERY`` for the growth arithmetic).

A null endpoint is a node of its own on both paths: one
``(null, null)`` row that connects nothing.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ufuzzy_spark.session import fence, fits_broadcast, jvm_rows

# Driver bytes one edge costs the in-memory finish at its peak: the
# Python process's peak RSS over the finish (collected Arrow edges,
# their dictionary encoding, the int64 union-find arrays, the labels)
# plus the JVM's copies of the collected edges and of the labels
# shipped back. Measured 723 B at 1M and 788 B at 2M edges over
# 62-char urls; the 1 GiB budget admits 1.34M edges.
CC_EDGE_BYTES = 800

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

    Edges that fit the broadcast budget are labelled on the driver;
    larger graphs run the distributed loop, and only there does
    ``max_iter`` bound anything: ``RuntimeError`` when the labels
    still move after ``max_iter`` rounds (a round that lowers no label,
    the fixpoint check, may run as round ``max_iter + 1``).
    """
    # fenced once, so neither path recomputes the (expensive) upstream
    # edge plan, and the fence's own action counts the edges
    edges, n_edges, _ = fence(edges.select("url_a", "url_b"))
    if fits_broadcast(n_edges, CC_EDGE_BYTES):
        out = _label_in_memory(edges)
    else:
        out = _label_doubling(edges, max_iter)
    if all_nodes is not None:
        # all_nodes can be the whole corpus: it stays distributed
        singletons = (
            all_nodes.select("url")
            .join(out, "url", "left_anti")
            .withColumn("cluster_id", F.col("url"))
        )
        out = out.unionByName(singletons)
    return out


def _label_in_memory(edges: DataFrame) -> DataFrame:
    """(url, cluster_id) for every endpoint of the fenced ``edges``,
    by one collect and a driver-side union-find."""
    t = edges.toArrow()
    n = t.num_rows
    ends = pa.chunked_array(
        t.column("url_a").chunks + t.column("url_b").chunks,
        type=t.schema.field("url_a").type,
    ).combine_chunks()
    del t
    # one hash pass; the dictionary is then sorted so that a node's
    # code orders as its url does (Arrow compares strings by UTF-8
    # bytes, as Spark does)
    enc = pc.dictionary_encode(ends)
    del ends
    order = pc.sort_indices(enc.dictionary)
    urls = enc.dictionary.take(order)
    rank = np.empty(len(urls), dtype=np.int64)
    rank[order.to_numpy()] = np.arange(len(urls))
    idx = enc.indices.fill_null(-1).to_numpy()
    # a null endpoint is a node of its own that links nothing, as in
    # the loop's joins
    a, b = (np.where(i >= 0, rank[i], -1) for i in (idx[:n], idx[n:]))
    linked = (a >= 0) & (b >= 0)
    labels = urls.take(pa.array(_min_labels(a[linked], b[linked], len(urls))))
    if not linked.all():
        urls = pa.concat_arrays([urls, pa.nulls(1, urls.type)])
        labels = pa.concat_arrays([labels, pa.nulls(1, urls.type)])
    url_type = edges.schema["url_a"].dataType
    return edges.sparkSession.createDataFrame(
        pa.table({"url": urls, "cluster_id": labels}),
        schema=T.StructType(
            [T.StructField(c, url_type) for c in ("url", "cluster_id")]
        ),
    )


def _min_labels(a: np.ndarray, b: np.ndarray, n_nodes: int) -> np.ndarray:
    """Smallest node code in each node's component, over edges
    ``a[i] - b[i]`` (codes in ``[0, n_nodes)``).

    ``lab`` is a forest whose pointers only go down (``lab[v] <= v``).
    Each round hooks every root that still has a cross edge onto the
    smallest root across one, then jumps pointers until every node
    points at its root; the larger root of every cross edge stops being
    a root, so the loop ends, and the one root a component keeps is its
    smallest code. Measured: 14 rounds / 1.2 s for a 2M-node path in
    random code order, 4 rounds for a 2M-edge random graph."""
    lab = np.arange(n_nodes)
    while True:
        ra, rb = lab[a], lab[b]
        cross = ra != rb
        if not cross.any():
            return lab
        # an edge inside one supernode stays inside it
        a, b, ra, rb = a[cross], b[cross], ra[cross], rb[cross]
        np.minimum.at(lab, ra, rb)
        np.minimum.at(lab, rb, ra)
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up


def _label_doubling(edges: DataFrame, max_iter: int) -> DataFrame:
    """The distributed loop over the fenced ``edges``: (url, label)
    rounds until no label moves."""
    # undirected adjacency, both directions, read from the fenced
    # edges each round. Plain checkpoint stats for the seeds: their
    # preserved stats are a CONSTANT base (upstream estimate bits)
    # that only the iterated self-join doubles — the periodic reset
    # below caps that growth, and a rebuild here would pay the Row
    # round-trip over the full edge set on every CC invocation for
    # nothing
    sym = edges.select(
        F.col("url_a").alias("src"), F.col("url_b").alias("dst")
    ).unionByName(
        edges.select(F.col("url_b").alias("src"), F.col("url_a").alias("dst"))
    )

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

    return labels.select("url", F.col("label").alias("cluster_id"))


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
