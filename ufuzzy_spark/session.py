"""SparkSession factory with the pipeline's scale posture baked in.

AQE (adaptive coalescing + skew-join splitting) is always on — the
north_rule requires skew handled explicitly; explicit salting/capping
in operators/lsh.py is the guarantee, AQE the runtime bonus
(SURVEY.md §4). Arrow is on for all pandas UDF exchanges.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# The one broadcast budget. A data-dependent frame may be broadcast
# iff its built relation, n_rows x row_bytes, fits in BCAST_MAX_BYTES;
# above that the join plans plain (sort-merge under AQE), which is
# also the right plan at that size. 1 GiB is ~4% of the default
# driver heap below, which holds every built relation. Widths are
# BroadcastExchange dataSize / numOutputRows at ~200k-row replicas of
# the real frames (CLAUDE.md "One broadcast budget"); the hashed
# relation grows in power-of-two pages, so they are upper bounds.
BCAST_MAX_BYTES = 1 << 30

# Widest incremental key frame: label_moves (old_label, new_label),
# two urls, 376 B/row measured.
KEY_ROW_BYTES = 400


def fits_broadcast(n_rows: int, row_bytes: int) -> bool:
    """Whether ``n_rows`` of ``row_bytes`` each fit the broadcast budget.

    ``row_bytes`` counts every relation the site builds from those rows
    (one for an attach join through ``broadcast_once``)."""
    return n_rows * row_bytes <= BCAST_MAX_BYTES


def broadcast_if_fits(
    df: DataFrame, n_rows: int, row_bytes: int = KEY_ROW_BYTES
) -> DataFrame:
    """``df`` with a broadcast hint iff its ``n_rows`` fit the budget."""
    return F.broadcast(df) if fits_broadcast(n_rows, row_bytes) else df


def jvm_rows(df: DataFrame) -> DataFrame:
    """``df``'s rows as a fresh leaf frame over its JVM row RDD (no
    Python serialization; no job unless ``df``'s plan has an exchange,
    whose stages AQE then runs at once).

    The leaf carries the default statistics, not ``df``'s estimate, and
    it is one RDD, so several aliases of it are one plan under AQE."""
    spark = df.sparkSession
    return DataFrame(
        spark._jsparkSession.createDataFrame(df._jdf.rdd(), df._jdf.schema()), spark
    )


def broadcast_once(df: DataFrame, fits: bool) -> DataFrame:
    """``df`` hinted for broadcast as ONE built relation that every
    alias of it reuses, iff ``fits`` (the caller's ``fits_broadcast``
    for one copy); else ``df`` unchanged.

    Under AQE two broadcasts of a persisted frame each wrap their own
    table-cache stage, so an attach join's two sides build the relation
    twice. Over ``jvm_rows(df)`` the second side is a ReusedExchange."""
    return F.broadcast(jvm_rows(df)) if fits else df


class Fenced(NamedTuple):
    df: DataFrame
    n: int
    counts: dict


def fence(df: DataFrame, **aggs: Column) -> Fenced:
    """Materialize ``df`` as a lineage-truncated leaf and count it in
    the SAME action: ``(frame, row count, {name: aggregate})``.

    ``observe`` rides on the eager ``localCheckpoint``, so the row count
    and each named aggregate over ``df``'s rows cost no job of their
    own (measured over one shuffle: 2 jobs, vs 4 for checkpoint then
    ``count()``). Observed aggregates may not be DISTINCT, and a
    ``sum`` over no rows reads None (a ``count_if`` reads 0)."""
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("__rows"),
        *(agg.alias(name) for name, agg in aggs.items()),
    ).localCheckpoint(eager=True)
    counts = dict(obs.get)
    return Fenced(out, counts.pop("__rows"), counts)


def get_spark(
    app_name: str = "ufuzzy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        # local[N] -> N; local[*]/cluster -> 2x default parallelism
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else 64

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pin UTC: event windows / timestamp formatting must not depend
        # on the deployment host's zone (DuckDB oracle reads parquet
        # timestamps naively as UTC; ADVICE r1)
        .config("spark.sql.session.timeZone", "UTC")
        # adaptive execution: coalesce + skew-join split at runtime
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for every pandas UDF crossing
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # 32MB scan splits: a 100 TB corpus arrives as many files, but
        # sandbox single-file inputs must still split wide enough to
        # feed every core (row-group granular) — 128MB splits pin a
        # ~200MB file to 2 read tasks
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.showConsoleProgress", "false")
        # local mode: the driver JVM IS the executor, so it holds the
        # broadcast relations (each within BCAST_MAX_BYTES), persisted
        # chain blocks AND task memory. Deployments set
        # SPARK_DRIVER_MEM (on a real cluster the driver only needs
        # the broadcasts).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
