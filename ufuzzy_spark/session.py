"""SparkSession factory with the pipeline's scale posture baked in.

AQE (adaptive coalescing + skew-join splitting) is always on — the
north_rule requires skew handled explicitly; explicit salting/capping
in operators/lsh.py is the guarantee, AQE the runtime bonus
(SURVEY.md §4). Arrow is on for all pandas UDF exchanges.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
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
    (two for an attach join whose sides are not reused)."""
    return n_rows * row_bytes <= BCAST_MAX_BYTES


def broadcast_if_fits(
    df: DataFrame, n_rows: int, row_bytes: int = KEY_ROW_BYTES
) -> DataFrame:
    """``df`` with a broadcast hint iff its ``n_rows`` fit the budget."""
    return F.broadcast(df) if fits_broadcast(n_rows, row_bytes) else df


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
