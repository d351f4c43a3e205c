"""Structured Streaming entry point for the dedup pipeline.

The reference engine's incremental surface is the typeahead session:
each keystroke re-searches with prior work reused via ``prefixCache``
(/root/reference/demos/compare.html:562-601). At pipeline scale the
analog is a continuously-arriving crawl: each micro-batch of new pages
must be absorbed into cumulative dedup state for O(new + touched)
cost, not recomputed (streaming/incremental.py). This module is the
``readStream`` -> ``foreachBatch`` wiring that turns that batch-shaped
operator into a long-running streaming query.

Why ``foreachBatch`` and not watermarked stateful aggregation: dedup
clustering is GLOBAL — a new page can join any historical cluster, so
there is no event-time horizon after which state may be dropped, which
is the precondition for watermarks (SURVEY.md §2.2). Micro-batch over
a persistent catalog is the honest shape; watermarked operators are
used where they fit (streaming/windows.py — event windowing, where
late data IS boundable).

Exactly-once: Spark's recovery contract for ``foreachBatch`` is
at-least-once — after a failure the last epoch is REPLAYED with the
same epoch id and the same data (file source + checkpoint WAL), and
the sink must deduplicate on the epoch id. ``incremental_dedup`` gets
that for free from the catalog ingest journal: we pass
``ingest_id=f"epoch-{epoch_id}"``, so a replayed epoch is detected as
already-committed and no-ops, while an epoch that died mid-persist is
detected as torn state and refused loudly (never silently doubled —
the failure mode ADVICE r4 #1 flagged for refcount state).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from ufuzzy_spark.catalog import LocalParquetCatalog
from ufuzzy_spark.config import PipelineConfig


def dedup_epoch_sink(
    spark: SparkSession,
    catalog: LocalParquetCatalog,
    pcfg: PipelineConfig | None = None,
    **dedup_kwargs,
):
    """The ``foreachBatch`` body: absorb one micro-batch into catalog
    state, keyed by epoch id for exactly-once replay. Exposed
    separately so a recovery replay can be exercised (and tested) by
    calling it twice with the same epoch id."""
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    def body(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return  # no state writes -> nothing to journal
        incremental_dedup(
            spark,
            catalog,
            batch_df,
            pcfg,
            ingest_id=f"epoch-{epoch_id}",
            **dedup_kwargs,
        )

    return body


def dedup_stream(
    spark: SparkSession,
    input_dir: str,
    catalog: LocalParquetCatalog,
    schema: StructType,
    checkpoint_dir: str,
    pcfg: PipelineConfig | None = None,
    max_files_per_trigger: int | None = 1,
    available_now: bool = False,
    **dedup_kwargs,
):
    """Start the streaming dedup query over a parquet drop directory;
    returns the ``StreamingQuery``.

    Each arriving file set becomes one micro-batch snapshot ingested
    by ``incremental_dedup`` against ``catalog`` state; clusters stay
    continuously bit-equal to a batch ``run_pipeline`` over everything
    ingested so far (pinned by tests/test_streaming.py). The
    checkpoint dir carries Spark's file-source WAL, so a restarted
    query resumes at the right epoch and replays at most the last one
    — which the ingest journal absorbs as a no-op (module docstring).

    ``max_files_per_trigger`` bounds snapshot size per micro-batch
    (None = all available files in one batch); ``available_now``
    drains the current directory contents and terminates, the
    batch-backfill trigger. ``dedup_kwargs`` pass through to
    ``incremental_dedup`` (``batch_cutover_frac``, ``state_buckets``,
    ``compact_every``...). The first micro-batch into an empty catalog
    always takes the batch leg; ``batch_cutover_frac`` routes the
    later ones (``None``: every later micro-batch takes the delta leg).

    At cluster scale the same wiring points at an object-store prefix
    or Kafka source; the catalog becomes an Iceberg catalog (the
    backend seam in catalog.py) and everything else is unchanged.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(input_dir)
    writer = (
        stream.writeStream.foreachBatch(
            dedup_epoch_sink(spark, catalog, pcfg, **dedup_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
