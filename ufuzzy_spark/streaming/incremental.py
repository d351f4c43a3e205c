"""Incremental dedup over snapshot diffs — the scaling ingest path.

The reference's prefixCache demo reuses prior results when the query
extends a cached prefix (demos/compare.html:562-601); the pipeline
analog is memoizing prior work across snapshots while guaranteeing the
final clusters equal a single batch run over the union
(resume-equivalence — the prefixCache contract).

Design (round 4 — O(new + touched), replacing the round-3 full
relational recompute): EVERY stage is now scoped to the snapshot's
blast radius, not the cumulative corpus:

- ``sigs`` state (content_hash -> band hashes, simhash): the Arrow
  signature UDF runs only for never-seen texts. O(new distinct texts).
- **touched buckets**: a (band_id, band_hash) bucket's membership (the
  set of representative urls posting into it) changes only if a NEW
  content hash posts into it, or the representative url of a member
  hash changed (rep churn: a new doc with the same content and a
  smaller url). Band hashes are pure functions of content, so the
  touched-key set is derivable from the new + churned hashes alone.
  Untouched buckets emit bit-identical pairs (lsh._pair_emissions is a
  pure function of the member-url set), so candidate generation reruns
  ONLY over touched buckets — and within those, buckets at or under
  max_bucket_size on both sides (where the cap machinery provably
  cannot fire) emit only the clique-delta edges incident to their
  changed members; only over-cap buckets pay a full before/after
  re-count.
- ``pair_cnt`` state (url_a, url_b, d): append-only refcount deltas;
  the logical count of a pair = sum(d) = the number of buckets
  currently generating it (candidate_pair_counts). Applying the
  touched-bucket count difference as a delta maintains the EXACT batch
  pair set: pairs appear when their count rises from 0 and disappear
  when it returns to 0 (cap-rank shifts inside an over-cap bucket can
  retire a pair another bucket doesn't carry).
- ``verdicts`` state (hash_lo, hash_hi, is_dup): bounded-edit
  verification is a pure function of the two normalized windows, so
  each unordered text pair is verified exactly once, ever. Only ADDED
  pairs missing from the memo are verified. O(new-ish).
- **label-seeded connected components**: prior clusters are reused as
  supernodes. Added edges between intact components merge them on a
  graph of component labels; components incident to a REMOVED dup edge
  are dissolved (their members become individual nodes, their current
  edges regathered from pair_cnt + verdicts + exact-hash groups) and
  re-solved. Cluster ids are min-member urls, and an intact
  component's label IS its min member url, so the small graph's
  min-label CC yields exactly the batch labels.
- canonical election reruns only for components present in the small
  graph; all other rows of the prior clusters table carry over.

Exactness: incremental == batch is by construction at the PAIR-SET
level (not merely connectivity): untouched buckets are invariant,
touched buckets are recounted with the same operator, so the logical
pair set equals candidate_pairs over cumulative reps, and verdicts are
content-addressed. The round-2 "new x all band join" failed exactly
here — the capped star-overflow expansion is not decomposable by
doc arrival, but it IS decomposable by bucket.

Scale notes (100 TB): per-snapshot SHUFFLE work is O(new + touched) —
postings explode/distinct of new+churned hashes, the two touched-
bucket pair expansions, the added-pair verification, and a small-graph
CC. Cumulative state is only ever read through broadcast-filtered
column-pruned parquet scans (no shuffle); on a real cluster the state
tables would additionally be bucketed by their join keys so those
scans partition-prune too. State tables are APPEND-ONLY (normed/sigs/
verdicts grow; pair_cnt grows by deltas whose running sum is the
logical count), each ingest writes O(new) delta rows
(catalog.append), and ``compact_every`` bounds the delta-chain length
(catalog.maybe_compact; pair_cnt compacts to its aggregated sums).
``clusters`` is an OUTPUT table: always a full snapshot, rebuilt as
(carried-over prior rows) + (re-elected affected components) with no
wide shuffle.

Batch-first by design: dedup's global-clustering nature makes
watermarked streaming state a poor fit (SURVEY.md §2.2 Streaming) —
the same function is the micro-batch body if driven by a
Structured Streaming foreachBatch sink (tests/test_streaming.py).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufuzzy_spark.catalog import LocalParquetCatalog
from ufuzzy_spark.config import PipelineConfig
from ufuzzy_spark.operators.components import (
    connected_components,
    elect_canonical,
)
from ufuzzy_spark.operators.lsh import (
    candidate_pair_counts,
    postings_from_band_hashes,
)
from ufuzzy_spark.operators.minhash import banded_signatures
from ufuzzy_spark.operators.normalize import normalize
from ufuzzy_spark.operators.verify import WINDOW_BCAST_MAX_ROWS, verify_pairs

_SIGS_SCHEMA = "content_hash long, band_hashes array<bigint>, simhash long"
_VERDICTS_SCHEMA = "hash_lo long, hash_hi long, is_dup boolean"
_PAIR_CNT_SCHEMA = "url_a string, url_b string, d int"
_REPS_SCHEMA = "content_hash long, old_rep_url string"

# bucketed state layout (VERDICT r4 next #6 — the docs/PLANS.md
# residual-cost claim, made real): FULL snapshots of the memo tables
# are hash-bucketed on exactly the keys their ingest joins probe, so
# when a probe side outgrows _BCAST_MAX_ROWS and the join plans as
# sort-merge, the state side feeds the join straight from the scan —
# NO Exchange over O(state) bytes (tests/test_plans.py pins the
# shape). pair_cnt is deliberately absent: its reads are pk-hash semi
# joins, not column equi-joins, so bucketing buys nothing there.
_STATE_BUCKET_COLS: dict[str, list[str]] = {
    "sigs": ["content_hash"],
    "normed": ["url"],
    "verdicts": ["hash_lo", "hash_hi"],
}


def _bspec(table: str, n_buckets: int):
    cols = _STATE_BUCKET_COLS.get(table)
    return (cols, n_buckets) if n_buckets and cols else None

_CONFIG_GUARD = "_PIPELINE_CONFIG.json"

# data-dependent broadcast guard: the blast-radius frames are usually
# small (broadcast-filtered scans are the whole design), but a LARGE
# snapshot — above all the first ingest of a big corpus — can push a
# "small" side past what the driver can build as a hashed relation
# (measured: 58M touched-bucket keys OOMed a 12g driver at 2.9M docs).
# Above this row bound we fall back to a plain join and let AQE plan
# it; that is also the correct plan at that size.
_BCAST_MAX_ROWS = 8_000_000


def _maybe_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= _BCAST_MAX_ROWS else df


def _check_config_guard(catalog: LocalParquetCatalog, pcfg: PipelineConfig):
    """Persist pcfg.config_hash() on first ingest; refuse a mismatch.

    The state tables are only meaningful under the config that wrote
    them: band_hashes positions encode bands+bag_bands, stored
    norm_text is a 2*verify_window_chars window, and memoized verdicts
    bake in theta/window. Reusing them under a different config would
    produce wrong clusters with no error — unlike the batch path,
    where config_hash invalidates checkpoints (lineage.StageRunner).
    Any config change therefore requires a fresh catalog.
    """
    guard = catalog.root / _CONFIG_GUARD
    if guard.exists():
        stored = json.loads(guard.read_text())
        if stored.get("config_hash") != pcfg.config_hash():
            raise ValueError(
                "incremental_dedup: catalog state was written under "
                f"config_hash={stored.get('config_hash')} but this ingest "
                f"uses {pcfg.config_hash()}; state (band layouts, verify "
                "windows, memoized verdicts) is config-bound — re-ingest "
                "into a fresh catalog"
            )
    else:
        guard.write_text(
            json.dumps({"config_hash": pcfg.config_hash(), "version": 4})
        )


def _hash_postings(sigs: DataFrame, pcfg: PipelineConfig) -> DataFrame:
    """sigs(content_hash, band_hashes) -> (content_hash, band_id,
    band_hash) — postings keyed by CONTENT (pure function of the text,
    so append-only across snapshots and invariant under rep churn)."""
    return postings_from_band_hashes(
        sigs.select(F.col("content_hash").alias("url"), "band_hashes"), pcfg
    ).withColumnRenamed("url", "content_hash")


def _batch_recompute(
    spark: SparkSession,
    catalog: LocalParquetCatalog,
    pcfg: PipelineConfig,
    fence,
    stats_out: dict | None,
    old_sigs: DataFrame,
    old_verdicts: DataFrame,
    old_normed: DataFrame | None,
    new_normed: DataFrame,
    new_sigs: DataFrame,
    new_slim: DataFrame,
    all_keys: DataFrame,
    compact_every: int,
    state_buckets: int = 0,
    ingest_id: str | None = None,
) -> DataFrame:
    """Batch-over-state leg of the adaptive cutover (VERDICT r4 #3).

    When the snapshot is a large fraction of the corpus, the
    touched-bucket delta machinery costs MORE than recomputing: the
    blast radius is near-total, so the ingest pays refcount and
    dissolution bookkeeping ON TOP of an almost-full recount. This leg
    runs the batch operators (full bucket recount -> verify -> CC ->
    election) over cumulative state while KEEPING the two memo tables
    — signatures by content hash and verdicts by content-hash pair —
    so the expensive Arrow UDF stages still touch only never-seen
    content. Output clusters are bit-equal to ``run_pipeline`` over
    the union of all snapshots (same reps, same bucket members, same
    verdict keys, same CC labels; pinned by
    tests/test_operators.py::test_cutover_matches_batch_and_incremental).

    State writes match the delta leg in SHAPE: sigs/normed/verdicts
    append their deltas; pair_cnt is written as a fresh FULL recount
    (a full snapshot supersedes the delta chain in read_all, and the
    recount equals the running sum by candidate_pair_counts' purity).
    """
    sigs_all = old_sigs.unionByName(new_sigs)
    reps_all = fence(
        all_keys.groupBy("content_hash").agg(F.min("url").alias("url"))
    )
    n_reps = reps_all.count()
    posts = (
        _hash_postings(sigs_all, pcfg)
        .join(_maybe_broadcast(reps_all, n_reps), "content_hash")
        .select("url", "band_id", "band_hash")
    )
    pair_counts = fence(candidate_pair_counts(posts, pcfg))
    n_pairs = pair_counts.count()
    if stats_out is not None:
        stats_out["mode"] = "batch_recompute"
        stats_out["cand_pairs"] = n_pairs
        # touched_buckets / pairs_added / pairs_removed /
        # old_x_old_reverified / dissolved_components are delta-leg
        # bookkeeping; this leg recounts everything and tracks none

    pairs_h = fence(
        pair_counts.select("url_a", "url_b")
        .join(
            _maybe_broadcast(
                reps_all.select(
                    F.col("url").alias("url_a"),
                    F.col("content_hash").alias("hash_a"),
                ),
                n_reps,
            ),
            "url_a",
        )
        .join(
            _maybe_broadcast(
                reps_all.select(
                    F.col("url").alias("url_b"),
                    F.col("content_hash").alias("hash_b"),
                ),
                n_reps,
            ),
            "url_b",
        )
        .select(
            "url_a",
            "url_b",
            F.least("hash_a", "hash_b").alias("hash_lo"),
            F.greatest("hash_a", "hash_b").alias("hash_hi"),
        )
    )
    to_verify = fence(
        pairs_h.join(old_verdicts, ["hash_lo", "hash_hi"], "left_anti")
    )
    n_to_verify = to_verify.count()
    if stats_out is not None:
        stats_out["pairs_verified"] = n_to_verify
    ver_urls = (
        to_verify.select(F.col("url_a").alias("url"))
        .unionByName(to_verify.select(F.col("url_b").alias("url")))
        .distinct()
    )
    ver_texts = new_normed.select("url", "norm_text")
    if old_normed is not None:
        # stored norm_text is already the verify window — verify_pairs
        # re-windows identically, so verdicts match batch bit-for-bit
        ver_texts = old_normed.select("url", "norm_text").unionByName(ver_texts)
    ver_texts = ver_texts.join(
        _maybe_broadcast(ver_urls, 2 * n_to_verify), "url", "left_semi"
    )
    new_verdicts = fence(
        verify_pairs(
            to_verify.select("url_a", "url_b", "hash_lo", "hash_hi"),
            ver_texts,
            pcfg,
            # ver_texts is semi-join-bounded to <= 2*n_to_verify urls
            broadcast_texts=2 * n_to_verify <= WINDOW_BCAST_MAX_ROWS,
        ).select("hash_lo", "hash_hi", "is_dup")
    )
    verdicts_all = old_verdicts.unionByName(new_verdicts)
    dup_edges = (
        pairs_h.join(verdicts_all, ["hash_lo", "hash_hi"])
        .where("is_dup")
        .select("url_a", "url_b")
    )
    # exact-hash stars: every member edges to its corpus-wide min-url
    # rep — the same connectivity batch exact_dedup emits
    exact_edges = (
        all_keys.join(
            _maybe_broadcast(
                reps_all.withColumnRenamed("url", "rep_url"), n_reps
            ),
            "content_hash",
        )
        .where(F.col("url") != F.col("rep_url"))
        .select(F.col("rep_url").alias("url_a"), F.col("url").alias("url_b"))
    )
    labels = connected_components(
        exact_edges.unionByName(dup_edges), all_nodes=all_keys.select("url")
    )
    slim_all = (
        old_normed.select("url", "content_hash", "n_chars", "warc_ts").unionByName(
            new_slim.select("url", "content_hash", "n_chars", "warc_ts")
        )
        if old_normed is not None
        else new_slim.select("url", "content_hash", "n_chars", "warc_ts")
    )
    clusters = elect_canonical(labels, slim_all, n_chars_col="n_chars")

    # persist: same all-or-nothing discipline as the delta leg. The
    # FIRST ingest (no prior chain) writes FULL snapshots so the
    # state_buckets layout applies from snapshot 1, not first
    # compaction; cutover ingests append deltas onto the chain.
    if ingest_id is not None:
        catalog.journal_begin(ingest_id, {"leg": "batch"})
    if catalog.exists("sigs"):
        catalog.append(new_sigs, "sigs")
        catalog.append(new_slim, "normed")
        catalog.append(new_verdicts, "verdicts")
    else:
        catalog.write(new_sigs, "sigs", bucket_by=_bspec("sigs", state_buckets))
        catalog.write(
            new_slim, "normed", bucket_by=_bspec("normed", state_buckets)
        )
        catalog.write(
            new_verdicts,
            "verdicts",
            bucket_by=_bspec("verdicts", state_buckets),
        )
    catalog.write(
        pair_counts.select("url_a", "url_b", F.col("cnt").cast("int").alias("d")),
        "pair_cnt",
    )
    catalog.write(clusters, "clusters")
    if ingest_id is not None:
        # commit BEFORE compaction: compaction is a pure re-layout
        # whose own writes are individually crash-atomic (a died
        # compaction leaves only an invisible staging dir), so it
        # belongs outside the multi-table transaction
        catalog.journal_commit(ingest_id)
    if compact_every:
        for table in ("sigs", "normed", "verdicts"):
            catalog.maybe_compact(
                spark,
                table,
                max_deltas=compact_every,
                bucket_by=_bspec(table, state_buckets),
            )
    return catalog.read(spark, "clusters")


def incremental_dedup(
    spark: SparkSession,
    catalog: LocalParquetCatalog,
    new_pages: DataFrame,
    pcfg: PipelineConfig | None = None,
    stats_out: dict | None = None,
    compact_every: int = 16,
    batch_cutover_frac: float | None = 1 / 3,
    state_buckets: int = 0,
    ingest_id: str | None = None,
) -> DataFrame:
    """Process a new snapshot against persisted state; returns the
    updated full clusters table (also written as a new snapshot),
    bit-equal to ``run_pipeline`` over the union of all snapshots.

    ``batch_cutover_frac``: when the snapshot is at least this fraction
    of the post-ingest corpus, the touched-bucket delta machinery is
    skipped in favor of ``_batch_recompute`` — a full bucket recount
    with the sig/verdict memo tables still applied (the delta leg's
    bookkeeping costs MORE than recomputing once the blast radius is
    near-total; VERDICT r4). ``None`` disables the cutover (always
    delta). Both legs write the same state shapes and bit-equal
    clusters. Default 1/3 sits inside the measured crossover band
    (BENCH/BASELINE.md round-5 "cutover crossover" tables): at 1M
    docs the delta leg wins at <=20% snapshots and loses at >=50%;
    at 300k docs it loses at EVERY fraction, because its fixed
    bookkeeping cost (~100 s of fenced stages on the bench host) only
    amortizes when the displaced batch recompute is expensive. The
    cutover still keys on fraction, not corpus size: the fraction
    rule is the one that binds in the scale direction, and where it
    mispredicts (small corpora) the absolute cost of either leg is
    small.

    Contract: urls are unique ACROSS snapshots (they are the identity
    every state table and CC node keys on); a snapshot re-ingesting a
    known url raises rather than corrupting state. Catalogs written by
    earlier state layouts (round 2 bands/edges; round 3 without
    pair_cnt) raise too, as does a config_hash mismatch
    (_check_config_guard).

    ``ingest_id``: optional caller-chosen idempotency key. Every
    ingest journals a begun marker before its first state write and a
    committed marker after its last (catalog ingest journal) — a
    process dying between the two leaves the journal saying so, and
    the NEXT ingest refuses loudly instead of building on torn state
    (the cross-table completion of the single-table rename atomicity
    in ``LocalParquetCatalog.write``). When ``ingest_id`` is given
    and already committed, the call is an idempotent no-op returning
    current clusters — this is what makes Structured Streaming's
    replay-last-epoch recovery exactly-once (streaming/stream.py
    passes the epoch id). Without ``ingest_id`` an opaque unique id
    is journaled (torn detection still applies; replay skip needs the
    caller-stable key).

    State tables: ``normed`` (url, content_hash, norm_text window,
    n_chars, warc_ts), ``sigs`` (content_hash -> band hashes),
    ``verdicts`` (unordered content-hash pair -> is_dup), ``pair_cnt``
    (pair -> bucket-refcount deltas). ``compact_every`` bounds each
    table's delta-snapshot chain (catalog.maybe_compact).

    ``state_buckets``: when > 0, FULL snapshots of sigs/normed/
    verdicts (first ingest + compactions) are written hash-bucketed on
    their join keys into that many buckets (_STATE_BUCKET_COLS).
    Layout only — clusters are bit-identical either way, so it is NOT
    part of config_hash and can be turned on at any compaction.

    ``stats_out``, when given, is filled with:

    - ``cand_pairs``: pair-count DELTA rows from touched buckets this
      snapshot (clique-delta for under-cap buckets, full before/after
      re-count for over-cap ones; includes old x old pairs whose
      counts shifted),
    - ``pairs_added`` / ``pairs_removed``: logical pair-set delta,
    - ``pairs_verified``: verdict-memo misses actually verified,
    - ``old_x_old_reverified``: verified pairs whose BOTH urls predate
      this snapshot — 0 unless a new doc shifted cap ranks inside an
      already-over-cap bucket; the `incremental_ingest` driver entry
      pins 0 (the expensive stage never re-pairs old x old),
    - ``new_sigs_computed``: never-seen texts signed this snapshot,
    - ``touched_buckets``: blast radius (fraction = divide by the
      post-hoc distinct bucket count over the sigs state),
    - ``reps_churned``: existing content hashes whose representative
      url changed (a smaller url arrived for known content),
    - ``dissolved_components``: prior components re-solved because a
      pair they relied on was retired.
    """
    pcfg = pcfg or PipelineConfig()
    _check_config_guard(catalog, pcfg)

    # --- ingest journal: torn-state refusal + idempotent replay ----- #
    torn = catalog.torn_ingests()
    if torn:
        raise ValueError(
            f"incremental_dedup: catalog holds torn state from "
            f"{len(torn)} unfinished ingest(s) {torn[:3]} — a previous "
            "ingest died between its first and last state write, so "
            "some tables hold its rows and others do not; restore the "
            "catalog from before that ingest (or rebuild by "
            "re-ingesting snapshots into a fresh catalog)"
        )
    if ingest_id is not None and catalog.journal_status(ingest_id) == "committed":
        if stats_out is not None:
            stats_out["mode"] = "replay_skip"
        return catalog.read(spark, "clusters")
    if ingest_id is None:
        import uuid

        ingest_id = f"ingest-{uuid.uuid4().hex}"

    win = 2 * pcfg.verify_window_chars

    # lineage fences: small/derived frames consumed by several actions
    # are materialized once; cumulative STATE reads are deliberately
    # NOT fenced — they are broadcast-filtered column-pruned scans,
    # re-scanned per use, which is the shape that survives 100 TB (no
    # executor-memory residency proportional to corpus size)
    import os as _os
    import time as _time

    _dbg = _os.environ.get("UFZ_INCR_DEBUG") == "1"
    _n_fences = [0]

    def fence(df: DataFrame) -> DataFrame:
        # localCheckpoint, not persist: the incremental frames chain
        # deeply and reference each other several times — persist()
        # caches execution but keeps the full LOGICAL plan, so the
        # analyzer tree doubles per stage (measured: driver-heap OOM by
        # the ~14th fence at 600 docs). Checkpointing truncates each
        # stage to a leaf; blocks are small (bounded by the snapshot /
        # touched-bucket size) and reclaimed by the ContextCleaner once
        # the frames go out of scope.
        i = _n_fences[0]
        _n_fences[0] += 1
        t0 = _time.time()
        df = df.localCheckpoint(eager=True)
        if _dbg:
            print(f"[incr] fence#{i}: rows={df.count()} "
                  f"wall={_time.time()-t0:.2f}s cols={df.columns}", flush=True)
        return df

    new_normed = fence(
        normalize(new_pages.where(F.col("lang") == "en"), pcfg.match)
        .select("url", "warc_ts", "norm_text")
        .withColumn("content_hash", F.xxhash64("norm_text"))
    )
    new_urls = new_normed.select("url")
    # one aggregation job: row count + intra-snapshot url uniqueness.
    # url is the identity key every state table and CC node relies on —
    # a snapshot carrying the same url twice would write two normed
    # rows under one key and silently corrupt state, so refuse loudly
    # (the cross-snapshot variant of this guard is below).
    _c = new_normed.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url").alias("n_urls"),
    ).first()
    n_new = _c["n"]
    if n_new != _c["n_urls"]:
        raise ValueError(
            f"incremental_dedup: snapshot contains {n_new - _c['n_urls']} "
            "duplicate url(s) within itself; urls must be unique across "
            "AND within snapshots (dedupe or version the urls upstream)"
        )

    has_state = catalog.exists("sigs")
    if has_state:
        if catalog.exists("bands") or catalog.exists("edges") or not (
            catalog.exists("pair_cnt") and catalog.exists("clusters")
        ):
            # catalogs written by the pre-round-4 layouts: round 2
            # (bands/edges) or round 3 (no pair_cnt refcounts). Treating
            # either as compatible would silently corrupt the pair set.
            raise ValueError(
                "incremental_dedup: catalog holds legacy state tables "
                "(pre-round-4 layout); rebuild state by re-ingesting "
                "snapshots into a fresh catalog"
            )
        old_sigs = catalog.read_all(spark, "sigs")
        old_normed = catalog.read_all(spark, "normed")
        old_verdicts = catalog.read_all(spark, "verdicts")
        old_keys = old_normed.select("url", "content_hash")
        # urls are the identity every state table and CC node keys on;
        # a re-crawled url (same url, any content, a later snapshot)
        # would live twice in `normed` and bridge its old and new
        # content clusters — refuse loudly rather than corrupt state
        n_dup_urls = (
            old_keys.select("url")
            .join(_maybe_broadcast(new_urls, n_new), "url", "left_semi")
            .count()
        )
        if n_dup_urls:
            raise ValueError(
                f"incremental_dedup: {n_dup_urls} url(s) in this snapshot "
                "were already ingested; urls must be unique across "
                "snapshots (dedupe or version the urls upstream)"
            )
    elif catalog.exists("bands") or catalog.exists("edges"):
        raise ValueError(
            "incremental_dedup: catalog holds legacy state tables "
            "(bands/edges) from the old new-x-all layout; rebuild state "
            "by re-ingesting snapshots into a fresh catalog"
        )
    else:
        old_sigs = spark.createDataFrame([], _SIGS_SCHEMA)
        old_normed = None
        old_verdicts = spark.createDataFrame([], _VERDICTS_SCHEMA)
        old_keys = None

    # --- per-hash min url within this batch (rep candidates) -------- #
    batch_min = fence(
        new_normed.groupBy("content_hash").agg(
            F.min("url").alias("new_min_url")
        )
    )

    # --- prior reps for this batch's hashes; churn detection --------- #
    # rep(h) = min url ever ingested with hash h (exact_dedup's
    # orderBy("url") election) — min is associative, so the prior rep
    # is a broadcast-filtered scan of (url, content_hash) + a tiny agg
    if old_keys is not None:
        old_reps_batch = fence(
            old_keys.join(
                _maybe_broadcast(batch_min.select("content_hash"), n_new),
                "content_hash",
                "left_semi",
            )
            .groupBy("content_hash")
            .agg(F.min("url").alias("old_rep_url"))
        )
    else:
        old_reps_batch = spark.createDataFrame([], _REPS_SCHEMA)

    merged_reps = fence(batch_min.join(old_reps_batch, "content_hash", "left"))
    new_hashes = merged_reps.where(F.col("old_rep_url").isNull()).select(
        "content_hash"
    )
    churned = merged_reps.where(
        F.col("old_rep_url").isNotNull()
        & (F.col("new_min_url") < F.col("old_rep_url"))
    ).select("content_hash")
    if stats_out is not None:
        stats_out["reps_churned"] = churned.count()

    # --- incremental stage 1: sign never-seen texts (Arrow UDF) ----- #
    first_per_hash = Window.partitionBy("content_hash").orderBy("url")
    sig_inputs = (
        new_normed.withColumn("rn", F.row_number().over(first_per_hash))
        .where("rn = 1")
        .join(_maybe_broadcast(new_hashes, n_new), "content_hash", "left_semi")
        # banded_signatures keys its output by the passthrough "url"
        # column — feed the content hash as that key so the sig table
        # is text-addressed (memo survives representative churn)
        .select(F.col("content_hash").alias("url"), "norm_text")
    )
    new_sigs = fence(
        banded_signatures(sig_inputs, pcfg).withColumnRenamed(
            "url", "content_hash"
        )
    )
    if stats_out is not None:
        stats_out["new_sigs_computed"] = new_sigs.count()

    # cumulative slim doc state: verify window + election keys only
    # (full norm_text is never needed again — sigs are memoized)
    new_slim = new_normed.select(
        "url",
        "content_hash",
        F.substring("norm_text", 1, win).alias("norm_text"),
        F.length("norm_text").alias("n_chars"),
        "warc_ts",
    )
    all_keys = new_normed.select("url", "content_hash")
    if old_keys is not None:
        all_keys = old_keys.unionByName(all_keys)

    # --- adaptive cutover (VERDICT r4 #3) ---------------------------- #
    # everything above (normalize, guards, rep churn, memoized signing)
    # is shared; everything below is the O(new + touched) delta leg.
    # n_old is one column-pruned count over the normed state — cheap
    # relative to either leg, and the decision input that predicts the
    # blast radius BEFORE paying for touched-bucket expansion. The
    # FIRST ingest always takes the batch leg: with no prior state the
    # blast radius is total by definition, and the delta machinery
    # would pay clique-delta and refcount bookkeeping over every
    # bucket just to reproduce what one bucket recount emits (measured
    # at sf0.1: 50.3 s delta-shaped vs 16.8 s batch-shaped for the
    # same corpus; round 5). Both legs write identical state shapes.
    if batch_cutover_frac is not None:
        n_old = old_normed.count() if has_state else 0
        if n_new >= batch_cutover_frac * (n_new + n_old):
            out = _batch_recompute(
                spark, catalog, pcfg, fence, stats_out,
                old_sigs, old_verdicts, old_normed,
                new_normed, new_sigs, new_slim, all_keys, compact_every,
                state_buckets, ingest_id=ingest_id,
            )
            if stats_out is not None and not has_state:
                stats_out["mode"] = "initial"
            return out
    if stats_out is not None:
        stats_out["mode"] = "delta" if has_state else "initial"

    # --- touched buckets: keys gaining a new hash or a churned rep -- #
    new_posts = _hash_postings(new_sigs, pcfg)
    churned_sigs = old_sigs.join(
        _maybe_broadcast(churned, n_new), "content_hash", "left_semi"
    )
    touched_keys = fence(
        new_posts.select("band_id", "band_hash")
        .unionByName(
            _hash_postings(churned_sigs, pcfg).select("band_id", "band_hash")
        )
        .distinct()
    )
    n_touched = touched_keys.count()
    if stats_out is not None:
        # the denominator (total distinct buckets) is an O(total)
        # distinct — callers wanting the fraction compute it post-hoc
        # from the sigs state (scripts/incremental_bench.py) so the
        # ingest path never shuffles O(total) rows even for stats
        stats_out["touched_buckets"] = n_touched

    # member postings of touched buckets: broadcast-filtered narrow
    # explode of the sigs state — no shuffle reaches untouched keys.
    # First ingest short-circuits: there IS no old state to filter,
    # and the touched set is the whole corpus (too big to broadcast).
    if old_keys is not None:
        old_member_posts = fence(
            _hash_postings(old_sigs, pcfg).join(
                _maybe_broadcast(touched_keys, n_touched),
                ["band_id", "band_hash"],
                "left_semi",
            )
        )
        n_member_posts = old_member_posts.count() + n_touched
    else:
        old_member_posts = spark.createDataFrame(
            [], "band_id int, band_hash bigint, content_hash long"
        )
        n_member_posts = n_touched
    all_member_posts = old_member_posts.unionByName(new_posts)
    member_hashes = all_member_posts.select("content_hash").distinct()

    # reps for member hashes, before and after this snapshot
    if old_keys is not None:
        old_reps_members = fence(
            old_keys.join(
                _maybe_broadcast(member_hashes, n_member_posts),
                "content_hash",
                "left_semi",
            )
            .groupBy("content_hash")
            .agg(F.min("url").alias("url"))
        )
    else:
        old_reps_members = spark.createDataFrame(
            [], "content_hash long, url string"
        )
    new_reps_members = fence(
        old_reps_members.withColumnRenamed("url", "old_url")
        .join(batch_min, "content_hash", "outer")
        .select(
            "content_hash",
            F.least("old_url", "new_min_url").alias("url"),
        )
    )

    # --- touched-bucket pair-count delta ----------------------------- #
    # per-row frame: every (touched bucket, member hash) with its rep
    # url before (null for new hashes) and after this snapshot
    mem = all_member_posts.join(
        old_reps_members.withColumnRenamed("url", "old_url"),
        "content_hash",
        "left",
    ).join(
        new_reps_members.withColumnRenamed("url", "new_url"), "content_hash"
    )

    if old_keys is None:
        # first ingest: every bucket is new — one full count pass (the
        # clique-delta join below would emit the same volume, slower)
        changed = fence(
            candidate_pair_counts(
                mem.select(F.col("new_url").alias("url"), "band_id", "band_hash"),
                pcfg,
            )
            .select("url_a", "url_b", F.col("cnt").alias("d"))
        )
    else:
        # split touched buckets by whether the cap machinery can fire.
        # A bucket at <= max_bucket_size members on BOTH sides emits the
        # full clique (no salt overflow: every salt group <= bucket
        # size <= cap; no phase-2 truncation) — so its pair DELTA is
        # exactly the clique edges incident to changed members, and the
        # bucket never needs re-expansion. Over-cap buckets keep the
        # full before/after re-count (cap ranks shift arbitrarily).
        cap = pcfg.max_bucket_size
        w_b = Window.partitionBy("band_id", "band_hash")
        sized = mem.withColumn(
            "new_size", F.count(F.lit(1)).over(w_b)
        ).withColumn("old_size", F.count("old_url").over(w_b))
        direct = sized.where(F.greatest("old_size", "new_size") <= cap)
        capped = sized.where(F.greatest("old_size", "new_size") > cap)

        # direct path: edges of the NEW clique incident to an added/
        # rekeyed member (+1), edges of the OLD clique incident to a
        # removed/rekeyed member (-1). The (a < m) guard emits a
        # changed-changed pair exactly once.
        def _clique_delta(members: DataFrame, sign: int) -> DataFrame:
            a_rows = members.where("m_chg").select(
                "band_id", "band_hash", F.col("m").alias("a")
            )
            return (
                a_rows.join(members, ["band_id", "band_hash"])
                .where(
                    (F.col("a") != F.col("m"))
                    & (~F.col("m_chg") | (F.col("a") < F.col("m")))
                )
                .select(
                    F.least("a", "m").alias("url_a"),
                    F.greatest("a", "m").alias("url_b"),
                    F.lit(sign).alias("d"),
                )
            )

        new_side = direct.select(
            "band_id",
            "band_hash",
            F.col("new_url").alias("m"),
            (
                F.col("old_url").isNull()
                | (F.col("old_url") != F.col("new_url"))
            ).alias("m_chg"),
        )
        old_side = direct.where(F.col("old_url").isNotNull()).select(
            "band_id",
            "band_hash",
            F.col("old_url").alias("m"),
            (F.col("old_url") != F.col("new_url")).alias("m_chg"),
        )
        capped_old = candidate_pair_counts(
            capped.where(F.col("old_url").isNotNull()).select(
                F.col("old_url").alias("url"), "band_id", "band_hash"
            ),
            pcfg,
        )
        capped_new = candidate_pair_counts(
            capped.select(F.col("new_url").alias("url"), "band_id", "band_hash"),
            pcfg,
        )
        changed = fence(
            _clique_delta(new_side, 1)
            .unionByName(_clique_delta(old_side, -1))
            .unionByName(
                capped_new.select("url_a", "url_b", F.col("cnt").alias("d"))
            )
            .unionByName(
                capped_old.select("url_a", "url_b", (-F.col("cnt")).alias("d"))
            )
            .groupBy("url_a", "url_b")
            .agg(F.sum("d").cast("int").alias("d"))
            .where("d != 0")
        )
    # prior logical counts for the changed pairs: the refcount state is
    # scanned under a broadcast filter of HASHED pair keys (8 bytes/key
    # instead of two url strings; hash false-positives only widen the
    # scan result and are dropped by the exact left join below)
    n_changed = changed.count()
    if stats_out is not None:
        stats_out["cand_pairs"] = n_changed
    if not has_state:
        # first ingest: no prior counts exist — every delta row IS the
        # logical count (and building a corpus-sized broadcast to probe
        # an empty state would OOM the driver)
        judged = fence(
            changed.select(
                "url_a",
                "url_b",
                F.lit(0).cast("long").alias("prior"),
                F.col("d").cast("long").alias("new_tot"),
            )
        )
    else:
        old_pair_cnt = catalog.read_all(spark, "pair_cnt")
        prior_tot = (
            old_pair_cnt.join(
                _maybe_broadcast(
                    changed.select(F.xxhash64("url_a", "url_b").alias("pk")),
                    n_changed,
                ),
                F.xxhash64("url_a", "url_b") == F.col("pk"),
                "left_semi",
            )
            .groupBy("url_a", "url_b")
            .agg(F.sum("d").alias("prior"))
        )
        judged = fence(
            changed.join(prior_tot, ["url_a", "url_b"], "left").select(
                "url_a",
                "url_b",
                F.coalesce("prior", F.lit(0)).alias("prior"),
                (F.coalesce("prior", F.lit(0)) + F.col("d")).alias("new_tot"),
            )
        )
    # one aggregation job over the fenced `judged` frame folds the
    # refcount invariant guard and the added/removed stats (three
    # driver actions in round 4 — serial latency at snapshot cadence)
    _j = judged.agg(
        F.sum(
            F.when((F.col("prior") < 0) | (F.col("new_tot") < 0), 1).otherwise(0)
        ).alias("n_bad"),
        F.sum(
            F.when((F.col("prior") == 0) & (F.col("new_tot") > 0), 1).otherwise(0)
        ).alias("n_added"),
        F.sum(
            F.when((F.col("prior") > 0) & (F.col("new_tot") == 0), 1).otherwise(0)
        ).alias("n_removed"),
    ).first()
    # refcount invariant: counts are bucket multiplicities, never
    # negative — a violation means touched-bucket detection missed a
    # membership change, which would silently corrupt the pair set
    if _j["n_bad"]:
        raise RuntimeError(
            f"incremental_dedup: {_j['n_bad']} pair refcount(s) went "
            "negative — touched-bucket bookkeeping is inconsistent with "
            "pair_cnt state"
        )
    added = fence(judged.where("prior = 0 and new_tot > 0").select("url_a", "url_b"))
    removed = fence(judged.where("prior > 0 and new_tot = 0").select("url_a", "url_b"))
    n_removed = _j["n_removed"] or 0
    if stats_out is not None:
        stats_out["pairs_added"] = _j["n_added"] or 0
        stats_out["pairs_removed"] = n_removed

    # NOTE: the pair_cnt delta is deliberately NOT persisted here. An
    # ingest that fails between here and the final persist block (CC
    # non-convergence, OOM, interrupt) must leave NO partial state —
    # an early-appended delta without its normed rows would pass the
    # duplicate-url guard on re-run and double the refcounts, silently
    # missing retirements forever. The dissolution path below reads the
    # post-snapshot logical counts from an in-memory union instead.

    def _attach_hashes(
        pairs: DataFrame,
        url_map: DataFrame | None = None,
        n_map: int = _BCAST_MAX_ROWS + 1,
        n_pairs: int = _BCAST_MAX_ROWS + 1,
    ) -> DataFrame:
        """(url_a, url_b) -> + hash_lo, hash_hi. ``url_map`` is a
        (content_hash, url) frame covering the pairs' urls (the small
        in-memory reps frames for touched-bucket pairs, broadcast when
        ``n_map`` rows allow); default falls back to a scan of the
        (url, content_hash) state filtered by the pairs' urls
        (broadcast only when ``n_pairs`` bounds them under the cap —
        a retired pair incident to a mega-component can make this set
        arbitrarily large)."""
        if url_map is not None:
            uh = url_map.select("url", "content_hash")
        else:
            urls = (
                pairs.select(F.col("url_a").alias("url"))
                .unionByName(pairs.select(F.col("url_b").alias("url")))
                .distinct()
            )
            uh = all_keys.join(
                _maybe_broadcast(urls, 2 * n_pairs), "url", "left_semi"
            )
            n_map = 2 * n_pairs  # urls per pair bound the map size
        return (
            pairs.join(
                _maybe_broadcast(uh.select(
                    F.col("url").alias("url_a"),
                    F.col("content_hash").alias("hash_a"),
                ), n_map),
                "url_a",
            )
            .join(
                _maybe_broadcast(uh.select(
                    F.col("url").alias("url_b"),
                    F.col("content_hash").alias("hash_b"),
                ), n_map),
                "url_b",
            )
            .select(
                "url_a",
                "url_b",
                F.least("hash_a", "hash_b").alias("hash_lo"),
                F.greatest("hash_a", "hash_b").alias("hash_hi"),
            )
        )

    # --- incremental stage 2: verify only memo misses ---------------- #
    # added pairs live in touched buckets, so their urls are covered by
    # the small in-memory reps frame — no state scan to attach hashes
    added_h = fence(
        _attach_hashes(added, url_map=new_reps_members, n_map=n_member_posts)
    )
    n_added = added_h.count()
    if not has_state:
        # first ingest: the memo is empty — skip the (corpus-sized)
        # broadcast probe entirely
        memo_hits = spark.createDataFrame([], _VERDICTS_SCHEMA)
        to_verify = added_h
    else:
        memo_hits = fence(
            old_verdicts.join(
                _maybe_broadcast(
                    added_h.select("hash_lo", "hash_hi"), n_added
                ),
                ["hash_lo", "hash_hi"],
                "left_semi",
            )
        )
        to_verify = fence(
            added_h.join(memo_hits, ["hash_lo", "hash_hi"], "left_anti")
        )
    n_to_verify = to_verify.count()
    if stats_out is not None:
        stats_out["pairs_verified"] = n_to_verify
        stats_out["old_x_old_reverified"] = (
            0
            if not has_state
            else to_verify.join(
                _maybe_broadcast(
                    new_urls.withColumnRenamed("url", "url_a"), n_new
                ),
                "url_a",
                "left_anti",
            )
            .join(
                _maybe_broadcast(
                    new_urls.withColumnRenamed("url", "url_b"), n_new
                ),
                "url_b",
                "left_anti",
            )
            .count()
        )

    ver_urls = (
        to_verify.select(F.col("url_a").alias("url"))
        .unionByName(to_verify.select(F.col("url_b").alias("url")))
        .distinct()
    )
    ver_texts = new_normed.select("url", "norm_text")
    if old_normed is not None:
        # stored norm_text is already the verify window — verify_pairs
        # re-windows identically, so verdicts match batch bit-for-bit
        ver_texts = old_normed.select("url", "norm_text").unionByName(ver_texts)
    ver_texts = ver_texts.join(
        _maybe_broadcast(ver_urls, 2 * n_to_verify), "url", "left_semi"
    )
    # hash keys ride THROUGH the verify UDF stage (verify_pairs
    # passthrough) — no million-row join-back to recover them
    new_verdicts = fence(
        verify_pairs(
            to_verify.select("url_a", "url_b", "hash_lo", "hash_hi"),
            ver_texts,
            pcfg,
            # ver_texts is semi-join-bounded to <= 2*n_to_verify urls
            broadcast_texts=2 * n_to_verify <= WINDOW_BCAST_MAX_ROWS,
        ).select("hash_lo", "hash_hi", "is_dup")
    )
    verdicts_all = old_verdicts.unionByName(new_verdicts)

    # verdicts for the added pairs = the (small) memo hits + this
    # snapshot's fresh verdicts — never a join against the full
    # verdicts state
    verdicts_added = memo_hits.select(
        "hash_lo", "hash_hi", "is_dup"
    ).unionByName(new_verdicts)
    added_dup = (
        added_h.join(
            _maybe_broadcast(verdicts_added, n_added), ["hash_lo", "hash_hi"]
        )
        .where("is_dup")
        .select("url_a", "url_b")
    )
    # removed pairs were present => verified at some earlier snapshot,
    # so their verdicts are guaranteed hits in a broadcast-filtered
    # scan of the verdict state
    removed_h = fence(
        _attach_hashes(removed, url_map=old_reps_members, n_map=n_member_posts)
    )
    removed_dup = fence(
        removed_h.join(
            _maybe_broadcast(
                old_verdicts.join(
                    _maybe_broadcast(
                        removed_h.select("hash_lo", "hash_hi"), n_removed
                    ),
                    ["hash_lo", "hash_hi"],
                    "left_semi",
                ),
                n_removed,
            ),
            ["hash_lo", "hash_hi"],
        )
        .where("is_dup")
        .select("url_a", "url_b")
    )

    # --- exact-dup edges for the new docs ---------------------------- #
    # same-content docs always share a component; edges to historical
    # reps keep connectivity identical to batch's member->current-rep
    # stars (CC depends only on connectivity, election only on keys)
    new_exact = (
        new_normed.join(batch_min, "content_hash")
        .where(F.col("url") != F.col("new_min_url"))
        .select(F.col("new_min_url").alias("url_a"), F.col("url").alias("url_b"))
        .unionByName(
            merged_reps.where(F.col("old_rep_url").isNotNull()).select(
                F.col("old_rep_url").alias("url_a"),
                F.col("new_min_url").alias("url_b"),
            )
        )
    )
    added_edges = added_dup.unionByName(new_exact)

    # --- label-seeded connected components --------------------------- #
    prior_clusters = catalog.read(spark, "clusters") if has_state else None
    slim_all = (
        old_normed.select("url", "content_hash", "n_chars", "warc_ts").unionByName(
            new_slim.select("url", "content_hash", "n_chars", "warc_ts")
        )
        if old_normed is not None
        else new_slim.select("url", "content_hash", "n_chars", "warc_ts")
    )

    if prior_clusters is None:
        if stats_out is not None:
            stats_out["dissolved_components"] = 0
        labels = connected_components(added_edges, all_nodes=new_urls)
        clusters = elect_canonical(labels, slim_all, n_chars_col="n_chars")
    else:
        prior_labels = prior_clusters.select("url", "cluster_id")

        n_removed_dup = removed_dup.count()
        if n_removed_dup:
            # dissolve every component that relied on a retired pair:
            # its members become individual nodes and their CURRENT
            # edges are regathered from the refcount + verdict state
            rm_urls = (
                removed_dup.select(F.col("url_a").alias("url"))
                .unionByName(removed_dup.select(F.col("url_b").alias("url")))
                .distinct()
            )
            dissolved_labels = fence(
                prior_labels.join(
                    _maybe_broadcast(rm_urls, 2 * n_removed_dup),
                    "url",
                    "left_semi",
                )
                .select("cluster_id")
                .distinct()
            )
            n_dis_labels = dissolved_labels.count()
            # one retired pair incident to a mega-component (boilerplate
            # / spam cluster with millions of members) makes `dissolved`
            # arbitrarily large — every use below goes through the
            # counted broadcast guard, same as the rest of the function
            dissolved = fence(
                prior_labels.join(
                    _maybe_broadcast(dissolved_labels, n_dis_labels),
                    "cluster_id",
                    "left_semi",
                ).select("url")
            )
            n_dissolved = dissolved.count()
            # live dup edges incident to dissolved members: the
            # post-snapshot logical counts are the persisted state plus
            # THIS snapshot's (not-yet-persisted) delta, unioned in
            # memory — the delta only hits disk in the final persist
            # block so a failed ingest leaves no partial state
            pc_all = old_pair_cnt.unionByName(
                changed.select("url_a", "url_b", "d")
            )
            inc_pairs = fence(
                pc_all.join(
                    _maybe_broadcast(
                        dissolved.withColumnRenamed("url", "url_a"),
                        n_dissolved,
                    ),
                    "url_a",
                    "left_semi",
                )
                .unionByName(
                    pc_all.join(
                        _maybe_broadcast(
                            dissolved.withColumnRenamed("url", "url_b"),
                            n_dissolved,
                        ),
                        "url_b",
                        "left_semi",
                    )
                )
                .groupBy("url_a", "url_b")
                .agg(F.sum("d").alias("tot"))
                .where("tot > 0")
                .select("url_a", "url_b")
            )
            n_inc = inc_pairs.count()
            inc_pairs_h = fence(_attach_hashes(inc_pairs, n_pairs=n_inc))
            m_dup_edges = (
                inc_pairs_h.join(
                    _maybe_broadcast(
                        verdicts_all.join(
                            _maybe_broadcast(
                                inc_pairs_h.select("hash_lo", "hash_hi"),
                                n_inc,
                            ),
                            ["hash_lo", "hash_hi"],
                            "left_semi",
                        ),
                        n_inc,
                    ),
                    ["hash_lo", "hash_hi"],
                )
                .where("is_dup")
                .select("url_a", "url_b")
            )
            # exact-hash stars incident to dissolved members: all docs
            # sharing a dissolved member's content hash re-star on the
            # current (min-url) rep
            dis_hashes = (
                all_keys.join(
                    _maybe_broadcast(dissolved, n_dissolved), "url", "left_semi"
                )
                .select("content_hash")
                .distinct()
            )
            same_hash_docs = all_keys.join(
                _maybe_broadcast(dis_hashes, n_dissolved),
                "content_hash",
                "left_semi",
            )
            reps_h = same_hash_docs.groupBy("content_hash").agg(
                F.min("url").alias("rep_url")
            )
            m_exact_edges = (
                same_hash_docs.join(reps_h, "content_hash")
                .where(F.col("url") != F.col("rep_url"))
                .select(
                    F.col("rep_url").alias("url_a"), F.col("url").alias("url_b")
                )
            )
            graph_edges_raw = added_edges.unionByName(m_dup_edges).unionByName(
                m_exact_edges
            )
        else:
            dissolved_labels = spark.createDataFrame([], "cluster_id string")
            dissolved = spark.createDataFrame([], "url string")
            n_dis_labels = 0
            graph_edges_raw = added_edges
        if stats_out is not None:
            stats_out["dissolved_components"] = n_dis_labels

        # supernode mapping: dissolved members and new docs stand for
        # themselves; every other endpoint collapses to its prior
        # component label. Labels are min-member urls, so the small
        # graph's min-label CC emits exactly the batch labels.
        own_nodes = fence(
            dissolved.unionByName(new_urls).distinct().withColumn(
                "own", F.lit(True)
            )
        )
        n_own = own_nodes.count()
        ep_urls = fence(
            graph_edges_raw.select(F.col("url_a").alias("url"))
            .unionByName(graph_edges_raw.select(F.col("url_b").alias("url")))
            .distinct()
        )
        n_eps = ep_urls.count()
        ep_labels = prior_labels.join(
            _maybe_broadcast(ep_urls, n_eps), "url", "left_semi"
        )
        ep_map = fence(
            ep_urls.join(own_nodes, "url", "left")
            .join(ep_labels, "url", "left")
            .select(
                "url",
                F.coalesce("own", F.lit(False)).alias("own"),
                F.when(F.coalesce("own", F.lit(False)), F.col("url"))
                .otherwise(F.coalesce("cluster_id", F.col("url")))
                .alias("node"),
            )
        )
        graph_edges = (
            graph_edges_raw.join(
                ep_map.select(
                    F.col("url").alias("url_a"), F.col("node").alias("node_a")
                ),
                "url_a",
            )
            .join(
                ep_map.select(
                    F.col("url").alias("url_b"), F.col("node").alias("node_b")
                ),
                "url_b",
            )
            .where(F.col("node_a") != F.col("node_b"))
            .select(
                F.col("node_a").alias("url_a"), F.col("node_b").alias("url_b")
            )
        )
        small_nodes = (
            own_nodes.select("url")
            .unionByName(ep_map.select(F.col("node").alias("url")))
            .distinct()
        )
        cc_small = fence(connected_components(graph_edges, all_nodes=small_nodes))

        # affected prior components: dissolved ones, plus every intact
        # component that appeared as a supernode (it may have merged,
        # gained members, or changed label) — their rows are dropped
        # and re-elected; everything else carries over untouched
        supernode_labels = (
            ep_map.where(~F.col("own"))
            .select(F.col("node").alias("cluster_id"))
            .distinct()
        )
        affected_labels = fence(
            supernode_labels.unionByName(dissolved_labels).distinct()
        )

        own_rows = cc_small.join(
            _maybe_broadcast(own_nodes.select("url"), n_own), "url", "left_semi"
        )
        label_moves = cc_small.join(
            _maybe_broadcast(
                supernode_labels.withColumnRenamed("cluster_id", "url"), n_eps
            ),
            "url",
            "left_semi",
        ).select(
            F.col("url").alias("old_label"), F.col("cluster_id").alias("new_label")
        )
        intact_rows = (
            prior_labels.withColumnRenamed("cluster_id", "old_label")
            .join(_maybe_broadcast(label_moves, n_eps), "old_label")
            .select("url", F.col("new_label").alias("cluster_id"))
            # a dissolved member's prior row must not resurface through
            # an intact-component relabel (disjoint by construction —
            # dissolved components are never supernodes — but keep the
            # guard cheap and explicit)
            .join(
                _maybe_broadcast(own_nodes.select("url"), n_own),
                "url",
                "left_anti",
            )
        )
        affected_members = fence(own_rows.unionByName(intact_rows))
        n_aff = affected_members.count()
        aff_slim = slim_all.join(
            _maybe_broadcast(affected_members.select("url"), n_aff),
            "url",
            "left_semi",
        )
        aff_clusters = elect_canonical(
            affected_members, aff_slim, n_chars_col="n_chars"
        )
        untouched = prior_clusters.join(
            _maybe_broadcast(affected_labels, n_eps + n_dis_labels),
            "cluster_id",
            "left_anti",
        )
        clusters = untouched.select(
            "url", "cluster_id", "is_canonical"
        ).unionByName(aff_clusters.select("url", "cluster_id", "is_canonical"))

    # --- persist state deltas + full clusters output ----------------- #
    # ALL state deltas land here, together, after every failure-prone
    # stage (verify, CC, election) has completed — `changed` included,
    # so a re-run after a mid-ingest failure starts from clean state
    # (the duplicate-url guard then correctly rejects or accepts the
    # whole snapshot; refcounts can never be half-applied). A death
    # INSIDE this block is the one window the compute-then-persist
    # ordering cannot cover — the journal marker brackets it, turning
    # would-be silent corruption into a loud torn-state refusal.
    catalog.journal_begin(ingest_id, {"leg": "delta"})
    if has_state:
        catalog.append(new_sigs, "sigs")
        catalog.append(new_slim, "normed")
        catalog.append(new_verdicts, "verdicts")
        catalog.append(changed, "pair_cnt")
    else:
        catalog.write(new_sigs, "sigs", bucket_by=_bspec("sigs", state_buckets))
        catalog.write(
            new_slim, "normed", bucket_by=_bspec("normed", state_buckets)
        )
        catalog.write(
            new_verdicts,
            "verdicts",
            bucket_by=_bspec("verdicts", state_buckets),
        )
        catalog.write(changed, "pair_cnt")
    catalog.write(clusters, "clusters")
    # commit before compaction — compaction's writes are individually
    # crash-atomic re-layouts outside the multi-table transaction
    catalog.journal_commit(ingest_id)

    # bound the delta chains (read_all unions every delta since the
    # last full snapshot; unbounded chains grow listing + scan cost).
    # pair_cnt compacts to its aggregated running sums — zero-sum pairs
    # drop out (an absent pair reads as count 0, identically).
    if compact_every:
        for table in ("sigs", "normed", "verdicts"):
            catalog.maybe_compact(
                spark,
                table,
                max_deltas=compact_every,
                bucket_by=_bspec(table, state_buckets),
            )
        catalog.maybe_compact(
            spark,
            "pair_cnt",
            max_deltas=compact_every,
            transform=lambda df: df.groupBy("url_a", "url_b")
            .agg(F.sum("d").cast("int").alias("d"))
            .where("d != 0"),
        )

    return catalog.read(spark, "clusters")
