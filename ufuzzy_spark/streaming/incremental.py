"""Incremental dedup over snapshot diffs — the scaling ingest path.

The reference's prefixCache demo reuses prior results when the query
extends a cached prefix (demos/compare.html:562-601); the pipeline
analog is memoizing prior work across snapshots while guaranteeing the
final clusters equal a single batch run over the union
(resume-equivalence — the prefixCache contract).

One skeleton, two legs. Every ingest normalizes the snapshot, runs the
state guards, signs only never-seen texts, then takes one of two legs
that share their steps (hash attach, memo-miss verify, election,
journaled persist):

- the **batch leg** (``_batch_recompute``): a full bucket recount over
  cumulative state with the sig/verdict memo tables applied. The FIRST
  ingest always takes it (with no prior state the blast radius is
  total), and so does any snapshot at or above ``batch_cutover_frac``
  of the post-ingest corpus;
- the **delta leg**, below: every stage scoped to the snapshot's blast
  radius, not the cumulative corpus.

Delta-leg design (round 4 — O(new + touched)):

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
from ufuzzy_spark.config import DEDUP_LANGS, PipelineConfig
from ufuzzy_spark.operators.components import (
    connected_components,
    elect_canonical,
)
from ufuzzy_spark.operators.dedup import exact_dedup
from ufuzzy_spark.operators.lsh import (
    candidate_pair_counts,
    postings_from_band_hashes,
)
from ufuzzy_spark.operators.minhash import banded_signatures
from ufuzzy_spark.operators.normalize import normalize
from ufuzzy_spark.operators.verify import WINDOW_ATTACH_ROW_BYTES, verify_pairs
from ufuzzy_spark.session import broadcast_if_fits, fence, fits_broadcast

_SIGS_SCHEMA = "content_hash long, band_hashes array<bigint>, simhash long"
_VERDICTS_SCHEMA = "hash_lo long, hash_hi long, is_dup boolean"
_REPS_SCHEMA = "content_hash long, old_rep_url string"
_SLIM_COLS = ("url", "content_hash", "n_chars", "warc_ts")

# bucketed state layout (VERDICT r4 next #6 — the docs/PLANS.md
# residual-cost claim, made real): FULL snapshots of the memo tables
# are hash-bucketed on exactly the keys their ingest joins probe, so
# when a probe side outgrows the broadcast budget and the join plans as
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

# every data-dependent broadcast goes through session.broadcast_if_fits:
# the blast-radius frames are usually small (broadcast-filtered scans
# are the whole design), but a LARGE snapshot — above all the first
# ingest of a big corpus — can push a "small" side past what the
# driver can build as a hashed relation (measured: 58M touched-bucket
# keys OOMed a 12g driver at 2.9M docs). Over the budget the join
# plans plain and AQE picks the shape; that is also the correct plan
# at that size. The key frames here are at most two urls wide, the
# helper's default width.
#
# Small/derived frames consumed by several actions are materialized
# through ``session.fence`` (an eager localCheckpoint that counts its
# own rows and any named aggregate in the same action — no fenced
# frame is re-read just to size a broadcast or fill a stat).
# localCheckpoint, not persist: the incremental frames chain deeply
# and reference each other several times — persist() caches execution
# but keeps the full LOGICAL plan, so the analyzer tree doubles per
# stage (measured: driver-heap OOM by the ~14th fence at 600 docs).
# Checkpointing truncates each stage to a leaf; blocks are small
# (bounded by the snapshot / touched-bucket size) and reclaimed by the
# ContextCleaner once the frames go out of scope. Cumulative STATE
# reads are deliberately never fenced — they are broadcast-filtered
# column-pruned scans, re-scanned per use, which is the shape that
# survives 100 TB (no executor-memory residency proportional to
# corpus size).


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


def _endpoints(pairs: DataFrame) -> DataFrame:
    """(url_a, url_b) -> the distinct urls on either side, as ``url``."""
    return (
        pairs.select(F.col("url_a").alias("url"))
        .unionByName(pairs.select(F.col("url_b").alias("url")))
        .distinct()
    )


def _attach_hashes(pairs: DataFrame, url_map: DataFrame, n_map: int) -> DataFrame:
    """(url_a, url_b) -> + hash_lo, hash_hi, looking both urls up in
    ``url_map`` (url, content_hash), which must cover the pairs' urls
    and is broadcast when its ``n_map`` rows allow."""

    def side(s: str) -> DataFrame:
        return broadcast_if_fits(
            url_map.select(
                F.col("url").alias(f"url_{s}"),
                F.col("content_hash").alias(f"hash_{s}"),
            ),
            n_map,
        )

    return (
        pairs.join(side("a"), "url_a")
        .join(side("b"), "url_b")
        .select(
            "url_a",
            "url_b",
            F.least("hash_a", "hash_b").alias("hash_lo"),
            F.greatest("hash_a", "hash_b").alias("hash_hi"),
        )
    )


def _dup_edges(pairs_h: DataFrame, verdicts: DataFrame, n_pairs: int) -> DataFrame:
    """(url_a, url_b, hash_lo, hash_hi) -> the (url_a, url_b) rows
    whose memoized verdict is a dup, probing ``verdicts`` through a
    broadcast filter of the ``n_pairs`` pairs' hash keys (every pair
    must already have a verdict there)."""
    keys = ["hash_lo", "hash_hi"]
    hits = verdicts.join(
        broadcast_if_fits(pairs_h.select(*keys), n_pairs), keys, "left_semi"
    )
    return (
        pairs_h.join(broadcast_if_fits(hits, n_pairs), keys)
        .where("is_dup")
        .select("url_a", "url_b")
    )


def _verify_misses(
    to_verify: DataFrame,
    n_to_verify: int,
    texts: DataFrame,
    pcfg: PipelineConfig,
    stats_out: dict | None,
) -> DataFrame:
    """Verify the ``n_to_verify`` fenced memo-miss pairs (url_a, url_b,
    hash_lo, hash_hi) — the count comes from the caller's fence —
    against ``texts`` (url, norm_text) -> fresh verdict rows
    (hash_lo, hash_hi, is_dup). Stored norm_text is already the verify
    window and verify_pairs re-windows identically, so verdicts match
    batch bit-for-bit."""
    if stats_out is not None:
        stats_out["pairs_verified"] = n_to_verify
    ver_texts = texts.join(
        broadcast_if_fits(_endpoints(to_verify), 2 * n_to_verify),
        "url",
        "left_semi",
    )
    # hash keys ride THROUGH the verify UDF stage (verify_pairs
    # passthrough) — no million-row join-back to recover them
    return fence(
        verify_pairs(
            to_verify.select("url_a", "url_b", "hash_lo", "hash_hi"),
            ver_texts,
            pcfg,
            # ver_texts is semi-join-bounded to <= 2*n_to_verify urls
            broadcast_texts=fits_broadcast(2 * n_to_verify, WINDOW_ATTACH_ROW_BYTES),
        ).select("hash_lo", "hash_hi", "is_dup")
    ).df


def _sum_pair_cnt(pair_cnt: DataFrame) -> DataFrame:
    """Fold refcount deltas to their running sums; zero-sum pairs drop
    out (an absent pair reads as count 0, identically)."""
    return (
        pair_cnt.groupBy("url_a", "url_b")
        .agg(F.sum("d").cast("int").alias("d"))
        .where("d != 0")
    )


def _persist(
    spark: SparkSession,
    catalog: LocalParquetCatalog,
    ingest_id: str,
    leg: str,
    memo_rows: dict[str, DataFrame],
    pair_cnt: DataFrame,
    clusters: DataFrame,
    compact_every: int,
    state_buckets: int,
) -> DataFrame:
    """Write one ingest's state and return the new clusters table.

    ALL state lands here, together, after every failure-prone stage
    (verify, CC, election) has completed — the pair_cnt delta
    included, so a re-run after a mid-ingest failure starts from clean
    state (the duplicate-url guard then correctly rejects or accepts
    the whole snapshot; refcounts can never be half-applied). A death
    INSIDE the write block is the one window compute-then-persist
    cannot cover — the journal markers bracket it, turning would-be
    silent corruption into a loud torn-state refusal.

    ``memo_rows`` holds this ingest's new sigs/normed/verdicts rows:
    FULL snapshots on the first ingest (so the ``state_buckets``
    layout applies from snapshot 1, not first compaction), appended
    deltas after. ``pair_cnt`` is the batch leg's full recount (a full
    snapshot supersedes the delta chain in read_all) or the delta
    leg's refcount delta, appended.
    """
    first = not catalog.exists("sigs")
    catalog.journal_begin(ingest_id, {"leg": leg})
    for table, rows in memo_rows.items():
        if first:
            catalog.write(rows, table, bucket_by=_bspec(table, state_buckets))
        else:
            catalog.append(rows, table)
    if leg == "delta":
        catalog.append(pair_cnt, "pair_cnt")
    else:
        catalog.write(pair_cnt, "pair_cnt")
    catalog.write(clusters, "clusters")
    # commit BEFORE compaction: compaction is a pure re-layout whose
    # own writes are individually crash-atomic (a died compaction
    # leaves only an invisible staging dir), so it belongs outside the
    # multi-table transaction
    catalog.journal_commit(ingest_id)

    # bound the delta chains (read_all unions every delta since the
    # last full snapshot; unbounded chains grow listing + scan cost).
    # pair_cnt's compaction is a no-op after the batch leg's recount.
    if compact_every:
        for table in memo_rows:
            catalog.maybe_compact(
                spark,
                table,
                max_deltas=compact_every,
                bucket_by=_bspec(table, state_buckets),
            )
        catalog.maybe_compact(
            spark, "pair_cnt", max_deltas=compact_every, transform=_sum_pair_cnt
        )
    return catalog.read(spark, "clusters")


def _batch_recompute(
    pcfg: PipelineConfig,
    stats_out: dict | None,
    sigs_all: DataFrame,
    old_verdicts: DataFrame,
    all_keys: DataFrame,
    texts: DataFrame,
    slim_all: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Batch-over-state leg -> (pair_cnt, new_verdicts, clusters).

    Takes the first ingest, and any snapshot so large that the
    touched-bucket delta machinery would cost MORE than recomputing:
    the blast radius is near-total, so the ingest would pay refcount
    and dissolution bookkeeping ON TOP of an almost-full recount
    (VERDICT r4 #3). This leg runs the batch operators (exact dedup ->
    full bucket recount -> verify -> CC -> election) over cumulative
    state while KEEPING the two memo tables — signatures by content
    hash and verdicts by content-hash pair — so the expensive Arrow
    UDF stages still touch only never-seen content. Output clusters
    are bit-equal to ``run_pipeline`` over the union of all snapshots
    (same reps, same bucket members, same verdict keys, same CC
    labels; pinned by
    tests/test_operators.py::test_cutover_matches_batch_and_incremental).

    ``pair_cnt`` is a fresh FULL recount: it equals the delta leg's
    running sum by candidate_pair_counts' purity.
    """
    # exact-hash stars: every member edges to its corpus-wide min-url
    # rep — the same connectivity and reps batch exact_dedup emits
    exact_edges, reps = exact_dedup(all_keys, hash_col="content_hash")
    reps_all, n_reps, _ = fence(reps)
    posts = (
        _hash_postings(sigs_all, pcfg)
        .join(broadcast_if_fits(reps_all, n_reps), "content_hash")
        .select("url", "band_id", "band_hash")
    )
    pair_counts, n_pairs, _ = fence(candidate_pair_counts(posts, pcfg))
    if stats_out is not None:
        stats_out["mode"] = "batch_recompute"
        stats_out["cand_pairs"] = n_pairs

    pairs_h = fence(
        _attach_hashes(pair_counts.select("url_a", "url_b"), reps_all, n_reps)
    ).df
    to_verify, n_to_verify, _ = fence(
        pairs_h.join(old_verdicts, ["hash_lo", "hash_hi"], "left_anti")
    )
    new_verdicts = _verify_misses(to_verify, n_to_verify, texts, pcfg, stats_out)
    dup_edges = (
        pairs_h.join(
            old_verdicts.unionByName(new_verdicts), ["hash_lo", "hash_hi"]
        )
        .where("is_dup")
        .select("url_a", "url_b")
    )
    labels = connected_components(
        exact_edges.unionByName(dup_edges), all_nodes=all_keys.select("url")
    )
    clusters = elect_canonical(labels, slim_all, n_chars_col="n_chars")
    pair_cnt = pair_counts.select("url_a", "url_b", F.col("cnt").alias("d"))
    return pair_cnt, new_verdicts, clusters


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

    The first ingest into an empty catalog always takes the batch leg
    (``_batch_recompute``): with no prior state the blast radius is
    total, and the delta machinery would cost 3x the batch leg for the
    same output (50.3 vs 16.8 s at sf0.1). ``batch_cutover_frac``
    routes every LATER ingest: when the snapshot is at least this
    fraction of the post-ingest corpus, the touched-bucket delta
    machinery is skipped in favor of ``_batch_recompute`` — a full
    bucket recount with the sig/verdict memo tables still applied (the
    delta leg's bookkeeping costs MORE than recomputing once the blast
    radius is near-total; VERDICT r4). ``None`` takes the delta leg
    for every ingest after the first. Both legs write the same state
    shapes and bit-equal clusters. Default 1/3 sits inside the
    measured crossover band (BENCH/BASELINE.md round-5 "cutover
    crossover" tables): at 1M docs the delta leg wins at <=20%
    snapshots and loses at >=50%; at 300k docs it loses at EVERY
    fraction, because its fixed bookkeeping cost (~100 s of fenced
    stages on the bench host) only amortizes when the displaced batch
    recompute is expensive. The cutover still keys on fraction, not
    corpus size: the fraction rule is the one that binds in the scale
    direction, and where it mispredicts (small corpora) the absolute
    cost of either leg is small.

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

    ``stats_out``, when given, is filled with ``mode`` — which path
    ran: ``initial`` (first ingest, batch leg), ``batch_recompute``
    (cutover), ``delta`` or ``replay_skip`` (an already-committed
    ``ingest_id``; no other key is filled) — and:

    - every leg: ``new_sigs_computed`` (never-seen texts signed this
      snapshot), ``reps_churned`` (existing content hashes whose
      representative url changed: a smaller url arrived for known
      content), ``pairs_verified`` (verdict-memo misses actually
      verified) and ``cand_pairs`` (batch leg: pair rows of the full
      bucket recount; delta leg: pair-count DELTA rows from touched
      buckets — clique-delta for under-cap buckets, full before/after
      re-count for over-cap ones, including old x old pairs whose
      counts shifted);
    - ``initial`` also: ``pairs_removed``, ``dissolved_components``
      and ``old_x_old_reverified``, all 0 by definition (no prior
      state);
    - ``delta`` also: ``touched_buckets`` (blast radius; fraction =
      divide by the post-hoc distinct bucket count over the sigs
      state), ``pairs_added`` / ``pairs_removed`` (logical pair-set
      delta), ``old_x_old_reverified`` (verified pairs whose BOTH urls
      predate this snapshot — 0 unless a new doc shifted cap ranks
      inside an already-over-cap bucket; the `incremental_ingest`
      driver entry pins 0: the expensive stage never re-pairs
      old x old) and ``dissolved_components`` (prior components
      re-solved because a pair they relied on was retired).
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

    new_normed, n_new, _ = fence(
        normalize(new_pages.where(F.col("lang").isin(*DEDUP_LANGS)), pcfg.match)
        .select("url", "warc_ts", "norm_text")
        .withColumn("content_hash", F.xxhash64("norm_text"))
    )
    new_urls = new_normed.select("url")
    # intra-snapshot url uniqueness. url is the identity key every
    # state table and CC node relies on — a snapshot carrying the same
    # url twice would write two normed rows under one key and silently
    # corrupt state, so refuse loudly (the cross-snapshot variant of
    # this guard is below). A separate action: observe rejects DISTINCT.
    n_urls = new_normed.select(F.count_distinct("url")).first()[0]
    if n_new != n_urls:
        raise ValueError(
            f"incremental_dedup: snapshot contains {n_new - n_urls} "
            "duplicate url(s) within itself; urls must be unique across "
            "AND within snapshots (dedupe or version the urls upstream)"
        )

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
    texts = new_normed.select("url", "norm_text")
    slim_all = new_slim.select(*_SLIM_COLS)

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
        # content clusters — refuse loudly rather than corrupt state.
        # A separate action: a state scan, not a fence.
        n_dup_urls = (
            old_keys.select("url")
            .join(broadcast_if_fits(new_urls, n_new), "url", "left_semi")
            .count()
        )
        if n_dup_urls:
            raise ValueError(
                f"incremental_dedup: {n_dup_urls} url(s) in this snapshot "
                "were already ingested; urls must be unique across "
                "snapshots (dedupe or version the urls upstream)"
            )
        all_keys = old_keys.unionByName(all_keys)
        texts = old_normed.select("url", "norm_text").unionByName(texts)
        slim_all = old_normed.select(*_SLIM_COLS).unionByName(slim_all)
    elif catalog.exists("bands") or catalog.exists("edges"):
        raise ValueError(
            "incremental_dedup: catalog holds legacy state tables "
            "(bands/edges) from the old new-x-all layout; rebuild state "
            "by re-ingesting snapshots into a fresh catalog"
        )
    else:
        # first ingest: empty memo tables (only the batch leg reads them)
        old_sigs = spark.createDataFrame([], _SIGS_SCHEMA)
        old_verdicts = spark.createDataFrame([], _VERDICTS_SCHEMA)

    # --- per-hash min url within this batch (rep candidates) -------- #
    batch_min = fence(
        new_normed.groupBy("content_hash").agg(
            F.min("url").alias("new_min_url")
        )
    ).df

    # --- prior reps for this batch's hashes; churn detection --------- #
    # rep(h) = min url ever ingested with hash h (exact_dedup's
    # orderBy("url") election) — min is associative, so the prior rep
    # is a broadcast-filtered scan of (url, content_hash) + a tiny agg
    if has_state:
        old_reps_batch = fence(
            old_keys.join(
                broadcast_if_fits(batch_min.select("content_hash"), n_new),
                "content_hash",
                "left_semi",
            )
            .groupBy("content_hash")
            .agg(F.min("url").alias("old_rep_url"))
        ).df
    else:
        old_reps_batch = spark.createDataFrame([], _REPS_SCHEMA)

    is_churned = F.col("old_rep_url").isNotNull() & (
        F.col("new_min_url") < F.col("old_rep_url")
    )
    merged_reps, _, m = fence(
        batch_min.join(old_reps_batch, "content_hash", "left"),
        churned=F.count_if(is_churned),
    )
    new_hashes = merged_reps.where(F.col("old_rep_url").isNull()).select(
        "content_hash"
    )
    churned = merged_reps.where(is_churned).select("content_hash")
    if stats_out is not None:
        stats_out["reps_churned"] = m["churned"]

    # --- incremental stage 1: sign never-seen texts (Arrow UDF) ----- #
    first_per_hash = Window.partitionBy("content_hash").orderBy("url")
    sig_inputs = (
        new_normed.withColumn("rn", F.row_number().over(first_per_hash))
        .where("rn = 1")
        .join(broadcast_if_fits(new_hashes, n_new), "content_hash", "left_semi")
        # banded_signatures keys its output by the passthrough "url"
        # column — feed the content hash as that key so the sig table
        # is text-addressed (memo survives representative churn)
        .select(F.col("content_hash").alias("url"), "norm_text")
    )
    new_sigs, n_sigs, _ = fence(
        banded_signatures(sig_inputs, pcfg).withColumnRenamed(
            "url", "content_hash"
        )
    )
    if stats_out is not None:
        stats_out["new_sigs_computed"] = n_sigs

    def persist(leg, new_verdicts, pair_cnt, clusters):
        memo_rows = {"sigs": new_sigs, "normed": new_slim, "verdicts": new_verdicts}
        return _persist(
            spark, catalog, ingest_id, leg, memo_rows, pair_cnt, clusters,
            compact_every, state_buckets,
        )

    # --- adaptive cutover (VERDICT r4 #3) ---------------------------- #
    # everything above (normalize, guards, rep churn, memoized signing)
    # is shared; everything below is the O(new + touched) delta leg,
    # which assumes prior state — an empty catalog always takes the
    # batch leg. The normed-state count is one column-pruned count —
    # cheap relative to either leg, and the decision input that
    # predicts the blast radius BEFORE paying for touched-bucket
    # expansion (a separate action: a state scan, not a fence).
    if not has_state or (
        batch_cutover_frac is not None
        and n_new >= batch_cutover_frac * (n_new + old_normed.count())
    ):
        pair_cnt, new_verdicts, clusters = _batch_recompute(
            pcfg, stats_out, old_sigs.unionByName(new_sigs), old_verdicts,
            all_keys, texts, slim_all,
        )
        if stats_out is not None and not has_state:
            stats_out.update(
                mode="initial",
                pairs_removed=0,
                dissolved_components=0,
                old_x_old_reverified=0,
            )
        return persist("batch", new_verdicts, pair_cnt, clusters)
    if stats_out is not None:
        stats_out["mode"] = "delta"

    # --- touched buckets: keys gaining a new hash or a churned rep -- #
    new_posts = _hash_postings(new_sigs, pcfg)
    churned_sigs = old_sigs.join(
        broadcast_if_fits(churned, n_new), "content_hash", "left_semi"
    )
    touched_keys, n_touched, _ = fence(
        new_posts.select("band_id", "band_hash")
        .unionByName(
            _hash_postings(churned_sigs, pcfg).select("band_id", "band_hash")
        )
        .distinct()
    )
    if stats_out is not None:
        # the denominator (total distinct buckets) is an O(total)
        # distinct — callers wanting the fraction compute it post-hoc
        # from the sigs state (scripts/incremental_bench.py) so the
        # ingest path never shuffles O(total) rows even for stats
        stats_out["touched_buckets"] = n_touched

    # member postings of touched buckets: broadcast-filtered narrow
    # explode of the sigs state — no shuffle reaches untouched keys
    old_member_posts, n_old_posts, _ = fence(
        _hash_postings(old_sigs, pcfg).join(
            broadcast_if_fits(touched_keys, n_touched),
            ["band_id", "band_hash"],
            "left_semi",
        )
    )
    n_member_posts = n_old_posts + n_touched
    all_member_posts = old_member_posts.unionByName(new_posts)
    member_hashes = all_member_posts.select("content_hash").distinct()

    # reps for member hashes, before and after this snapshot
    old_reps_members, n_old_reps, _ = fence(
        old_keys.join(
            broadcast_if_fits(member_hashes, n_member_posts),
            "content_hash",
            "left_semi",
        )
        .groupBy("content_hash")
        .agg(F.min("url").alias("url"))
    )
    new_reps_members, n_new_reps, _ = fence(
        old_reps_members.withColumnRenamed("url", "old_url")
        .join(batch_min, "content_hash", "outer")
        .select(
            "content_hash",
            F.least("old_url", "new_min_url").alias("url"),
        )
    )

    # --- touched-bucket pair-count delta ----------------------------- #
    # per-row frame: every (touched bucket, member hash) with its rep
    # url before (null for new hashes) and after this snapshot. Both
    # reps frames are hinted from their fence counts so the broadcast
    # is planned up front: left to AQE's run-time conversion, whether
    # the member-posts shuffle was already submitted varied the job
    # count from identical input
    mem = all_member_posts.join(
        broadcast_if_fits(
            old_reps_members.withColumnRenamed("url", "old_url"), n_old_reps
        ),
        "content_hash",
        "left",
    ).join(
        broadcast_if_fits(
            new_reps_members.withColumnRenamed("url", "new_url"), n_new_reps
        ),
        "content_hash",
    )

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
    changed, n_changed, _ = fence(
        _sum_pair_cnt(
            _clique_delta(new_side, 1)
            .unionByName(_clique_delta(old_side, -1))
            .unionByName(
                capped_new.select("url_a", "url_b", F.col("cnt").alias("d"))
            )
            .unionByName(
                capped_old.select("url_a", "url_b", (-F.col("cnt")).alias("d"))
            )
        )
    )
    # prior logical counts for the changed pairs: the refcount state is
    # scanned under a broadcast filter of HASHED pair keys (8 bytes/key
    # instead of two url strings; hash false-positives only widen the
    # scan result and are dropped by the exact left join below)
    if stats_out is not None:
        stats_out["cand_pairs"] = n_changed
    old_pair_cnt = catalog.read_all(spark, "pair_cnt")
    prior_tot = (
        old_pair_cnt.join(
            broadcast_if_fits(
                changed.select(F.xxhash64("url_a", "url_b").alias("pk")),
                n_changed,
            ),
            F.xxhash64("url_a", "url_b") == F.col("pk"),
            "left_semi",
        )
        .groupBy("url_a", "url_b")
        .agg(F.sum("d").alias("prior"))
    )
    # the refcount invariant guard and the added/removed stats are
    # observed by `judged`'s own fence, not by an aggregation job
    is_added = (F.col("prior") == 0) & (F.col("new_tot") > 0)
    is_removed = (F.col("prior") > 0) & (F.col("new_tot") == 0)
    judged, _, j = fence(
        changed.join(prior_tot, ["url_a", "url_b"], "left").select(
            "url_a",
            "url_b",
            F.coalesce("prior", F.lit(0)).alias("prior"),
            (F.coalesce("prior", F.lit(0)) + F.col("d")).alias("new_tot"),
        ),
        n_bad=F.count_if((F.col("prior") < 0) | (F.col("new_tot") < 0)),
        n_added=F.count_if(is_added),
        n_removed=F.count_if(is_removed),
    )
    # refcount invariant: counts are bucket multiplicities, never
    # negative — a violation means touched-bucket detection missed a
    # membership change, which would silently corrupt the pair set
    if j["n_bad"]:
        raise RuntimeError(
            f"incremental_dedup: {j['n_bad']} pair refcount(s) went "
            "negative — touched-bucket bookkeeping is inconsistent with "
            "pair_cnt state"
        )
    added = fence(judged.where(is_added).select("url_a", "url_b")).df
    removed = fence(judged.where(is_removed).select("url_a", "url_b")).df
    n_removed = j["n_removed"]
    if stats_out is not None:
        stats_out["pairs_added"] = j["n_added"]
        stats_out["pairs_removed"] = n_removed

    # NOTE: the pair_cnt delta is deliberately NOT persisted here. An
    # ingest that fails between here and _persist (CC non-convergence,
    # OOM, interrupt) must leave NO partial state — an early-appended
    # delta without its normed rows would pass the duplicate-url guard
    # on re-run and double the refcounts, silently missing retirements
    # forever. The dissolution path below reads the post-snapshot
    # logical counts from an in-memory union instead.

    # --- incremental stage 2: verify only memo misses ---------------- #
    # added pairs live in touched buckets, so their urls are covered by
    # the small in-memory reps frame — no state scan to attach hashes
    added_h, n_added, _ = fence(
        _attach_hashes(added, new_reps_members, n_new_reps)
    )
    memo_hits = fence(
        old_verdicts.join(
            broadcast_if_fits(added_h.select("hash_lo", "hash_hi"), n_added),
            ["hash_lo", "hash_hi"],
            "left_semi",
        )
    ).df
    to_verify, n_to_verify, _ = fence(
        added_h.join(memo_hits, ["hash_lo", "hash_hi"], "left_anti")
    )
    if stats_out is not None:
        # a separate action: telling old urls from new ones takes a
        # join with the snapshot's urls that no fence here has
        stats_out["old_x_old_reverified"] = (
            to_verify.join(
                broadcast_if_fits(
                    new_urls.withColumnRenamed("url", "url_a"), n_new
                ),
                "url_a",
                "left_anti",
            )
            .join(
                broadcast_if_fits(
                    new_urls.withColumnRenamed("url", "url_b"), n_new
                ),
                "url_b",
                "left_anti",
            )
            .count()
        )
    new_verdicts = _verify_misses(to_verify, n_to_verify, texts, pcfg, stats_out)

    # verdicts for the added pairs = the (small) memo hits + this
    # snapshot's fresh verdicts — never a join against the full
    # verdicts state
    verdicts_added = memo_hits.select(
        "hash_lo", "hash_hi", "is_dup"
    ).unionByName(new_verdicts)
    added_dup = (
        added_h.join(
            broadcast_if_fits(verdicts_added, n_added), ["hash_lo", "hash_hi"]
        )
        .where("is_dup")
        .select("url_a", "url_b")
    )
    # removed pairs were present => verified at some earlier snapshot,
    # so their verdicts are guaranteed hits in a broadcast-filtered
    # scan of the verdict state
    removed_h = fence(
        _attach_hashes(removed, old_reps_members, n_old_reps)
    ).df
    removed_dup, n_removed_dup, _ = fence(
        _dup_edges(removed_h, old_verdicts, n_removed)
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
    prior_clusters = catalog.read(spark, "clusters")
    prior_labels = prior_clusters.select("url", "cluster_id")

    if n_removed_dup:
        # dissolve every component that relied on a retired pair:
        # its members become individual nodes and their CURRENT
        # edges are regathered from the refcount + verdict state
        dissolved_labels, n_dis_labels, _ = fence(
            prior_labels.join(
                broadcast_if_fits(_endpoints(removed_dup), 2 * n_removed_dup),
                "url",
                "left_semi",
            )
            .select("cluster_id")
            .distinct()
        )
        # one retired pair incident to a mega-component (boilerplate
        # / spam cluster with millions of members) makes `dissolved`
        # arbitrarily large — every use below goes through the
        # counted broadcast guard, same as the rest of the function
        dissolved, n_dissolved, _ = fence(
            prior_labels.join(
                broadcast_if_fits(dissolved_labels, n_dis_labels),
                "cluster_id",
                "left_semi",
            ).select("url")
        )
        # live dup edges incident to dissolved members: the
        # post-snapshot logical counts are the persisted state plus
        # THIS snapshot's (not-yet-persisted) delta, unioned in
        # memory — the delta only hits disk in _persist so a failed
        # ingest leaves no partial state
        pc_all = old_pair_cnt.unionByName(changed.select("url_a", "url_b", "d"))
        inc_pairs, n_inc, _ = fence(
            pc_all.join(
                broadcast_if_fits(
                    dissolved.withColumnRenamed("url", "url_a"), n_dissolved
                ),
                "url_a",
                "left_semi",
            )
            .unionByName(
                pc_all.join(
                    broadcast_if_fits(
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
        # a state scan of (url, content_hash) filtered by the pairs'
        # urls — broadcast only when 2 * n_inc bounds them under the
        # cap (a retired pair incident to a mega-component can make
        # this set arbitrarily large)
        inc_map = all_keys.join(
            broadcast_if_fits(_endpoints(inc_pairs), 2 * n_inc), "url", "left_semi"
        )
        inc_pairs_h = fence(_attach_hashes(inc_pairs, inc_map, 2 * n_inc)).df
        m_dup_edges = _dup_edges(
            inc_pairs_h, old_verdicts.unionByName(new_verdicts), n_inc
        )
        # exact-hash stars incident to dissolved members: all docs
        # sharing a dissolved member's content hash re-star on the
        # current (min-url) rep
        dis_hashes = (
            all_keys.join(
                broadcast_if_fits(dissolved, n_dissolved), "url", "left_semi"
            )
            .select("content_hash")
            .distinct()
        )
        same_hash_docs = all_keys.join(
            broadcast_if_fits(dis_hashes, n_dissolved),
            "content_hash",
            "left_semi",
        )
        m_exact_edges, _ = exact_dedup(same_hash_docs, hash_col="content_hash")
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
    own_nodes, n_own, _ = fence(
        dissolved.unionByName(new_urls).distinct().withColumn(
            "own", F.lit(True)
        )
    )
    ep_urls, n_eps, _ = fence(_endpoints(graph_edges_raw))
    ep_labels = prior_labels.join(
        broadcast_if_fits(ep_urls, n_eps), "url", "left_semi"
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
    ).df
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
    cc_small = fence(connected_components(graph_edges, all_nodes=small_nodes)).df

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
    ).df

    own_rows = cc_small.join(
        broadcast_if_fits(own_nodes.select("url"), n_own), "url", "left_semi"
    )
    label_moves = cc_small.join(
        broadcast_if_fits(
            supernode_labels.withColumnRenamed("cluster_id", "url"), n_eps
        ),
        "url",
        "left_semi",
    ).select(
        F.col("url").alias("old_label"), F.col("cluster_id").alias("new_label")
    )
    intact_rows = (
        prior_labels.withColumnRenamed("cluster_id", "old_label")
        .join(broadcast_if_fits(label_moves, n_eps), "old_label")
        .select("url", F.col("new_label").alias("cluster_id"))
        # a dissolved member's prior row must not resurface through
        # an intact-component relabel (disjoint by construction —
        # dissolved components are never supernodes — but keep the
        # guard cheap and explicit)
        .join(
            broadcast_if_fits(own_nodes.select("url"), n_own),
            "url",
            "left_anti",
        )
    )
    affected_members, n_aff, _ = fence(own_rows.unionByName(intact_rows))
    aff_slim = slim_all.join(
        broadcast_if_fits(affected_members.select("url"), n_aff),
        "url",
        "left_semi",
    )
    aff_clusters = elect_canonical(
        affected_members, aff_slim, n_chars_col="n_chars"
    )
    untouched = prior_clusters.join(
        broadcast_if_fits(affected_labels, n_eps + n_dis_labels),
        "cluster_id",
        "left_anti",
    )
    clusters = untouched.select(
        "url", "cluster_id", "is_canonical"
    ).unionByName(aff_clusters.select("url", "cluster_id", "is_canonical"))
    return persist("delta", new_verdicts, changed, clusters)
