"""The three workloads: one closed-loop caller each.

Every workload has ``setup()`` (inputs, references, untimed warm-up
at full size), ``op()`` -> (wall seconds, correct) for one timed
operation, and ``traced()`` -> per-layer metrics from a run that
calls each layer's public function itself under ``Tracer`` spans.
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

from pyspark.sql import functions as F

from perfbench.inputs import batch_corpus, write_pages, write_search_copy

RECALL_FLOOR = 0.99
SPLIT_MOD = 11  # snapshot 2 = pmod(xxhash64(url), 11) == 10, ~9% of docs
SEARCH_QUERIES = (
    "fuzzy_filter",
    "fuzzy_filter_ooo",
    "negation_filter",
    "rank_comparator",
    "typeahead_rank",
    "highlight_ranges",
    "intra_rules_ladder",
    "permute_fanout",
    "quoted_exact",
    "refine_match_probe",
    "single_error",
)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _clusters(df) -> dict:
    pdf = df.select("url", "cluster_id").toPandas()
    return dict(zip(pdf["url"], pdf["cluster_id"]))


def pair_quality(clusters: dict, pairs: list[dict]) -> tuple[float, float]:
    """(recall, neg_apart): share of planted dup pairs co-clustered, and
    share of planted negative pairs left in different clusters."""

    def together(p):
        ca = clusters.get(p["url_a"])
        return ca is not None and ca == clusters.get(p["url_b"])

    dups = [p for p in pairs if p["is_dup"]]
    negs = [p for p in pairs if not p["is_dup"]]
    recall = sum(map(together, dups)) / max(len(dups), 1)
    apart = 1.0 - sum(map(together, negs)) / max(len(negs), 1)
    return recall, apart


class _Workload:
    docs_per_op = 1
    whole_cycle = 1  # ops per unit a run must finish
    nominal_op_s = 1.0  # one op's wall on a 4-core host, warm

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.recall = self.precision = 1.0

    def planned_ops(self, seconds: float) -> int:
        """A fixed op count per ``seconds``, so every run computes its
        median and tail over the same number of samples."""
        unit = self.nominal_op_s * self.whole_cycle
        return max(1, round(seconds / unit)) * self.whole_cycle

    def _note_quality(self, recall: float, apart: float) -> None:
        """Keep the run's worst recall and precision."""
        self.recall = min(self.recall, recall)
        self.precision = min(self.precision, apart)


class BatchDedup(_Workload):
    """One op = ``run_pipeline`` over the corpus + a noop write of the
    clusters. Correct iff planted-pair recall >= RECALL_FLOOR."""

    warm_ops = 3  # op walls reach their plateau from the fourth op of a process
    nominal_op_s = 8.0

    def setup(self) -> None:
        pages, self.pairs = batch_corpus(self.seed)
        self.path = write_pages(pages, self.work / "batch" / "pages.parquet")
        self.pages = self.spark.read.parquet(str(self.path))
        self.docs_per_op = len(pages)
        for _ in range(self.warm_ops):
            self.op()
        self.recall = self.precision = 1.0

    def op(self) -> tuple[float, bool]:
        from ufuzzy_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        res = run_pipeline(self.spark, self.pages)
        _noop_write(res.clusters)
        wall = time.perf_counter() - t0
        recall, apart = pair_quality(_clusters(res.clusters), self.pairs)
        res.unpersist()
        self._note_quality(recall, apart)
        return wall, recall >= RECALL_FLOOR

    def traced(self, tracer, seconds: float) -> tuple[dict, int, int]:
        """Replays run_pipeline's stage calls, forcing each output where
        run_pipeline fences (plus reps, so dedup gets its own span)."""
        from ufuzzy_spark.config import PipelineConfig
        from ufuzzy_spark.operators.components import (
            connected_components,
            elect_canonical,
        )
        from ufuzzy_spark.operators.dedup import exact_dedup
        from ufuzzy_spark.operators.lsh import (
            candidate_pairs,
            postings_from_band_hashes,
        )
        from ufuzzy_spark.operators.minhash import banded_signatures
        from ufuzzy_spark.operators.normalize import normalize
        from ufuzzy_spark.operators.verify import verify_pairs

        untraced_wall, ok = self.op()
        spark, pcfg = self.spark, PipelineConfig()
        tracer.next_op()
        held = []

        def fence(df):
            df = df.persist()
            held.append(df)
            return df, df.count()

        t0 = time.perf_counter()
        with tracer.span("normalize"):
            target = max(spark.sparkContext.defaultParallelism * 2, pcfg.num_partitions)
            in_scope = self.pages.where(F.col("lang").isin("en")).repartition(
                target, "url"
            )
            normed, n_normed = fence(
                normalize(in_scope, pcfg.match).select("url", "warc_ts", "norm_text")
            )
        with tracer.span("dedup"):
            exact_edges, reps = exact_dedup(normed)
            reps, n_reps = fence(reps)
            exact_edges, _ = fence(exact_edges)
        with tracer.span("minhash"):
            sigs, _ = fence(
                banded_signatures(reps, pcfg).select("url", "band_hashes", "simhash")
            )
        with tracer.span("lsh"):
            cands, n_cands = fence(
                candidate_pairs(postings_from_band_hashes(sigs, pcfg), pcfg)
            )
        with tracer.span("verify"):
            verified, n_pairs = fence(
                verify_pairs(cands, normed, pcfg, broadcast_texts=n_normed <= 500_000)
            )
        with tracer.span("components"):
            dup_edges = verified.where("is_dup").select("url_a", "url_b")
            labels = connected_components(
                exact_edges.unionByName(dup_edges), all_nodes=normed.select("url")
            )
            with tracer.span("elect"):
                clusters = elect_canonical(labels, normed)
                _noop_write(clusters)
        replay_wall = time.perf_counter() - t0
        n_dup = verified.where("is_dup").count()
        reference = _clusters(clusters)
        recall, _ = pair_quality(reference, self.pairs)
        us_per_pair = _pairdup_us_per_pair(cands, normed, pcfg)
        for df in held:
            df.unpersist()

        stages = ("normalize", "dedup", "minhash", "lsh", "verify", "components")
        spans = [s for s in tracer.spans if s["op"] == tracer.op]
        span_sum = sum(tracer.total(n) for n in stages)
        comp = tracer.find("components") + tracer.find("elect")
        failed = (not ok) + (recall < RECALL_FLOOR)
        layer = {
            "normalize.s": tracer.total("normalize"),
            "normalize.shuffle_write_bytes": tracer.total(
                "normalize", "shuffle_write_bytes"
            ),
            "dedup.s": tracer.total("dedup"),
            "dedup.reps_per_doc": n_reps / max(n_normed, 1),
            "minhash.s": tracer.total("minhash"),
            "minhash.task_s": tracer.total("minhash", "task_s"),
            "lsh.s": tracer.total("lsh"),
            "lsh.candidate_pairs": n_cands,
            "lsh.shuffle_write_bytes": tracer.total("lsh", "shuffle_write_bytes"),
            "verify.s": tracer.total("verify"),
            "verify.task_s": tracer.total("verify", "task_s"),
            "verify.pairs": n_pairs,
            "verify.dup_frac": n_dup / max(n_pairs, 1),
            "pairdup.us_per_pair": us_per_pair,
            "components.s": tracer.total("components"),
            "components.jobs": sum(s["jobs"] for s in comp),
            "components.task_s": sum(s["task_s"] for s in comp),
            "components.elect_s": tracer.total("elect"),
            "pipeline.unattributed_s": replay_wall - span_sum,
            "pipeline.span_coverage": span_sum / untraced_wall,
            "pipeline.spill_bytes": sum(s["spill_bytes"] for s in spans),
            "pipeline.peak_exec_mem_bytes": max(
                s["peak_exec_mem_bytes"] for s in spans
            ),
        }
        # the snapshot path on the same corpus: absorb its last ~9% into
        # state built from the rest, checked against the replay's clusters
        ingest = SnapshotIngest(self.spark, self.work, self.seed)
        ingest.prepare(self.path, self.pairs, reference)
        ingest_layer, _, ingest_failed = ingest.traced(tracer, seconds)
        return {**layer, **ingest_layer}, 3, failed + ingest_failed


def _pairdup_us_per_pair(cands, normed, pcfg, limit: int = 2000) -> float:
    """In-process PairVerifier.verify time on the verify stage's own
    windows (first ``limit`` candidate pairs by key)."""
    from ufuzzy_spark.pairdup import PairVerifier

    win = 2 * pcfg.verify_window_chars
    texts = normed.select("url", F.substring("norm_text", 1, win).alias("w"))
    rows = (
        cands.select("url_a", "url_b")
        .orderBy("url_a", "url_b")
        .limit(limit)
        .join(texts.toDF("url_a", "norm_a"), "url_a")
        .join(texts.toDF("url_b", "norm_b"), "url_b")
        .select("norm_a", "norm_b")
        .collect()
    )
    verify = PairVerifier(pcfg).verify
    t0 = time.perf_counter()
    for a, b in rows:
        verify(a, b)
    return (time.perf_counter() - t0) * 1e6 / max(len(rows), 1)


class SnapshotIngest(_Workload):
    """Snapshot 1 state is built once; one op absorbs snapshot 2 into a
    fresh copy of that state. Correct iff the clusters equal a batch
    ``run_pipeline`` over the union and no old x old pair was
    re-verified."""

    warm_ops = 2
    nominal_op_s = 18.0

    def setup(self) -> None:
        pages, pairs = batch_corpus(self.seed)
        self.prepare(write_pages(pages, self.work / "ingest" / "pages.parquet"), pairs)
        for _ in range(self.warm_ops):
            self.op()
        self.recall = self.precision = 1.0

    def prepare(self, pages_path: Path, pairs: list[dict], reference=None) -> None:
        """Split the pages, build snapshot-1 state, and take the batch
        clusters over all pages as the reference unless given."""
        from ufuzzy_spark.catalog import LocalParquetCatalog
        from ufuzzy_spark.pipeline import run_pipeline
        from ufuzzy_spark.streaming.incremental import incremental_dedup

        self.pairs = pairs
        df = self.spark.read.parquet(str(pages_path))
        part = F.pmod(F.xxhash64("url"), F.lit(SPLIT_MOD))
        snap1 = df.where(part < SPLIT_MOD - 1)
        self.snap2 = df.where(part >= SPLIT_MOD - 1)
        self.docs_per_op = self.snap2.count()
        self.state = self.work / "ingest" / "state"
        self.run_dir = self.work / "ingest" / "run"
        shutil.rmtree(self.state, ignore_errors=True)
        incremental_dedup(self.spark, LocalParquetCatalog(str(self.state)), snap1)
        if reference is None:
            ref = run_pipeline(self.spark, df)
            reference = _clusters(ref.clusters)
            ref.unpersist()
        self.reference = reference

    def _absorb(self, stats: dict):
        from ufuzzy_spark.catalog import LocalParquetCatalog
        from ufuzzy_spark.streaming.incremental import incremental_dedup

        return incremental_dedup(
            self.spark, LocalParquetCatalog(str(self.run_dir)), self.snap2,
            stats_out=stats,
        )

    def _fresh_state(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        shutil.copytree(self.state, self.run_dir)

    def _check(self, out, stats: dict) -> bool:
        got = _clusters(out)
        sym_diff = len(set(got.items()) ^ set(self.reference.items()))
        self._note_quality(*pair_quality(got, self.pairs))
        return sym_diff == 0 and stats.get("old_x_old_reverified") == 0

    def op(self) -> tuple[float, bool]:
        self._fresh_state()
        stats: dict = {}
        t0 = time.perf_counter()
        out = self._absorb(stats)
        wall = time.perf_counter() - t0
        return wall, self._check(out, stats)

    def traced(self, tracer, seconds: float) -> tuple[dict, int, int]:
        self._fresh_state()
        before = _tree_files(self.run_dir)
        stats: dict = {}
        tracer.next_op()
        with tracer.span("incremental") as sp:
            out = self._absorb(stats)
        wall = sp["end"] - sp["start"]
        ok = self._check(out, stats)
        after = _tree_files(self.run_dir)
        written = [p for p, meta in after.items() if before.get(p) != meta]
        cores = self.spark.sparkContext.defaultParallelism
        layer = {
            "incremental.s": wall,
            "incremental.jobs": sp["jobs"],
            "incremental.task_s": sp["task_s"],
            "incremental.driver_frac": 1.0 - sp["task_s"] / (wall * cores),
            "catalog.bytes_written": sum(after[p][0] for p in written),
            "catalog.files_written": len(written),
        }
        for k in (
            "new_sigs_computed", "pairs_verified", "touched_buckets",
            "cand_pairs", "dissolved_components", "old_x_old_reverified",
        ):
            layer[f"incremental.{k}"] = stats.get(k, 0)
        return layer, 1, int(not ok)


def _tree_files(root: Path) -> dict:
    out = {}
    for p in root.rglob("*"):
        if p.is_file():
            st = p.stat()
            out[str(p.relative_to(root))] = (st.st_size, st.st_mtime_ns)
    return out


def _canon(df):
    """Order-insensitive canonical frame, as the entry-parity tests
    compare Spark against DuckDB."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


class FuzzySearch(_Workload):
    """One op = one of the 11 uFuzzy queries forced with ``count()``.
    Each query's rows are checked once per run against its DuckDB
    oracle; that pass is also the warm-up."""

    whole_cycle = len(SEARCH_QUERIES)
    nominal_op_s = 0.45

    def setup(self) -> None:
        import duckdb

        from ufuzzy_spark.entry_queries import oracle_sql, queries

        self.sf_dir = str(self.work / "search")
        docs = write_search_copy(self.seed, Path(self.sf_dir))
        self.docs_per_op = 5000
        self.queries = queries()
        oracles = oracle_sql()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
        self.bad = set()
        got_rows = want_rows = hit_rows = 0
        for name in SEARCH_QUERIES:
            got = _canon(self.queries[name](self.spark, self.sf_dir).toPandas())
            want = _canon(con.execute(oracles[name]).df())
            if list(got.columns) != list(want.columns) or not got.equals(want):
                self.bad.add(name)
            got_rows += len(got)
            want_rows += len(want)
            if list(got.columns) == list(want.columns):
                keys = list(got.columns)
                hit_rows += len(got.merge(want.drop_duplicates(), on=keys))
        con.close()
        self.recall = hit_rows / max(want_rows, 1)
        self.precision = hit_rows / max(got_rows, 1)
        self.i = 0

    def _query(self, name: str) -> float:
        t0 = time.perf_counter()
        self.queries[name](self.spark, self.sf_dir).count()
        return time.perf_counter() - t0

    def op(self) -> tuple[float, bool]:
        name = SEARCH_QUERIES[self.i % len(SEARCH_QUERIES)]
        self.i += 1
        return self._query(name), name not in self.bad

    def traced(self, tracer, seconds: float) -> tuple[dict, int, int]:
        walls: dict = {n: [] for n in SEARCH_QUERIES}
        for _ in range(self.planned_ops(seconds) // self.whole_cycle):
            for name in SEARCH_QUERIES:
                tracer.next_op()
                with tracer.span(name) as sp:
                    self.queries[name](self.spark, self.sf_dir).count()
                walls[name].append(sp["end"] - sp["start"])
        spans = tracer.spans
        layer = {
            f"entry_queries.{n}_ms": statistics.median(w) * 1000
            for n, w in walls.items()
        }
        layer["entry_queries.jobs_per_query"] = statistics.mean(
            s["jobs"] for s in spans
        )
        layer["entry_queries.shuffle_write_bytes_per_query"] = statistics.mean(
            s["shuffle_write_bytes"] for s in spans
        )
        failed = sum(len(walls[n]) for n in self.bad)
        return layer, len(spans), failed


WORKLOADS = {
    "batch_dedup": BatchDedup,
    "snapshot_ingest": SnapshotIngest,
    "fuzzy_search": FuzzySearch,
}
