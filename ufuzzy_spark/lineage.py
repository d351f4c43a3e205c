"""Stage fences with lineage + resume.

Without a checkpoint dir a stage is ``session.fence``d in memory and
held until ``StageRunner.release``. With one, every stage writes:
    <dir>/<stage>/           parquet (per-partition files + _SUCCESS)
    <dir>/<stage>.lineage.json   {stage, config_hash, rows, n_files,
                                  wall_ms, ts}
    <dir>/lineage.jsonl          append-only run log (the lineage table)

Resume rule (the prefixCache idea at pipeline scale,
demos/compare.html:562-601): a stage is reused iff its _SUCCESS marker
exists AND its recorded config_hash matches the current run's — config
drift forces recompute, which is what makes "recall at the same
shingle/signature config" machine-checkable (SURVEY.md §1 schema
system). To recompute under the same config, use a fresh dir.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ufuzzy_spark.session import Fenced, fence, release


class StageRunner:
    def __init__(
        self, spark: SparkSession, checkpoint_dir: str | None, config_hash: str
    ):
        self.spark = spark
        self.dir = Path(checkpoint_dir) if checkpoint_dir else None
        self.config_hash = config_hash
        self.metrics: dict[str, dict] = {}
        self._fenced: list[DataFrame] = []
        if self.dir:
            self.dir.mkdir(parents=True, exist_ok=True)

    def _stage_meta(self, name: str) -> dict | None:
        meta_p = self.dir / f"{name}.lineage.json"
        if not meta_p.exists():
            return None
        try:
            return json.loads(meta_p.read_text())
        except (json.JSONDecodeError, OSError):
            return None

    def materialize(self, name: str, build) -> Fenced:
        """The stage fence: ``build()``'s frame, computed once, as a
        lineage-truncated leaf with its row count (``session.Fenced``).

        With a checkpoint dir the stage is resumed from, or written to,
        ``<dir>/<name>`` and its rows come from the parquet footers;
        without one it is ``session.fence``d and held until
        ``release``. Either way later stages read the leaf, so no
        consumer recomputes the stage: not concurrent subplans of one
        job, which race past a lazy cache, and not the two branches of
        a union over the same frame."""
        t0 = time.time()
        if self.dir is None:
            out = fence(build())
            self._fenced.append(out.df)
            self.metrics[name] = {
                "stage": name,
                "rows": out.n,
                "wall_ms": int((time.time() - t0) * 1000),
                "resumed": False,
            }
            return out

        path = self.dir / name
        meta = self._stage_meta(name)
        if (
            meta is None
            or meta.get("config_hash") != self.config_hash
            or not (path / "_SUCCESS").exists()
        ):
            build().write.mode("overwrite").parquet(str(path))
            partitions = _partition_lineage(path)
            meta = {
                "stage": name,
                "config_hash": self.config_hash,
                "rows": sum(p["rows"] for p in partitions),
                "n_files": len(partitions),
                "partitions": partitions,
                "wall_ms": int((time.time() - t0) * 1000),
                "ts": time.time(),
                "resumed": False,
            }
            (self.dir / f"{name}.lineage.json").write_text(json.dumps(meta))
            self._log(meta)
            self.metrics[name] = meta
        else:
            self.metrics[name] = {**meta, "resumed": True}
            self._log({**meta, "resumed": True, "ts": time.time()})
        return Fenced(self.spark.read.parquet(str(path)), meta["rows"], {})

    def release(self) -> None:
        """Free the storage of every stage fenced without a dir; those
        frames, and every frame derived from them, are unreadable
        afterwards."""
        while self._fenced:
            release(self._fenced.pop())

    def _log(self, rec: dict) -> None:
        with open(self.dir / "lineage.jsonl", "a") as f:
            f.write(json.dumps(rec) + "\n")

    def write_metrics_table(self) -> None:
        """Materialize the run's stage metrics as a parquet table
        (<dir>/metrics_table) — the queryable metrics table the north
        rule asks for, written without a Spark job."""
        if self.dir is None or not self.metrics:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [
            {
                "stage": name,
                "config_hash": m.get("config_hash", self.config_hash),
                "rows": m.get("rows", 0),
                "n_files": m.get("n_files", 0),
                "wall_ms": m.get("wall_ms", 0),
                "resumed": bool(m.get("resumed", False)),
                "ts": float(m.get("ts", time.time())),
            }
            for name, m in self.metrics.items()
        ]
        out = self.dir / "metrics_table"
        out.mkdir(exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows), out / "metrics.parquet")


def _partition_lineage(path: Path) -> list[dict]:
    """Per-partition (per output file) row counts from parquet footers
    — free metadata reads, no data scan."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(path.glob("part-*")):
        try:
            out.append({"file": f.name, "rows": pq.ParquetFile(f).metadata.num_rows})
        except Exception:
            out.append({"file": f.name, "rows": -1})
    return out
