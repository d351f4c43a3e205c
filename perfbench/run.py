"""Benchmark of the three user paths: batch dedup, snapshot ingest,
fuzzy search. One closed-loop caller, Spark ``local[<cores>]``.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
{correct, attempted, failed, metrics}: with ``--trace 0`` the
end-to-end metrics (END_TO_END), with ``--trace 1`` the per-layer
metrics (PER_LAYER) of a traced run. The line before it is a detail
record (op walls, tail percentile, host CPU trace). Scratch files go
to ``.bench_work/`` under the root; spans of a traced run are written
to ``.bench_work/traces/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
DRIVER_MEM = "4g"
STEAL_LIMIT_PCT = 1.0  # a run with more co-tenant steal is flagged, not failed

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "docs_per_s": "docs/s",
    "recall": "ratio",
    "precision": "ratio",
}

SEARCH_QUERY_UNITS = {
    f"entry_queries.{q}_ms": "ms"
    for q in (
        "fuzzy_filter", "fuzzy_filter_ooo", "negation_filter",
        "rank_comparator", "typeahead_rank", "highlight_ranges",
        "intra_rules_ladder", "permute_fanout", "quoted_exact",
        "refine_match_probe", "single_error",
    )
}

# layers a workload does not call report 0 on it
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "normalize.s": "s",
    "normalize.shuffle_write_bytes": "bytes",
    "dedup.s": "s",
    "dedup.reps_per_doc": "ratio",
    "minhash.s": "s",
    "minhash.task_s": "s",
    "lsh.s": "s",
    "lsh.candidate_pairs": "count",
    "lsh.shuffle_write_bytes": "bytes",
    "verify.s": "s",
    "verify.task_s": "s",
    "verify.pairs": "count",
    "verify.dup_frac": "ratio",
    "pairdup.us_per_pair": "us",
    "components.s": "s",
    "components.jobs": "count",
    "components.task_s": "s",
    "components.elect_s": "s",
    "pipeline.unattributed_s": "s",
    "pipeline.span_coverage": "ratio",
    "pipeline.spill_bytes": "bytes",
    "pipeline.peak_exec_mem_bytes": "bytes",
    "incremental.s": "s",
    "incremental.jobs": "count",
    "incremental.task_s": "s",
    "incremental.driver_frac": "ratio",
    "incremental.new_sigs_computed": "count",
    "incremental.pairs_verified": "count",
    "incremental.touched_buckets": "count",
    "incremental.cand_pairs": "count",
    "incremental.dissolved_components": "count",
    "incremental.old_x_old_reverified": "count",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    **SEARCH_QUERY_UNITS,
    "entry_queries.jobs_per_query": "count",
    "entry_queries.shuffle_write_bytes_per_query": "bytes",
}


def fit_host(run_dir: Path) -> int:
    """Environment for a ``local[<cores>]`` session on this host; the
    program's own session factory reads it. Returns the core count."""
    local = run_dir / "spark-local"
    tmp = run_dir / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    # the Python workers import ufuzzy_spark through PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher too, keeps its files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    return len(os.sched_getaffinity(0))


def start_spark(cores: int):
    from ufuzzy_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        },
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    kb = 0
    for p in pids:
        try:
            for line in Path(f"/proc/{p}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its workers."""
    proc = spark.sparkContext._gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    alive = tree
    while alive and time.time() < deadline:
        alive = [p for p in alive if Path(f"/proc/{p}").exists()]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11."""
    xs = sorted(walls)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    needed = ("ufuzzy_spark/__init__.py", "fixtures/gen.py")
    missing = [p for p in needed if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program sources missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    cores = fit_host(run_dir)
    sys.path.insert(0, str(ROOT))
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS
    from ufuzzy_spark.bench_util import read_proc_stat, stat_delta

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t = time.perf_counter()
    spark = start_spark(cores)
    session_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - _T0
        host0 = read_proc_stat()
        detail: dict = {"workload": args.workload, "seed": args.seed,
                        "cores": cores, "setup_s": setup_s}
        if args.trace:
            tracer = Tracer(spark)
            layer, attempted, failed = wl.traced(tracer, args.seconds)
            values = {k: 0 for k in PER_LAYER} | layer
            values["session.start_s"] = session_s
            tracer.dump(
                WORK / "traces" / f"{args.workload}-seed{args.seed}.json",
                {"workload": args.workload, "seed": args.seed},
            )
        else:
            walls: list[float] = []
            failed = 0
            for _ in range(wl.planned_ops(args.seconds)):
                wall, ok = wl.op()
                walls.append(wall)
                failed += not ok
            attempted = len(walls)
            p50 = statistics.median(walls)
            tail_s, tail_pct = tail(walls)
            detail.update(op_walls_s=walls, tail_percentile=tail_pct,
                          samples=attempted)
            values = {
                "setup_s": setup_s,
                "op_p50_ms": p50 * 1000,
                "op_tail_ms": tail_s * 1000,
                "docs_per_s": wl.docs_per_op / p50,
                "recall": wl.recall,
                "precision": wl.precision,
            }
        rss = peak_rss_mb(process_tree(spark.sparkContext._gateway.proc.pid))
        detail["peak_rss_mb"] = values["session.peak_rss_mb"] = rss
        host = stat_delta(host0, read_proc_stat())
        host["steal_flag"] = host["steal_pct"] >= STEAL_LIMIT_PCT
        detail["host"] = host
    finally:
        stop_spark(spark)

    units = PER_LAYER if args.trace else END_TO_END
    print("detail " + json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
