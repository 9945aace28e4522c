"""Benchmark harness: run every __spark_entry__ query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line with per-query
wall-clock seconds.

Each query is forced with the noop datasource write — full execution of
the plan on the executors with no driver-side collect, so the number
measures the distributed work, not result serialization.

Noise protocol (round 4): each query runs $SPARK_GRAFT_BENCH_RUNS
times (default 2) and the reported number is the MINIMUM — the
container's run-to-run noise band is wide (the same query has measured
8.8-14s across runs; one global-slow round-3 run inflated a 14s query
to 51s), and min-of-n is the standard way to read "the cost of the
plan" out of a noisy shared host. The min also absorbs first-run
codegen/JIT warmup per query shape.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from m3d_engine_spark.session import build_session, codegen_compiles


_lock_fh = None  # held open for the life of the process


def acquire_bench_lock(lock_path: str) -> int:
    """Take the single-sweep lock: an exclusive ``flock`` on
    ``lock_path`` that the kernel drops when this process exits, so a
    crashed sweep never leaves a stale lock behind. Returns 0 on
    success, 3 when another bench holds it. Concurrency guard: two
    sweeps on one host contaminate each other (round 12 measured a
    1.2-1.3x inflation when a second sweep or the test lanes
    overlapped)."""
    global _lock_fh
    fh = open(lock_path, "w")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fh.close()
        print("another bench.py is running; "
              "refusing to contaminate its numbers", file=sys.stderr)
        return 3
    _lock_fh = fh
    return 0


def main() -> int:
    lock_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             ".bench.lock")
    rc = acquire_bench_lock(lock_path)
    if rc:
        return rc

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = build_session(
        app_name="m3d-bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    # Warm the JVM/codegen path once so the first measured query isn't
    # charged for session bring-up.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Also warm the parquet reader + shuffle + window machinery: the
    # range-sum alone left the first ~5 sweep entries paying 0.5-1 s of
    # scan/codegen bring-up (measured round 10 when the registry
    # order put different entries first — their numbers jumped with
    # zero code change). region is the smallest table (~5 rows/sf).
    try:
        from pyspark.sql import functions as _F

        warm = spark.read.parquet(f"{sf_dir}/region.parquet")
        warm.groupBy("r_regionkey").agg(_F.count(_F.lit(1))).collect()
        # one real multi-partition scan + agg (metadata-only count()
        # would skip the reader): ~0.3 s once, saves ~2-3 s of
        # cold-start spread over the first sweep entries
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
            _F.sum("l_quantity")
        ).collect()
        # documents is the other big table the registry's first
        # entries often read (the LLM-pipeline entries); r15 measured
        # them paying ~1.3 s of string-scan/codegen bring-up that a
        # quiet warm-first read did not (4.25 vs 2.94 s at position 0)
        # — warm its reader too so in-sweep first reads stop needing
        # positional adjudication each time the driver window moves
        spark.read.parquet(f"{sf_dir}/documents.parquet").agg(
            _F.sum(_F.length("text"))
        ).collect()
    except Exception:
        pass  # warmup must never fail the bench
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # Comma-separated allowlist for supplementary runs (e.g. recording
    # a baseline for a single new entry without a full sweep).
    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if q.strip()
    }
    registry = entry_mod.queries()
    unknown = only - set(registry)
    if unknown:
        # a typo'd allowlist would otherwise skip everything and
        # "succeed" having timed nothing
        print(f"unknown SPARK_GRAFT_BENCH_ONLY entries: {sorted(unknown)}",
              file=sys.stderr)
        return 2
    timings: dict[str, float] = {}
    # Generated classes compiled during each entry's timed runs; 0 on a
    # warm entry whose plans fit the codegen cache (session.py).
    compiles: dict[str, int] = {}
    total = 0.0
    for name, fn in registry.items():
        if only and name not in only:
            continue
        best = -1.0
        compiles[name] = 0
        for _ in range(runs):
            c0 = codegen_compiles(spark)
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
            except Exception as e:  # keep the bench line parseable on failure
                print(f"bench error in {name}: {type(e).__name__}: {e}", file=sys.stderr)
                best = -1.0
                break
            finally:
                compiles[name] += codegen_compiles(spark) - c0
            best = dt if best < 0 else min(best, dt)
            # Isolate runs: drop any relations the query persisted so a
            # later measurement doesn't pay (or profit from) earlier state.
            spark.catalog.clearCache()
            # clearCache only drops SQL-cached relations; localCheckpoint
            # blocks (the graph/suffix tiers' lineage cuts) survive it
            # and accumulate over a 200+-entry sweep — measured as a
            # tail-of-registry slowdown (r13: the last 6 entries read
            # 2-2.4x their quiet values in-sweep, parity once isolated).
            try:
                for rdd in list(
                    spark.sparkContext._jsc.getPersistentRDDs().values()
                ):
                    rdd.unpersist()
            except Exception:
                pass  # cleanup must never fail the bench
        # Broadcast blocks (torrent pieces from the sweep's hundreds of
        # broadcast joins) are NOT covered by clearCache/RDD-unpersist:
        # the ContextCleaner frees them only once their JVM references
        # are garbage — which needs the py4j handles dropped AND a GC
        # to run. Over a 200+-entry sweep they otherwise accumulate in
        # the block manager (the suspected residual of the tail-of-
        # sweep aging after the r13 RDD-unpersist fix; quiet min-of-3
        # reads of the tail entries show parity, so the inflation is
        # sweep-accumulated state, not plans). One collect+System.gc
        # per ENTRY (not per run) costs ~0.1-0.3 s on a mostly-empty
        # heap — noise against a 2 s median entry.
        try:
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        timings[name] = round(best, 3)
        if best > 0:
            total += best
    spark.stop()
    # The driver records only the tail of this process's log (~2.9 KB in
    # round 6, which truncated the 113-entry line and left BENCH_r06.json
    # with parsed:null).  Keep the printed line parseable at any registry
    # size: full per-query detail goes to BENCH_FULL.json next to this
    # script, and the printed line carries as many entries as fit a
    # conservative byte budget, slowest first (the ones that matter for
    # perf grading), with an explicit omitted-count.
    full = {
        "metric": "total_query_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "protocol": f"min_of_{runs}",
        "codegen_compiles": compiles,
    }
    # ONLY-runs are supplementary counter-reads — never let them clobber
    # the full-sweep detail artifact the judge reads.
    detail_name = "BENCH_ONLY.json" if only else "BENCH_FULL.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           detail_name), "w") as f:
        json.dump(full, f)
    budget = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_BYTES", "2400"))
    by_cost = sorted(timings, key=lambda k: -timings[k])
    # detail-file only: the printed line keeps its historical keys
    line_obj = {k: v for k, v in full.items() if k != "codegen_compiles"}
    for n in range(len(by_cost), -1, -1):
        line_obj["queries"] = {k: timings[k] for k in by_cost[:n]}
        line_obj["queries_total"] = len(timings)
        line_obj["queries_omitted"] = len(timings) - n
        line_obj["detail"] = detail_name
        line = json.dumps(line_obj, separators=(",", ":"))
        if len(line) <= budget:
            break
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
