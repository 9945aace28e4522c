"""Acon-level benchmark of m3d_engine_spark: lake_loads and fuzzy_dedup.

Usage, from the root of a source checkout:

    python3 perfbench/run.py --workload lake_loads --seed 1 --seconds 10 --trace 0

One invocation generates the workload's inputs from ``--seed``
(perfbench/gen.py), sets the engine up (JVM, session, warm-up runs),
then runs the workload in a closed loop — one client, like a nightly
scheduler, starts each acon only after the previous one committed —
through the real dispatch (``operators.base.run_algorithm`` →
``REGISTRY[name].run``) on ``local[<cores>]`` until ``--seconds`` have
passed and a minimum number of runs are done. One run of ``lake_loads``
is a FullLoad acon followed by a DeltaLoad acon; one run of ``fuzzy_dedup``
is one FuzzyDedup acon.
Every run's committed outputs are checked against DuckDB oracles
(perfbench/checks.py).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones:

* ``task_cpu_s``   median executor CPU seconds per run
* ``setup_s``      process start to the first timed run: JVM launch,
                   session build and the warm-up runs, without input
                   generation
* ``peak_rss_mb``  VmHWM of this process plus the Spark JVM
* ``output_files`` data files in the committed targets after a run
* ``output_bytes`` bytes of those files

With ``--trace 1`` measured runs alternate between traced (perfbench/
spans.py spans around each layer, Spark metrics per phase job group)
and untraced; the metrics are the per-layer ones, ``run_s`` (median
wall time of the untraced runs' ``Algorithm.run`` calls, each from call
to committed output) and the tracing overhead, and the spans are written
to ``.perfbench_work/spans/``. Wall time is reported here rather than
with the end-to-end metrics because on a shared virtual machine it moves
with the host's other tenants, by up to a quarter between two sets of
runs of the same code, while executor CPU seconds move far less.

Exit codes: 0 done (outputs may still be wrong: see ``correct``),
2 the engine cannot be imported, 3 another instance holds the lock.
"""

from __future__ import annotations

import argparse
import fcntl
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lake_loads", "fuzzy_dedup")
END_TO_END_UNITS = {
    "task_cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
    "output_files": "count", "output_bytes": "bytes",
}
# Untimed warm-up runs, then at least MIN_RUNS timed runs whose median
# is reported. The first run pays class loading and JIT (2-5x a warm
# run). After it a fuzzy_dedup run is within ~10% of its plateau; a
# lake_loads run, whose many small per-partition queries keep C2
# compiling, is still ~40% over after one and ~15% after three. A fixed
# minimum count, rather than only a deadline, keeps the runs measured
# at the same positions on the warm-up curve whatever the host's speed.
WARMUP_RUNS = {"lake_loads": 3, "fuzzy_dedup": 1}
MIN_RUNS = {"lake_loads": 3, "fuzzy_dedup": 2}
# JVM heap, fixed from the start (-Xms = -Xmx): a heap that G1 grows
# on demand makes GC frequency, and so run time and peak RSS, depend on
# when it happened to grow.
HEAP = "2g"
PHASES = ("prepare", "read", "transform", "write")
PER_LAYER_UNITS = {
    "run_s": "s",
    "session.build_s": "s",
    **{f"operators.base.{p}_s": "s" for p in PHASES},
    **{f"operators.base.{p}_self_s": "s" for p in PHASES},
    "trace.unattributed_s": "s",
    "trace.run_s": "s",
    "trace.overhead_share": "ratio",
    "sources.formats.read_s": "s",
    "plans.partitions.collect_s": "s",
    "plans.partitions.partitions": "count",
    "sources.writers.write_s": "s",
    "sources.writers.commit_s": "s",
    **{f"sources.dfs.{m}_calls": "count" for m in ("exists", "rename", "delete", "list")},
    "sources.dfs.call_s": "s",
    "operators.graph.cc_s": "s",
    "operators.graph.cc_rounds": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_share": "ratio",
    **{f"spark.{b}_bytes": "bytes"
       for b in ("input", "output", "shuffle_read", "shuffle_write", "spill")},
    "spark.skew_max_over_median": "ratio",
    **{f"spark.{p}.stages": "count" for p in PHASES},
    **{f"spark.{p}.task_s": "s" for p in PHASES},
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    return p.parse_args(argv)


def acquire_lock(path: str):
    """Single-instance guard: an exclusive flock the kernel drops when
    the process exits. Returns the open file, or None when held."""
    fh = open(path, "w")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fh.close()
        return None
    return fh


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


class Bench:
    """One workload and seed: its inputs, its oracle and one Spark
    application."""

    def __init__(self, args: argparse.Namespace, work: str):
        from perfbench import checks, gen

        self.tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work)
        self.steps = gen.generate(args.workload, args.seed, self.tmp, args.scale)
        self.checks = [checks.OutputCheck(st.kind, st.files) for st in self.steps]
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.stats = None
        self.runs = 0

    def start(self) -> None:
        """Launch the JVM and build the session. Every file Spark and
        the JVM write goes under the work directory."""
        from m3d_engine_spark.session import build_session

        from perfbench.sparkstats import StatusStore

        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        self.spark = build_session(
            app_name="perfbench", master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": HEAP,
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData -Xms{HEAP}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.stats = StatusStore(self.spark)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)

    def _isolate(self) -> None:
        """Drop what the previous run left cached, as bench.py does."""
        spark = self.spark
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    def _before_step(self, step, run_id: str) -> None:
        if step.kind == "delta_load":
            # The active side is a catalog name: a fresh view over the
            # table directory, re-listed before each run because the
            # previous run replaced the partition directories. Its
            # listing job is harness work, kept out of the run's group.
            sc = self.spark.sparkContext
            sc.setJobGroup("perfbench", "catalog view")
            self.spark.read.parquet(step.target).createOrReplaceTempView(
                "lineitem_active"
            )
            sc.setJobGroup(run_id, "run")

    def run_once(self) -> tuple[str, float, str | None]:
        """One run: every step's acon in order. Returns (run id, wall
        seconds spent inside ``run_algorithm``, error or None)."""
        from m3d_engine_spark.operators.base import run_algorithm

        self._isolate()
        self.runs += 1
        run_id = f"run{self.runs}"
        self.spark.sparkContext.setJobGroup(run_id, "run")
        wall = 0.0
        for step, check in zip(self.steps, self.checks):
            self._before_step(step, run_id)
            t0 = time.perf_counter()
            try:
                run_algorithm(self.spark, step.algorithm, step.acon)
                err = None
            except Exception as exc:  # a failed run is counted, not fatal
                err = f"{type(exc).__name__}: {exc}"
            wall += time.perf_counter() - t0
            err = err or check.check(step.target)
            if err:
                return run_id, wall, f"{step.kind}: {err}"
        return run_id, wall, None

    def output_size(self) -> tuple[int, int]:
        from perfbench.checks import data_files

        files = [f for st in self.steps for f in data_files(st.target)]
        return len(files), sum(os.path.getsize(f) for f in files)

    def cleanup(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)


def end_to_end(bench: Bench, seconds: float, min_runs: int):
    walls, cpus, sizes, errors = [], [], [], []
    deadline = time.perf_counter() + seconds
    attempted = 0
    while attempted < min_runs or time.perf_counter() < deadline:
        run_id, wall, err = bench.run_once()
        attempted += 1
        roll = bench.stats.rollup({run_id}, cpu_only=True)[run_id]
        if err:
            errors.append(err)
            continue
        walls.append(wall)
        cpus.append(roll.cpu_s)
        sizes.append(bench.output_size())
    metrics = {
        "task_cpu_s": median(cpus),
        "output_files": median([f for f, _ in sizes]),
        "output_bytes": median([b for _, b in sizes]),
    }
    notes = [f"{attempted} timed runs, failed_share={len(errors) / attempted:.3f}, "
             "wall/cpu s: " + ", ".join(f"{w:.2f}/{c:.2f}" for w, c in zip(walls, cpus))]
    return metrics, [attempted, len(errors)], errors, notes


def per_layer(bench: Bench, seconds: float, spans_path: str):
    """Alternate traced and untraced runs until the deadline; per-layer
    numbers are medians over the traced runs."""
    from m3d_engine_spark.operators.base import REGISTRY

    from perfbench.spans import Tracer

    algorithms = {REGISTRY[st.algorithm] for st in bench.steps}
    tracer = Tracer(bench.spark, algorithms, PHASES)
    plain, traced, rows, errors = [], [], [], []
    deadline = time.perf_counter() + seconds
    attempted = 0
    while attempted < 2 or time.perf_counter() < deadline:
        use_trace = attempted % 2 == 0
        if use_trace:
            with tracer:
                tracer.run_id = f"run{bench.runs + 1}"
                run_id, wall, err = bench.run_once()
        else:
            run_id, wall, err = bench.run_once()
        attempted += 1
        roll = bench.stats.rollup({run_id} | {f"{run_id}:{p}" for p in PHASES})
        if err:
            errors.append(err)
        elif use_trace:
            traced.append(wall)
            rows.append(_layer_row(bench, tracer, run_id, wall, roll))
        else:
            plain.append(wall)
    tracer.write(spans_path)
    metrics = {name: median([r[name] for r in rows]) for name in rows[0]} if rows else {}
    t_med, p_med = median(traced), median(plain)
    metrics["run_s"] = p_med
    metrics["trace.run_s"] = t_med
    metrics["trace.overhead_share"] = (t_med - p_med) / p_med if p_med else 0.0
    notes = [
        f"traced run {t_med:.3f} s vs untraced {p_med:.3f} s; per traced run, "
        f"layer self times + trace.unattributed_s sum to the run's wall "
        f"(median {metrics.get('trace.self_sum_s', 0.0):.3f} s)",
        f"spans: {os.path.relpath(spans_path, ROOT)}",
    ]
    return metrics, [attempted, len(errors)], errors, notes


def _layer_row(bench: Bench, tracer, run_id: str, wall: float, roll: dict) -> dict:
    from perfbench import sparkstats

    spans = tracer.run_spans(run_id)
    selfs = tracer.self_times(run_id)

    def wall_of(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    def outermost(prefix: str) -> list:
        """Spans of a layer whose parent is outside that layer."""
        return [
            s for s in spans
            if s.name.startswith(prefix)
            and (s.parent < 0 or not tracer.spans[s.parent].name.startswith(prefix))
        ]

    row = {}
    phase_total = 0.0
    for p in PHASES:
        w = wall_of(f"operators.base.{p}")
        phase_total += w
        row[f"operators.base.{p}_s"] = w
        row[f"operators.base.{p}_self_s"] = selfs.get(f"operators.base.{p}", 0.0)
        r = roll[f"{run_id}:{p}"]
        row[f"spark.{p}.stages"] = r.stages
        row[f"spark.{p}.task_s"] = r.task_s
    # Algorithm.run outside its phases: params load, dispatch, unpersist
    row["trace.unattributed_s"] = wall - phase_total
    row["trace.self_sum_s"] = sum(selfs.values()) + row["trace.unattributed_s"]
    row["sources.formats.read_s"] = wall_of("sources.formats.read")
    collects = [s for s in spans if s.name == "plans.partitions.collect"]
    row["plans.partitions.collect_s"] = sum(s.end - s.start for s in collects)
    row["plans.partitions.partitions"] = sum(max(s.items, 0) for s in collects)
    writer = outermost("sources.writers.")
    writer_wall = sum(s.end - s.start for s in writer)
    write_jobs = roll[f"{run_id}:write"].job_spans
    busy = sum(
        sparkstats.busy_ms(write_jobs, s.start * 1e3, s.end * 1e3) / 1e3 for s in writer
    )
    row["sources.writers.write_s"] = writer_wall
    row["sources.writers.commit_s"] = max(0.0, writer_wall - busy)
    for m in ("exists", "rename", "delete"):
        row[f"sources.dfs.{m}_calls"] = sum(1 for s in spans if s.name == f"sources.dfs.{m}")
    row["sources.dfs.list_calls"] = sum(
        1 for s in spans
        if s.name.startswith("sources.dfs.") and ("list" in s.name or "file" in s.name)
    )
    row["sources.dfs.call_s"] = sum(s.end - s.start for s in outermost("sources.dfs."))
    row["operators.graph.cc_s"] = wall_of("operators.graph.cc")
    row["operators.graph.cc_rounds"] = sum(
        1 for s in spans if s.name == "operators.graph.round"
    )
    total = sparkstats.merge(list(roll.values()))
    for name in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "input_bytes",
                 "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes"):
        row[f"spark.{name}"] = getattr(total, name)
    row["spark.core_busy_share"] = total.task_s / (wall * bench.cores) if wall else 0.0
    row["spark.skew_max_over_median"] = bench.stats.skew(total.heaviest)
    return row


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import m3d_engine_spark.cli  # noqa: F401 — populates REGISTRY
        import __spark_entry__  # noqa: F401 — the fuzzy_dedup oracle
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(os.path.join(work, "spans"), exist_ok=True)
    lock = acquire_lock(os.path.join(work, "lock"))
    if lock is None:
        print("perfbench: another instance is running", file=sys.stderr)
        return 3
    try:
        t0 = time.perf_counter()
        bench = Bench(args, work)
        inputs_s = time.perf_counter() - t0
        try:
            t_build = time.perf_counter()
            bench.start()
            build_s = time.perf_counter() - t_build
            errors = []
            for _ in range(WARMUP_RUNS[args.workload]):  # JIT, codegen, listings
                _, _, err = bench.run_once()
                errors += [err] if err else []
            setup_s = time.perf_counter() - T_START - inputs_s
            if args.trace:
                spans_path = os.path.join(
                    work, "spans", f"{args.workload}-seed{args.seed}.jsonl"
                )
                metrics, counts, run_errors, notes = per_layer(
                    bench, args.seconds, spans_path
                )
                metrics["session.build_s"] = build_s
            else:
                metrics, counts, run_errors, notes = end_to_end(
                    bench, args.seconds, MIN_RUNS[args.workload]
                )
                metrics["setup_s"] = setup_s
            metrics["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(bench.jvm_pid())
        finally:
            bench.shutdown()
            bench.cleanup()
    finally:
        lock.close()
    errors += run_errors
    for e in errors[:5]:
        print(f"perfbench: output check failed: {e}", file=sys.stderr)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    metrics = {k: metrics.get(k, 0.0) for k in units}  # 0.0: every run failed
    print(f"# {args.workload} seed={args.seed}: inputs {inputs_s:.1f} s, "
          f"set-up {setup_s:.1f} s (session {build_s:.1f} s)")
    for note in notes:
        print(f"# {note}")
    for k, v in metrics.items():
        print(f"# {k:32s} {v:14.4f} {units[k]}")
    print(json.dumps({
        "correct": not errors,
        "attempted": counts[0],
        "failed": counts[1],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
