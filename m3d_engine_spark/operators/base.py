"""Algorithm base class + dispatch registry.

Reference parity: algo/core/Algorithm.scala:33-42 — every job is a fixed
``read → transform → write → update_statistics`` pipeline — and the
class-name dispatch in AlgorithmFactory.scala:66-83, which becomes a
plain registry dict here.

Unlike the reference (whose Scala trait vals eagerly DESCRIBE tables and
compute locations at construction), config resolution is an explicit
``prepare()`` step so constructors stay pure and unit-testable
(SURVEY.md §7.3.5).
"""

from __future__ import annotations

import abc
from typing import Callable, Type

from pyspark.sql import DataFrame, SparkSession

from m3d_engine_spark.config import ParamsFile

REGISTRY: dict[str, Type["Algorithm"]] = {}


def register(cli_name: str) -> Callable[[Type["Algorithm"]], Type["Algorithm"]]:
    def deco(cls: Type["Algorithm"]) -> Type["Algorithm"]:
        REGISTRY[cli_name] = cls
        cls.cli_name = cli_name
        return cls

    return deco


def tracked_checkpoint(
    df: DataFrame, track: "list | None", *, eager: bool = False
) -> DataFrame:
    """localCheckpoint (lazy unless ``eager``), registered on ``track``
    so the caller can free its blocks once the consumers have run
    (long-lived sessions otherwise accumulate them). The engine's one
    form for a frame read more than once: unlike a cache, it keeps
    AQE's coalesced partition count, and every column pruning of it
    reads the one computed relation. The trade: its blocks die with
    their executor (dynamic allocation, spot loss), where a cache would
    be recomputed."""
    out = df.localCheckpoint(eager=eager)
    if track is not None:
        track.append(out)
    return out


def _broadcastable(df: DataFrame) -> bool:
    """The planner's own test: the size estimate fits
    ``spark.sql.autoBroadcastJoinThreshold``."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()  # noqa: SLF001
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
    return 0 <= size <= conf.autoBroadcastJoinThreshold()


def pinned_join(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """``left.join(right, on)`` with a strategy that does not depend on
    timing. When neither side's size estimate fits the broadcast
    threshold (an RDD scan or a checkpoint has no estimate at all) the
    planner picks sort-merge, and AQE turns it into a broadcast once a
    side's shuffle stage turns out small, with the build side taken
    from whichever stage finishes first: a rerun can plan a different
    join, generate different code and miss the codegen cache. Such a
    join is hinted sort-merge, the plan at scale anyway. When a side
    fits, the planner broadcasts it, the same way every run."""
    if not (_broadcastable(left) or _broadcastable(right)):
        left = left.hint("merge")
    return left.join(right, on=on)


def unpersist_checkpoints(dfs) -> None:
    """Free the RDD blocks behind localCheckpoint'd frames. NOTE:
    ``DataFrame.unpersist()`` is the WRONG tool here — it uncaches the
    plan via the CacheManager and leaves the checkpoint's persisted
    RDD untouched; the blocks live behind the plan's LogicalRDD, so we
    reach through it. Only call after the consumer has materialized
    its results (a checkpoint's lineage is truncated — the blocks are
    the only copy)."""
    for df in dfs:
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # non-checkpoint plan shape / already freed: best-effort


class Algorithm(abc.ABC):
    """read → transform → write → update_statistics."""

    cli_name: str = ""

    def __init__(self, spark: SparkSession, params: ParamsFile):
        self.spark = spark
        self.params = params
        # tracked_checkpoint's `track` list for one run(), freed when
        # the run ends (thrift server, notebook, test suite sessions).
        self._checkpointed: list[DataFrame] = []

    def prepare(self) -> None:
        """Resolve catalog/location state (side-effectful; optional)."""

    @abc.abstractmethod
    def read(self) -> list[DataFrame]: ...

    @abc.abstractmethod
    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]: ...

    @abc.abstractmethod
    def write(self, dfs: list[DataFrame]) -> None: ...

    def update_statistics(self) -> None:
        """ANALYZE TABLE step (reference: algo/core/TableStatistics.scala);
        overridden by catalog-backed algorithms."""

    def run(self) -> None:
        try:
            self.prepare()
            self.write(self.transform(self.read()))
            if self.params.get_optional("compute_table_statistics", False):
                self.update_statistics()
        finally:
            unpersist_checkpoints(self._checkpointed)
            self._checkpointed.clear()


def run_algorithm(spark: SparkSession, name: str, params_path: str) -> None:
    if name not in REGISTRY:
        raise KeyError(f"unknown algorithm {name!r}; known: {sorted(REGISTRY)}")
    REGISTRY[name](spark, ParamsFile.load(params_path)).run()
