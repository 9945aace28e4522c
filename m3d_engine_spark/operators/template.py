"""Algorithm scaffold — the starting point for a new algorithm.

Reference parity: algo/templates/AlgorithmTemplate.scala +
config/templates/AlgorithmTemplateConfiguration.scala. Copy this
module, rename the class and CLI name, and fill in the three steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from m3d_engine_spark.operators.base import Algorithm, register


@register("AlgorithmTemplate")
class AlgorithmTemplate(Algorithm):
    """Scaffold: wire read/transform/write for a new job. Mirrors the
    reference template, which throws until filled in
    (AlgorithmTemplate.scala:20-41)."""

    def read(self) -> list[DataFrame]:
        if self.params.has("source_location"):
            return [self.spark.read.parquet(self.params.get_string("source_location"))]
        raise NotImplementedError("AlgorithmTemplate: wire your read step")

    def transform(self, dfs: list[DataFrame]) -> list[DataFrame]:
        raise NotImplementedError("AlgorithmTemplate: wire your transform step")

    def write(self, dfs: list[DataFrame]) -> None:
        from m3d_engine_spark.sources.writers import write_output

        write_output(self.spark, dfs[0], self.params)
