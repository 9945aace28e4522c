"""File-format abstraction: DSV / Parquet / JSON / ORC / text read+write.

Reference parity: util/DataFormat.scala:18-59 and the reader-options
surface of config/loads/LoadConfiguration.scala:10-44 (delimiter, header,
mode, nullValue, quote, escape, dateFormat, multiline). Schemas are
Spark StructType JSON (DataType.fromJson equivalent =
StructType.fromJson).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Mapping

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

READER_MODES = {"PERMISSIVE", "FAILFAST", "DROPMALFORMED"}


def validated_mode(mode: str) -> str:
    m = mode.upper()
    if m not in READER_MODES:
        raise ValueError(f"invalid reader mode {mode!r}; one of {sorted(READER_MODES)}")
    return m


@dataclass
class DataFormat:
    format: str  # csv | parquet | json
    schema: StructType | None = None
    options: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        # Spark's text source reads/writes exactly one string column —
        # a multi-field schema fails only at run time with an opaque
        # analysis error, so validate eagerly here. (The reference's
        # DataFormat.scala has no text format; this surface is an
        # addition, constrained to what the Spark source supports.)
        if self.format == "text" and self.schema is not None:
            fields = self.schema.fields
            if len(fields) != 1 or fields[0].dataType.typeName() != "string":
                raise ValueError(
                    "format 'text' supports exactly one STRING column; got "
                    f"schema {self.schema.simpleString()}"
                )

    def reader(self, spark: SparkSession) -> DataFrameReader:
        r = spark.read.format(self.format).options(**{k: v for k, v in self.options.items() if v is not None})
        if self.schema is not None:
            r = r.schema(self.schema)
        elif self.format in ("csv", "json"):
            # Reference behavior: infer when schemaless (DataFormat.scala:38-40,56-58).
            r = r.option("inferSchema", "true")
        return r

    def read(self, spark: SparkSession, *paths: str) -> DataFrame:
        return self.reader(spark).load(list(paths))

    def write(self, df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        if self.format == "text":
            data_cols = [
                f for f in df.schema.fields
                if not partition_by or f.name not in partition_by
            ]
            if len(data_cols) != 1 or data_cols[0].dataType.typeName() != "string":
                raise ValueError(
                    "format 'text' writes exactly one STRING column; got "
                    f"{df.schema.simpleString()}"
                )
        w = df.write.format(self.format).mode(mode).options(
            **{k: v for k, v in self.options.items() if v is not None}
        )
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)


def format_from_params(params: Mapping[str, Any]) -> DataFormat:
    """Build a DataFormat from an acon params dict (file_format + reader
    options + optional inline Spark-JSON schema)."""
    fmt = str(params.get("file_format", "dsv")).lower()
    spark_format = {
        "dsv": "csv",
        "csv": "csv",
        "parquet": "parquet",
        "json": "json",
        # orc: columnar sibling Spark ships natively; same
        # reader/writer surface as parquet (schema honored, no
        # inference needed). text: line-oriented, exactly ONE string
        # column (validated in DataFormat).
        "orc": "orc",
        "text": "text",
    }[fmt]
    schema = None
    if params.get("schema"):
        schema = StructType.fromJson(params["schema"])
    options: dict[str, Any] = {}
    if spark_format == "csv":
        options["delimiter"] = params.get("delimiter", "|")
        options["header"] = str(params.get("has_header", False)).lower()
        if params.get("null_value") is not None:
            options["nullValue"] = params["null_value"]
        if params.get("quote_character") is not None:
            options["quote"] = params["quote_character"]
        if params.get("escape_character") is not None:
            options["escape"] = params["escape_character"]
        if params.get("date_format") is not None:
            options["dateFormat"] = params["date_format"]
    if spark_format in ("csv", "json"):
        options["mode"] = validated_mode(str(params.get("reader_mode", "PERMISSIVE")))
        if params.get("multi_line") is not None:
            options["multiLine"] = str(params["multi_line"]).lower()
        if params.get("columnNameOfCorruptRecord") is not None:
            # add_corrupt_record_column plumbing (LoadConfiguration
            # .scala:38 + CatalogTableManager.scala:135-150)
            options["columnNameOfCorruptRecord"] = params["columnNameOfCorruptRecord"]
    return DataFormat(spark_format, schema, options)
