"""Generic columnar/text table IO: one façade over Spark's format
zoo with the knobs that matter at scale (codec, partitioning counts,
explicit schemas for text formats).

Format guidance for the 100 TB design point, encoded as defaults:
parquet+zstd for warehouse tables (columnar, predicate pushdown,
row-group stats), ORC as the interchange alternative, NDJSON for
landing zones, CSV only at the edges (no types — schema required),
``text`` for raw line corpora (one ``value`` row per line — the shape
raw pretraining text arrives in; the writer requires exactly one
string column, everything else is a modeling error caught eagerly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["write_table", "read_table", "SUPPORTED_FORMATS"]

SUPPORTED_FORMATS = ("parquet", "orc", "json", "csv", "text")

_DEFAULT_COMPRESSION = {
    "parquet": "zstd",
    "orc": "zlib",
    "json": None,
    "csv": None,
    "text": None,
}


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    compression: str | None = None,
    **options: str,
) -> None:
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    from social_media_etl_spark.write_opts import apply_light_committer

    writer = apply_light_committer(df.write.mode(mode)).format(fmt)
    codec = compression or _DEFAULT_COMPRESSION[fmt]
    if codec:
        writer = writer.option("compression", codec)
    if fmt == "csv":
        options.setdefault("header", "true")
    if fmt == "text":
        string_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        ]
        if len(df.columns) != 1 or len(string_cols) != 1:
            raise ValueError(
                "text writes exactly one string column; got "
                f"{df.schema.simpleString()} — select/concat first"
            )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    merge_schema: bool = False,
    **options: str,
) -> DataFrame:
    """``merge_schema=True`` (parquet/orc) unions the schemas of ALL
    part files instead of trusting one footer — the read mode for a
    long-lived table whose schema GREW columns over time (old files
    surface the new columns as nulls). Costs a footer read per file at
    planning, which is why it is opt-in per read and not a session
    default; pass an explicit ``schema`` instead when the target shape
    is known (no footer sweep at all)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    if merge_schema and fmt not in ("parquet", "orc"):
        raise ValueError("merge_schema applies to parquet/orc only")
    if merge_schema and schema is not None:
        # Spark silently IGNORES mergeSchema when a user schema is
        # supplied — reject the contradiction instead (review r6)
        raise ValueError(
            "pass either merge_schema or an explicit schema, not both"
        )
    reader = spark.read.format(fmt)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if fmt == "csv":
        options.setdefault("header", "true")
        if schema is None:
            raise ValueError("csv requires an explicit schema (no type system)")
    if fmt == "text" and schema is not None:
        raise ValueError("text reads a fixed `value string` schema")
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)
