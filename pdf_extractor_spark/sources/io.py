"""Source/sink connectors for the pages + extracted tables.

The reference ingests payloads from S3 or a local uploads volume and
catalogs them in Postgres (main.py:401-431); our engine's equivalents are
schema-explicit readers/writers over the lake formats available in the
sandbox: pages read from Parquet (canonical), ORC (columnar alternate),
JSON-lines and CSV (interchange); both tables are written as Parquet.
Binary payloads can't live in text formats, so JSON/CSV carry them as
base64 — the same encoding the reference uses for vision payloads
(openai_vision_extractor.py:134).

Schemas are always declared, never inferred (SURVEY.md §1 type system):
schema inference over 100 TB is a full extra scan and can silently drift.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_extractor_spark.session import PAGES_DDL

# single source of truth: session.PAGES_DDL defines the input-table shape
# (BASELINE.json input_hint); deriving the StructType from it means a column
# added in one place cannot silently drift from the other. url is the key
# and never null. (Parsed in pure Python — StructType.fromDDL needs a live
# SparkContext, which does not exist at import time.)
_DDL_TYPES = {
    "string": T.StringType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}
PAGES_SCHEMA = T.StructType([
    T.StructField(name, _DDL_TYPES[typ], name != "url")
    for name, typ in (c.split(" ") for c in PAGES_DDL.split(", "))
])

# text-format twin: html carried as base64
_PAGES_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html_b64", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read the Common-Crawl-style pages table (input_hint schema) from
    parquet/json/csv. Text formats decode html from base64."""
    if fmt in ("parquet", "orc"):
        # columnar formats carry binary natively (no base64 detour)
        return spark.read.schema(PAGES_SCHEMA).format(fmt).load(path)
    if fmt in ("json", "csv"):
        reader = spark.read.schema(_PAGES_TEXT_SCHEMA).option("timestampFormat", _TS_FMT)
        raw = (
            reader.json(path)
            if fmt == "json"
            # multiLine + explicit escape: the text channel legitimately
            # contains newlines and quotes
            else reader.option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .csv(path)
        )
        return raw.select(
            "url",
            "warc_ts",
            F.unbase64("html_b64").alias("html"),
            "text",
            "lang",
        )
    raise ValueError(f"unsupported pages format: {fmt}")


def write_pages(df: DataFrame, path: str) -> None:
    """Write the pages table as parquet, replacing what is at ``path``."""
    df.select([f.name for f in PAGES_SCHEMA]).write.mode("overwrite") \
        .format("parquet").save(path)

