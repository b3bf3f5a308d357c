"""Structured Streaming ingestion for the extraction pipeline.

The batch operators are stateless per document, so they lift directly
into streaming (mapInArrow is a stateless streaming transform):

    pages stream → extract → sink (parquet + checkpoint)

The per-document parser state lives entirely inside the UDF; no Spark
state store is used (SURVEY.md §2.4 streaming row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_main_content
from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str, max_files: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def read_warc_stream(spark: SparkSession, path: str, max_files: int = 16) -> DataFrame:
    """Streaming crawl ingestion: WARC shard files landing in ``path``
    become pages rows continuously. The ``binaryFile`` source streams
    whole files (one row per shard — CC shards are single blobs);
    record explosion happens inside the mapInArrow stage exactly as in
    batch (operators/warc.py), so this is the batch operator lifted
    unchanged. Error rows (status='error:*') flow to the sink rather
    than failing the query — a truncated shard never wedges the stream."""
    from ..operators.warc import warc_to_pages  # noqa: PLC0415

    shards = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; binaryFile's is fixed
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("maxFilesPerTrigger", max_files)
        .load(path)
        .select(F.col("path").alias("shard_path"), F.col("content").alias("warc"))
    )
    return warc_to_pages(shards, warc_col="warc", id_cols=("shard_path",))


def extract_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    transcode: bool = False,
):
    """Streaming extraction query. ``available_now=True`` drains the
    current input and stops (used by tests and backfills); otherwise the
    query runs continuously. ``transcode=True`` prepends the charset
    front porch (functions/charset.pages_to_utf8 — BOM/meta sniff +
    in-place re-encode, a stateless vectorized UDF, so it lifts into
    Structured Streaming unchanged) for corpora that aren't utf-8-only;
    the detected encoding rides along as a passthrough column."""
    pages = read_pages_stream(spark, input_path)
    if transcode:
        from ..functions.charset import pages_to_utf8  # noqa: PLC0415

        pages = pages_to_utf8(pages)
        extracted = extract_main_content(
            pages, "html", "url", passthrough=("encoding",)
        )
    else:
        extracted = extract_main_content(pages, "html", "url")
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

