"""Structured Streaming variant of the extraction pipeline.

The reference is queue-based incremental batch (PG jobs + NOTIFY,
workers/base.py:215-429) — new documents trigger extraction as they arrive.
The Spark-native equivalent is a file-source stream over the pages table
directory: ``readStream`` → the SAME extract transformation → ``writeStream``
with checkpointing. Exactly-once per file via the streaming file source's
tracked-file log; resume is free (the checkpoint directory replaces the
reference's job-status rows).

``run_stream_once`` uses Trigger.AvailableNow so tests and backfills process
everything pending and stop — the production deployment would leave the
query running continuously against the landing directory (or swap the source
for Kafka with the same DAG).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.extract import PRIVATE_DOC_COLUMNS, extract_docs
from ..schemas import PAGES_SCHEMA


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Build (not start) the streaming extraction query."""
    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.load(pages_dir)

    docs = extract_docs(pages).drop(*PRIVATE_DOC_COLUMNS)
    # watermark-ready: warc_ts is the event time; downstream windowed aggs
    # (e.g. docs-per-host-per-hour) can hang off this with late-data bounds
    docs = docs.withWatermark("warc_ts", "1 hour")

    return (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def run_stream_once(
    spark: SparkSession, pages_dir: str, out_dir: str, checkpoint_dir: str
) -> int:
    """Process all pending files (Trigger.AvailableNow), wait, return docs written."""
    q = stream_extract(spark, pages_dir, out_dir, checkpoint_dir).trigger(
        availableNow=True
    ).start()
    q.awaitTermination()
    return spark.read.parquet(out_dir).count()


def streaming_host_counts(
    spark: SparkSession, pages_dir: str, checkpoint_dir: str
):
    """Windowed per-host page counts with late-data watermark — the streaming
    agg pattern (1-hour tumbling windows on warc_ts, 1-hour lateness)."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
    )
    host = F.regexp_extract(F.col("url"), r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)
    return (
        pages.withWatermark("warc_ts", "1 hour")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), host.alias("host"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def _warc_segments(
    spark: SparkSession, warc_dir: str, max_files_per_trigger: int | None
):
    """binaryFile stream of the ``*.warc*`` segments landing in `warc_dir`."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.warc*")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(warc_dir)


def stream_main_content(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    min_chars: int = 25,
    max_link_density: float = 0.33,
    max_files_per_trigger: int | None = None,
):
    """Streaming boilerplate lane: .warc.gz segments → pages → per-page
    main-content extraction → parquet, exactly-once per segment.

    Uses the PER-PAGE python selection (boilerplate.main_content_py) inside
    one mapInPandas: the batch lane's window functions would force a
    streaming shuffle, and selection only ever reads a page's own
    neighbours, so the per-page form is semantically identical — pinned by
    the batch≡python differential test in tests/test_boilerplate.py."""
    from typing import Iterator

    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.boilerplate import main_content_py
    from ..shipping import ensure_shipped
    from ..sources.warc import warc_to_pages

    ensure_shipped(spark)
    segments = _warc_segments(spark, warc_dir, max_files_per_trigger)
    pages = warc_to_pages(segments).where(
        F.col("error").isNull() & F.col("html").isNotNull()
    )

    schema = StructType(
        [
            StructField("url", StringType(), True),
            StructField("main_text", StringType(), True),
            StructField("n_blocks", LongType(), True),
        ]
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                if html is None:
                    continue
                text, n = main_content_py(
                    bytes(html).decode("utf-8", "replace"),
                    min_chars=min_chars,
                    max_link_density=max_link_density,
                )
                if n > 0:
                    rows.append({"url": url, "main_text": text, "n_blocks": n})
            yield pd.DataFrame(rows, columns=["url", "main_text", "n_blocks"])

    content = pages.select("url", "html").mapInPandas(_run, schema)
    return (
        content.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def stream_warc_extract(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming WARC landing-zone ingestion: new .warc.gz segments →
    parse → extract, exactly-once per segment via the binaryFile source's
    tracked-file log. This is the continuous form of the Common-Crawl edge
    (sources/warc.py) — segments drop into `warc_dir`, extracted docs land
    in `out_dir` parquet."""
    from ..shipping import ensure_shipped
    from ..sources.warc import warc_to_pages

    ensure_shipped(spark)
    segments = _warc_segments(spark, warc_dir, max_files_per_trigger)

    pages = warc_to_pages(segments).where(F.col("error").isNull()).select(
        "url", "warc_ts", "html", "text"
    )
    docs = extract_docs(pages).drop(*PRIVATE_DOC_COLUMNS)
    return (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
