"""End-to-end extraction pipeline: pages → docs → spans → entities → edges,
with explicit partitioning, a per-partition audit table, and run-level
snapshot commits that resume keys off.

The reference's six event-driven hops (ingest → queue → worker → parse →
entities → graph; SURVEY.md §3.1) fuse into one declarative DAG; the job
queue's SKIP-LOCKED work distribution becomes hash partitioning; retries
become the error/quarantine column; per-job lineage rows become the audit
table.

Scale design (the 100 TB story):
- input is repartitioned by xxhash64(url) before the extract UDF: uniform
  work distribution no matter how skewed the host mix is (this is what
  evens out a 30%-of-corpus mega-host), and a stable partitioning the
  downstream doc-keyed join can reuse;
- ``salted_host_stats``/``detect_heavy_hosts`` are host-statistics helpers
  (a salted two-phase aggregation, so a mega-host can't hot-spot a
  reducer); ``run_pipeline`` itself does not call them;
- column pruning: the UDF sees only (url, warc_ts, html, text, kind); the
  audit pass aggregates the side-channel columns before the public write;
- resume: the committed docs snapshots' url sets are anti-joined against the
  input — already-extracted urls are never re-extracted.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import ParquetSnapshotCatalog
from .operators.edges import comention_edges_from_name_sets
from .operators.entities import aggregate_entities, filter_valid_mentions
from .operators.extract import PRIVATE_DOC_COLUMNS, extract_docs
from .operators.spans import (
    extract_chunks,
    extract_claims_df,
    extract_dates,
    extract_rels_from_mentions,
)
from .schemas import AUDIT_SCHEMA


HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/]+)"


def host_col(url):
    return F.regexp_extract(url, HOST_RE, 1)


def partition_pages(pages: DataFrame, num_partitions: int) -> DataFrame:
    """Uniform url-hash repartition (north rule: partition by url hash)."""
    return pages.repartition(num_partitions, F.xxhash64(F.col("url")))


def salted_host_stats(pages: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Per-host page counts via salted two-phase aggregation.

    Any direct groupBy(host) hot-spots on the mega-host at scale; salting the
    key into `salt_buckets` shards makes the first (heavy) aggregation uniform
    and the second one tiny (hosts × buckets rows).
    """
    salted = pages.select(
        host_col(F.col("url")).alias("host"),
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets)).alias("_salt"),
    )
    partial = salted.groupBy("host", "_salt").agg(F.count(F.lit(1)).alias("n"))
    return partial.groupBy("host").agg(F.sum("n").alias("n_pages"))


def detect_heavy_hosts(pages: DataFrame, threshold_fraction: float = 0.05) -> list[str]:
    """Hosts owning more than `threshold_fraction` of the corpus (broadcastable)."""
    stats = salted_host_stats(pages)
    total = pages.count()
    rows = stats.where(F.col("n_pages") >= total * threshold_fraction).collect()
    return [r["host"] for r in rows]


@dataclass
class PipelineResult:
    snapshot_id: str
    tables: dict[str, DataFrame]
    audit: DataFrame


def _audit_from_docs(docs_raw: DataFrame, snapshot_id: str) -> DataFrame:
    return (
        docs_raw.groupBy(F.col("_part_id").alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("input_rows"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("output_rows"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
            F.sum(F.col("_batch_ms")).alias("wall_ms"),
        )
        .withColumn("stage", F.lit("extract"))
        .withColumn("snapshot_id", F.lit(snapshot_id))
        .select([f.name for f in AUDIT_SCHEMA.fields])
    )


def _with_committed(prior: DataFrame | None, increment: DataFrame) -> DataFrame:
    """Committed runs' rows plus this run's increment."""
    return increment if prior is None else prior.unionByName(increment)


def run_extraction_stats(
    spark: SparkSession,
    pages: DataFrame,
    num_partitions: int | None = None,
) -> dict:
    """Compute-only extraction run (the scaling-bench unit of work): one
    extract pass, a SLIM persisted frame (scalars + the filtered name arrays
    — never the full text/mention structs, whose caching thrashes executor
    memory at corpus scale), then audit + edge build off the slim cache.

    Returns {docs, errors, mentions, edges, audit_rows}.
    """
    from pyspark import StorageLevel

    from .shipping import ensure_shipped

    ensure_shipped(spark)
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    docs_raw = extract_docs(
        partition_pages(pages, num_partitions), include_mentions=True
    )
    slim = docs_raw.select(
        "url", "error", "_part_id", "_batch_ms", "_n_mentions", "_names"
    ).persist(StorageLevel.MEMORY_AND_DISK)

    n_docs = slim.count()
    n_err = slim.where(F.col("error").isNotNull()).count()
    n_mentions = (
        slim.where(F.col("error").isNull())
        .agg(F.sum("_n_mentions").alias("n"))
        .collect()[0]["n"]
        or 0
    )
    n_edges = comention_edges_from_name_sets(slim.where(F.col("error").isNull())).count()
    audit_rows = _audit_from_docs(slim, snapshot_id="").collect()
    slim.unpersist()
    return {
        "docs": n_docs,
        "errors": n_err,
        "mentions": int(n_mentions),
        "edges": n_edges,
        "audit_rows": len(audit_rows),
    }


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    num_partitions: int | None = None,
) -> PipelineResult:
    """Run the extraction DAG into the snapshot catalog at `out_dir`: skip
    urls of committed runs, write this run's table snapshots and audit, then
    commit the run."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from .shipping import ensure_shipped

    ensure_shipped(spark)
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    snapshot_id = hashlib.sha256(f"{time.time_ns()}".encode()).hexdigest()[:16]
    catalog = ParquetSnapshotCatalog(out_dir)

    done = catalog.read_table(spark, "docs")
    if done is not None:
        # AQE converts this to a broadcast anti-join when the committed
        # url set is small; at 10^12 scale it stays a shuffle anti-join
        # co-partitioned with the url-hash repartition below.
        pages = pages.join(done.select("url").distinct(), "url", "left_anti")

    # mock-NER is fused into the extract pass (one Arrow trip for the text)
    docs_raw = extract_docs(
        partition_pages(pages, num_partitions), include_mentions=True
    )
    # Storage-checkpoint pattern: materialize the extract output ONCE to
    # parquet, then feed every downstream table from column-pruned reads
    # of that snapshot. Caching the full frame instead (text + mention
    # arrays) measurably thrashes executor memory at corpus scale; a
    # parquet read prunes to exactly the 1-2 columns each consumer needs.
    catalog.write_snapshot(docs_raw, "docs", snapshot_id)
    # downstream processes THIS run's increment only (committed earlier
    # snapshots were fully processed by their own runs)
    docs_raw = catalog.read_snapshot(spark, "docs", snapshot_id)
    audit = _audit_from_docs(docs_raw, snapshot_id)

    clean = docs_raw.select("url", "extracted_text", "error").where(
        F.col("error").isNull()
    )
    span_tables = {
        "mentions": (
            docs_raw.where(F.col("error").isNull())
            .select("url", F.explode("_mentions").alias("m"))
            .select("url", "m.*")
        ),
        "dates": extract_dates(clean),
        # native pair combination over the fused _mentions — the Python
        # re-extraction variant cost half the pipeline wall (see
        # extract_rels_from_mentions)
        "rels": extract_rels_from_mentions(docs_raw),
        "chunks": extract_chunks(clean),
        "claims": extract_claims_df(clean),
    }
    # per-document tables append this run's increment. The writes are
    # INDEPENDENT jobs over the same pruned docs snapshot, so submit them
    # from worker threads and let Spark's scheduler interleave their stages
    # — the mentions explode and the regex-heavy dates/claims scans overlap
    # instead of serializing (each job alone underutilizes the executors
    # during its narrow final write stage). Each thread inherits the
    # caller's job description and group. Run-level atomicity is untouched:
    # commit_run still happens after the barrier below.
    with ThreadPoolExecutor(max_workers=4) as ex:
        futures = [
            ex.submit(
                inheritable_thread_target(spark)(catalog.write_snapshot),
                df, name, snapshot_id,
            )
            for name, df in span_tables.items()
        ]
        for fut in futures:
            fut.result()  # surface the first failure, keep run orphaned

    # entities/edges are DERIVED AGGREGATES, not append tables: a
    # per-increment aggregation would split counts across snapshots, apply
    # min_count per increment (dropping cross-snapshot co-occurrences) and
    # turn limit into a per-increment top-N. Recompute them over the FULL
    # committed mentions (prior runs + this increment) each run; readers
    # take the latest run's result.
    mentions = _with_committed(
        catalog.read_table(spark, "mentions"),
        catalog.read_snapshot(spark, "mentions", snapshot_id),
    )
    entities = aggregate_entities(filter_valid_mentions(mentions))
    # Edges build from the docs table's fused `_names` arrays (the sorted
    # distinct valid lowered names the extract pass already computed):
    # output-identical to comention_edges over the exploded valid mentions
    # with one narrow explode instead of a mention-row explode + per-doc
    # re-aggregation — half the shuffles. No document_ids arrays: at
    # 10^12-doc scale an unbounded ARRAY_AGG per edge is a memory hazard,
    # and the (doc, entity) mapping is already in the mentions table.
    edges = comention_edges_from_name_sets(
        _with_committed(done, docs_raw).where(F.col("error").isNull())
    )
    catalog.write_snapshot(entities, "entities", snapshot_id)
    catalog.write_snapshot(edges, "edges", snapshot_id)
    catalog.write_snapshot(audit, "audit", snapshot_id)
    # run-level atomic commit point: ONLY now does this increment become
    # visible to readers and to resume. A crash anywhere above leaves an
    # invisible orphan run whose urls are re-extracted next time — no
    # half-committed increment, no silently lost downstream rows.
    appended = ["docs", *span_tables]
    catalog.commit_run(snapshot_id, [*appended, "entities", "edges", "audit"])

    # expose committed data; public docs view prunes the internal columns
    tables = {name: catalog.read_table(spark, name) for name in appended}
    tables["docs"] = tables["docs"].drop(*PRIVATE_DOC_COLUMNS)
    for name in ("entities", "edges"):
        tables[name] = catalog.read_table_latest(spark, name)
    return PipelineResult(snapshot_id=snapshot_id, tables=tables, audit=audit)
