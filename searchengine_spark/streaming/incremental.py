"""Structured Streaming surface.

The reference has no streams (SURVEY.md §2.8); its only incremental
behaviors are the crawl frontier and single-page re-index
(``services/PageProcessorService.java:34-46``).  The Spark-native
equivalents:

- :func:`stream_corpus` / :func:`stage_corpus_stream` — continuous
  corpus ingest: ``readStream`` over the corpus table directory,
  streaming dedup on the natural key, append to a staging area that the
  (resumable, checkpointed) batch ``build_index`` consumes.  Index
  maintenance stays a batch rebuild of affected term partitions — the
  design SURVEY.md §3.3 pins — because deterministic dense doc ids
  (rank-identity contract) cannot be assigned online.
- :func:`apply_staged_updates` — drains a small staging area into a
  live index, one single-doc re-index per staged row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType, StringType

from searchengine_spark.sources.corpus import CORPUS_COLUMNS

CORPUS_SCHEMA = StructType(
    [StructField(c, StringType()) for c in CORPUS_COLUMNS]
)


def stream_corpus(spark: SparkSession, path: str) -> DataFrame:
    """``readStream`` over a corpus directory (new files = new docs)."""
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def stage_corpus_stream(
    corpus_stream: DataFrame,
    staging_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous ingest: stream -> key-dedup -> staging parquet.

    ``dropDuplicates`` on the natural key is the streaming analog of the
    crawl frontier's global URL set (``IndexingServiceImpl.java:62,207``)
    — exactly-once per (repo, path, commit) across micro-batches via the
    state store; the parquet sink + checkpoint give exactly-once files.
    Returns the started StreamingQuery (caller awaits termination).
    """
    deduped = corpus_stream.dropDuplicates(["repo", "path", "commit"])
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", staging_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_staged_updates(
    spark: SparkSession,
    index_dir: str,
    staging_dir: str,
    full_rebuild_threshold: int = 64,
) -> dict:
    """Drain a staging area (written by :func:`stage_corpus_stream`)
    into a live index.

    Small deltas (< ``full_rebuild_threshold`` docs) take the S9
    single-doc path — ``maintain.reindex_doc`` per staged row, touching
    only the term buckets each doc's old+new terms hash into.  Larger
    deltas should rebuild the affected stages instead (the batch
    ``build_index`` resume path); this function refuses rather than
    silently looping a bulk load through the per-doc path.

    Returns {"applied": n, "records": [mutation records]}.  Reference
    analog: the ``POST /api/indexPage`` upsert driven by a feed instead
    of an HTTP call (``PageProcessorService.java:34-46``).
    """
    from searchengine_spark.index.maintain import reindex_doc

    staged = spark.read.schema(CORPUS_SCHEMA).parquet(staging_dir).collect()
    if len(staged) >= full_rebuild_threshold:
        raise ValueError(
            f"{len(staged)} staged docs >= threshold {full_rebuild_threshold}: "
            "use the batch build_index resume path for bulk loads"
        )
    records = []
    for row in staged:
        records.append(
            reindex_doc(
                spark,
                index_dir,
                repo=row["repo"],
                path=row["path"],
                content=row["content"] or "",
                commit=row["commit"],
                lang=row["lang"],
            )
        )
    return {"applied": len(records), "records": records}
