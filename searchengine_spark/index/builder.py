"""Batch inverted-index builder (the rebuild of the reference's
``startIndexing`` path, ``services/IndexingServiceImpl.java:73-155``).

Two shuffle stages (SURVEY.md §3.2 "Spark rebuild"):

- **Stage 1 — scan/analyze**: corpus scan -> deterministic doc-id
  assignment -> vectorized tokenize+lemmatize+tf Arrow UDF
  (``mapInArrow``; replaces the inline ``LemmaFinder.collectLemmas``
  call at ``IndexingServiceImpl.java:337-338``) -> ``doc_stats``: one
  row per doc with its doclen and its forward index (``terms`` in
  sorted order, their ``tfs``).  doc_stats is the stage-1 checkpoint.
- **Stage 2 — shuffle/encode**: doc_stats exploded to postings
  ``(term, doc_id, tf, dl, repo)`` -> salt = ``pmod(doc_id, S)`` ->
  (bucket, term, salt) range shuffle -> ``mapInArrow`` block encoder
  (delta+varint+skip+block-max) -> ``postings/`` runs +
  ``term_repo_stats``.  The runs are the global term dictionary too:
  a term's df/cf are its runs' summed ``df_run``/``cf_run``.

The reference buffers every posting of the whole crawl in one in-memory
set and flushes once (``LemmaFinder.java:32,113-115``,
``IndexingServiceImpl.java:148-150``); here that accumulate-then-flush
IS the stage-2 shuffle, with spill-to-disk for free.

Fixed-overhead design (the part that must NOT grow with cluster size,
for the N->4N scaling-efficiency bar):

- the analyze kernel sees each document whole, so doclen and the
  forward index are computed in-batch and written on the doc's own
  doc_stats row — no groupBy shuffle of the postings, no join;
- corpus n/sum_dl and the posting count are collected by an
  ``Observation`` attached to the doc_stats write (zero extra jobs);
- per-bucket lineage (bytes from the encoder-emitted ``n_bytes``
  column, the term count as distinct terms per bucket) is one narrow
  aggregate over the runs — the compressed blobs are never re-read.

Each stage writes a checkpoint manifest with per-partition lineage
metrics (postings emitted, runs/blocks encoded, bytes compressed);
re-running ``build_index`` over the same (source, config) skips
completed stages — the resumability contract of ``north_rule``.
"""

from __future__ import annotations

import json
import os
import time
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from searchengine_spark.config import IndexConfig
from searchengine_spark.index.format import (
    DOC_STATS_SCHEMA,
    INDEX_FORMAT,
    POSTING_RUN_SCHEMA,
    encode_partition_arrow,
    write_relation,
)

#: columns that define the deterministic global document order
DOC_ORDER = ["repo", "path", "commit"]

#: optional external CPU clock for per-step attribution: a zero-arg
#: callable returning cumulative CPU-seconds of the whole process tree
#: (gateway JVM + python workers).  Set by ``tools/bench_scaling.py``
#: so each build step's wall time in ``steps_sec`` gets a matching
#: ``steps_cpu`` entry — the signal that separates "this step
#: serialized" (CPU flat, wall up) from "this step burned more CPU at
#: higher parallelism" (parallel overhead).  Unset (the default) the
#: manifests are unchanged.
STEP_CLOCK = None


def _step_cpu() -> float:
    return STEP_CLOCK() if STEP_CLOCK is not None else 0.0

def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` with a non-numeric fallback:
    managed platforms can set the conf to ``'auto'`` (AQE
    auto-optimized shuffle), which must not abort the build (ADVICE
    r4)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return int(spark.sparkContext.defaultParallelism)


def stats_slices(n_shuffle: int, n_buckets: int) -> int:
    """Term-hash slices per bucket for the term_repo_stats write:
    ceil(shuffle partitions / buckets), so the write runs ~n_shuffle
    tasks.  Shared by the builder and maintenance, which rewrites the
    same relation."""
    return max(1, -(-n_shuffle // max(n_buckets, 1)))


#: Spark job group tag for build jobs — the handle :func:`cancel_build`
#: cancels (the reference's ``GET /api/stopIndexing`` flag,
#: ``IndexingServiceImpl.java:157-165``, re-expressed as job-group
#: cancellation; completed stage checkpoints survive, so a later
#: ``build_index`` resumes instead of restarting)
BUILD_JOB_GROUP = "searchengine-spark-build"


def cancel_build(spark: SparkSession) -> None:
    """Cancel every in-flight build job (stopIndexing analog).

    Whatever stage was mid-flight fails in the building thread; stages
    that already wrote their checkpoint manifest are kept, and the next
    ``build_index`` over the same (source, config) resumes after them
    (tests/test_index.py::test_cancel_midbuild_then_resume).
    """
    spark.sparkContext.cancelJobGroup(BUILD_JOB_GROUP)


def doc_postings(spark: SparkSession, index_dir: str, n_buckets: int) -> DataFrame:
    """The doc_stats forward index exploded to postings ``(term, doc_id,
    tf, dl, repo, bucket)``, ``bucket = pmod(xxhash64(term), P)`` — the
    stage-2 input.  Reads only the narrow columns (never content)."""
    pair = F.explode(F.arrays_zip("terms", "tfs")).alias("p")
    return (
        spark.read.parquet(os.path.join(index_dir, "doc_stats"))
        .select("doc_id", F.col("doclen").alias("dl"), "repo", pair)
        .select(
            F.col("p.terms").alias("term"), "doc_id",
            F.col("p.tfs").alias("tf"), "dl", "repo",
        )
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
    )


def encoder_input(postings: DataFrame, n_salts: int, n_enc: int) -> DataFrame:
    """Postings -> the block encoder's input: salted by ``pmod(doc_id,
    S)``, range-partitioned on (bucket, term, salt) into ``n_enc``
    partitions and sorted so every (term, salt) run is contiguous and
    doc-ordered.

    Range, not hash: each task covers one contiguous (bucket, term,
    salt) interval, so it writes into one bucket dir, or two where its
    interval crosses a bucket boundary.  The relation then holds at
    most n_enc + n_buckets - 1 files, and a bucket with a share s of
    the postings at most ceil(s * n_enc) + 1 (ceil(n_enc / n_buckets)
    + 1 for equal-mass buckets) instead of one per task: the per-file
    footer and open cost of every reader and of a reindex's bucket
    swap scale with that count.  Balance comes from
    the range bounds, which Spark samples from the postings
    themselves: every task gets about 1/n_enc of the postings whatever
    the partition count, unlike a hash on (bucket, ...), whose few
    distinct values collide balls-in-bins (SCALE.md §5).  ``salt``
    stays in the key, so a head term's S runs are separate keys that a
    bound may fall between; the encoder only needs each (term, salt)
    run whole in one partition, which any partitioning on that key
    prefix gives.  The explicit numPartitions (the user's
    shuffle-sizing knob) decouples encode parallelism from the index
    layout and pins it against AQE.  The sort repeats the range key
    plus doc_id, so the dynamic-partitionBy write reuses it instead of
    inserting its own."""
    return (
        postings.select("term", "doc_id", "tf", "dl", "bucket")
        .withColumn("salt", F.pmod(F.col("doc_id"), F.lit(n_salts)).cast("int"))
        .repartitionByRange(n_enc, "bucket", "term", "salt")
        .sortWithinPartitions("bucket", "term", "salt", "doc_id")
    )


def assign_doc_ids(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Assign deterministic dense ``doc_id`` ordered by (repo, path, commit).

    See :func:`_assign_doc_ids`; this public wrapper leaves the interim
    range-partitioned frame cached (callers that care about the cache
    lifecycle — the builder — use the underscore variant).
    """
    out, _ = _assign_doc_ids(docs, num_partitions)
    return out


def _assign_doc_ids(
    docs: DataFrame, num_partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Deterministic dense doc ids; returns (result, cached_parent).

    NOT raw ``monotonically_increasing_id`` (partitioning-dependent —
    would break rank-identity and resume, SURVEY.md §7.0) and NOT a
    single global window (driver bottleneck at 10^12 rows).  Two-level
    scheme, entirely JVM-side (no Python round-trip of ``content``):

    1. range-repartition + sort by the order columns;
    2. count rows per range partition (tiny driver-side array -> dense
       global offset per partition);
    3. ``doc_id = offset[pid] + partition-local ordinal``, where the
       ordinal is the low 33 bits of ``monotonically_increasing_id()``
       evaluated above the sort — mid is (pid << 33) + row-index in
       partition evaluation order, which after sortWithinPartitions IS
       the sorted order.

    Because range partitions are ordered and (repo, path, commit) is a
    total order, the resulting id equals the global rank regardless of
    where the sampled range boundaries fall — so the ids are
    reproducible across cluster sizes and reruns (tests pin this).

    The second return value is the persisted range-partitioned parent;
    the caller MUST ``unpersist()`` it once the result has been
    materialized (the builder does so after the doc_stats write).
    """
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = shuffle_partitions(spark)
    arranged = (
        docs.repartitionByRange(num_partitions, *[F.col(c) for c in DOC_ORDER])
        .sortWithinPartitions(*DOC_ORDER)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_ordinal",
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)),
        )
        .persist()
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in arranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    offsets_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long"
    )
    out = (
        arranged.join(F.broadcast(offsets_df), "_pid")
        .withColumn("doc_id", F.col("_offset") + F.col("_ordinal"))
        .drop("_pid", "_ordinal", "_offset")
    )
    return out, arranged


def analyze_doc_batch(batch, keep_content: bool):
    """One batch of doc rows (``doc_id``, ``content`` and any metadata
    columns) -> the same rows as doc_stats rows: ``content`` dropped
    (kept last when ``keep_content``), and ``doclen``, ``terms`` and
    ``tfs`` appended.  ``terms`` holds the doc's terms in sorted order,
    ``tfs`` their counts, and ``doclen = Σ tfs``.

    The analyzer and the (doc_id, term) tf count run in Arrow compute
    kernels (analyzer.analyze_batch_arrow); each doc is exactly one
    input row, so doclen and the forward index need no shuffle.  Shared
    by the build (through :func:`_analyze_partitions_arrow`) and the
    single-doc re-index (index/maintain.py)."""
    import numpy as np
    import pyarrow as pa

    from searchengine_spark.analyzer import analyze_batch_arrow

    n = batch.num_rows
    ids = batch.column("doc_id")
    tf = analyze_batch_arrow(ids, batch.column("content")).combine_chunks()
    bids = ids.to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.argsort(bids, kind="stable")
    # input row of every posting, then postings sorted by (row, term)
    row = order[np.searchsorted(bids[order], tf.column("doc_id").to_numpy())]
    tf = tf.append_column("row", pa.array(row)).sort_by(
        [("row", "ascending"), ("term", "ascending")]
    )
    row = tf.column("row").to_numpy()
    tfs = tf.column("tf").combine_chunks()
    offsets = pa.array(
        np.concatenate(([0], np.cumsum(np.bincount(row, minlength=n)))).astype(np.int32)
    )
    # exact: int-valued float64 sums stay < 2^53
    doclen = np.bincount(row, weights=tfs.to_numpy(), minlength=n).astype(np.int32)
    names = [c for c in batch.schema.names if c != "content"]
    cols = [batch.column(c) for c in names] + [
        pa.array(doclen),
        pa.ListArray.from_arrays(offsets, tf.column("term").combine_chunks()),
        pa.ListArray.from_arrays(offsets, tfs),
    ]
    names += ["doclen", "terms", "tfs"]
    if keep_content:
        cols.append(batch.column("content"))
        names.append("content")
    return pa.RecordBatch.from_arrays(cols, names=names)


def _analyze_partitions_arrow(iterator, keep_content: bool):
    """mapInArrow kernel: doc-row batches -> doc_stats batches
    (:func:`analyze_doc_batch`)."""
    for batch in iterator:
        if batch.num_rows:
            yield analyze_doc_batch(batch, keep_content)


def write_build_status(
    out_dir: str, status: str, error: str | None = None
) -> dict:
    """Persist the build state machine (reference ``site.status`` —
    INDEXING/INDEXED/FAILED with status_time and last_error,
    ``model/Status.java:3-7``, ``IndexingServiceImpl.java:598-608``) to
    ``_checkpoints/build.json``; ``statistics()`` reports it live."""
    import datetime

    payload = {
        "status": status,
        "status_time": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "last_error": error,
    }
    os.makedirs(os.path.join(out_dir, "_checkpoints"), exist_ok=True)
    with open(os.path.join(out_dir, "_checkpoints", "build.json"), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    return payload


def read_build_status(index_dir: str) -> dict | None:
    p = os.path.join(index_dir, "_checkpoints", "build.json")
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "_checkpoints", f"{stage}.json")


def _load_manifest(out_dir: str, stage: str) -> dict | None:
    p = _manifest_path(out_dir, stage)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def _write_manifest(out_dir: str, stage: str, payload: dict) -> None:
    os.makedirs(os.path.join(out_dir, "_checkpoints"), exist_ok=True)
    with open(_manifest_path(out_dir, stage), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: IndexConfig = IndexConfig(),
    source: str = "",
    force: bool = False,
    store_content: bool = False,
) -> dict:
    """Build (or resume) the full index under ``out_dir``.

    ``store_content=True`` keeps the raw content column in doc_stats so
    snippets need no corpus re-read — test/small-index convenience; at
    production scale leave False and record ``source`` so the snippet
    join reads the corpus table (J4: join after top-k).

    Returns the build metrics dict (also persisted in the manifests).
    """
    # tag this thread's jobs so cancel_build() (stopIndexing analog)
    # can abort them; job groups are thread-local in Spark
    spark.sparkContext.setJobGroup(
        BUILD_JOB_GROUP, f"build_index {out_dir}", interruptOnCancel=True
    )
    os.makedirs(out_dir, exist_ok=True)
    write_build_status(out_dir, "INDEXING")
    try:
        metrics = _build_index_staged(
            spark, docs, out_dir, cfg, source, force, store_content
        )
    except BaseException as exc:
        write_build_status(out_dir, "FAILED", error=str(exc)[:500])
        raise
    else:
        write_build_status(out_dir, "INDEXED")
        return metrics
    finally:
        spark.sparkContext._jsc.clearJobGroup()  # noqa: SLF001


def _build_index_staged(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: IndexConfig,
    source: str,
    force: bool,
    store_content: bool,
) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    fingerprint = {
        "source": source, "config": cfg.to_json(), "content": store_content,
        "format": INDEX_FORMAT,
    }
    metrics: dict = {}

    # ---------------- Stage 1: scan + analyze -> doc_stats ---------------
    m1 = None if force else _load_manifest(out_dir, "stage1")
    if m1 is not None and m1.get("fingerprint") == fingerprint:
        metrics["stage1"] = m1
    else:
        t0 = time.time()
        c0 = _step_cpu()
        with_ids, arranged = _assign_doc_ids(docs)
        obs = Observation("doc_stats")
        doc_stats = (
            with_ids.select(
                "doc_id",
                *[F.col(c).cast("string") for c in ("repo", "path", "commit", "lang")],
                F.sha2(F.col("content"), 256).alias("content_sha256"),
                "content",
            )
            .mapInArrow(
                partial(_analyze_partitions_arrow, keep_content=store_content),
                schema=DOC_STATS_SCHEMA + (", content string" if store_content else ""),
            )
            # hive-partitioned by pmod(doc_id, P) so single-doc re-index
            # (S9) swaps ONE partition dir instead of rewriting the
            # whole relation (index/maintain.py reindex_doc)
            .withColumn(
                "ds_part",
                F.pmod(F.col("doc_id"), F.lit(cfg.doc_stats_parts)).cast("int"),
            )
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("doclen").alias("sum_dl"),
                F.sum(F.size("terms")).alias("postings"),
            )
        )
        # repartition on the partition column: one task per ds_part dir
        # -> one file per dir.  Without it every task opens P writers
        # and the relation shatters into tasks x P tiny files, which
        # the driver-side pyarrow point reads (repo_scope/_doc_meta,
        # the query p50 path) then pay for on every request.
        # sortWithinPartitions(repo, doc_id): each ds_part file carries
        # tight row-group min/max statistics on repo AND doc_id, so the
        # driver-side point reads (repo_scope, _doc_meta, reindex's
        # (repo, path) lookup) prune row groups instead of reading the
        # whole partition (ADVICE r3)
        write_relation(
            doc_stats.repartition(cfg.doc_stats_parts, F.col("ds_part"))
            .sortWithinPartitions("repo", "doc_id"),
            os.path.join(out_dir, "doc_stats"), "ds_part", mode="overwrite",
        )
        arranged.unpersist()
        stats = obs.get  # filled by the write job — no extra job
        n_docs = int(stats["n"] or 0)
        sum_dl = int(stats["sum_dl"] or 0)
        m1 = {
            "fingerprint": fingerprint,
            "stage": "stage1",
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "avgdl": sum_dl / n_docs if n_docs else 0.0,
            "postings_emitted": int(stats["postings"] or 0),
            "wall_sec": round(time.time() - t0, 3),
            "steps_sec": {"analyze_doc_stats_write": round(time.time() - t0, 3)},
        }
        if STEP_CLOCK is not None:
            m1["steps_cpu"] = {"analyze_doc_stats_write": round(_step_cpu() - c0, 1)}
        _write_manifest(out_dir, "stage1", m1)
        metrics["stage1"] = m1

    # ---------------- Stage 2: shuffle + block encode --------------------
    m2 = None if force else _load_manifest(out_dir, "stage2")
    if m2 is not None and m2.get("fingerprint") == fingerprint:
        metrics["stage2"] = m2
    else:
        t0 = time.time()
        c0 = _step_cpu()
        postings = doc_postings(spark, out_dir, cfg.n_buckets)
        block_size = cfg.block_size

        # One shuffle (encoder_input): co-locate each (term, salt) run in
        # a (bucket, term, salt) range, sort runs contiguously, then
        # encode WHOLE partitions in mapInArrow.  Arrow-native end to
        # end: per-group applyInPandas pays ~ms of pandas overhead per
        # run, and even whole-partition mapInPandas pays O(runs)
        # Python-object churn materializing the output lists/bytes
        # (measured 39x slower than the Arrow kernel at code-corpus
        # vocabularies — format.encode_sorted_table).
        def _encode(batches):
            return encode_partition_arrow(batches, block_size)

        n_enc = shuffle_partitions(spark)
        runs = (
            encoder_input(postings, cfg.n_salts, n_enc)
            .mapInArrow(_encode, schema=POSTING_RUN_SCHEMA)
            # the Python eval node erases ordering info, so without this
            # the partitionBy write inserts its own bucket-only sort
            # (stability not guaranteed) over the encoded rows; this
            # explicit (bucket, term) sort both satisfies the writer's
            # required ordering and pins term-sorted files (tight term
            # row-group stats for query-time pruning).  Near-free: the
            # encoder emits rows already in this order.
            .sortWithinPartitions("bucket", "term")
        )
        runs_path = os.path.join(out_dir, "postings")
        write_relation(runs, runs_path, "bucket", mode="overwrite")
        t_enc = time.time()
        c_enc = _step_cpu()

        # per-(term, repo) document frequency — the reference's per-site
        # lemma.frequency semantics (LemmaRepository.java:25-30).  Written
        # bucket-partitioned (hive `bucket=` dirs) and term-sorted within
        # files: maintenance (index/maintain.py) then swaps ONLY the
        # partition dirs a mutation touches instead of rewriting the
        # whole vocabulary (VERDICT r4 #3a), and the sorted files keep
        # tight term row-group statistics for the driver-side point
        # lookups (term_repo_df).  `slices` spreads each bucket over
        # several tasks so head-bucket mass never funnels through one;
        # task count stays ~n_enc (the measured per-task fixed cost on
        # small corpora makes task-count inflation expensive).
        stat_slices = stats_slices(n_enc, cfg.n_buckets)
        trs = postings.groupBy("term", "repo").agg(
            F.count("*").alias("df"), F.first("bucket").alias("bucket")
        )
        write_relation(
            trs.repartition(
                max(1, cfg.n_buckets) * stat_slices,
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(stat_slices)),
            ).sortWithinPartitions("bucket", "term", "repo"),
            os.path.join(out_dir, "term_repo_stats"), "bucket", mode="overwrite",
        )
        t_trs = time.time()
        c_trs = _step_cpu()

        # lineage: aggregates the encoder-emitted n_bytes column —
        # narrow scan, the compressed streams are never re-read.  A
        # term's runs all sit in its bucket, so the per-bucket distinct
        # terms sum to the vocabulary size
        lineage = spark.read.parquet(runs_path).groupBy("bucket").agg(
            F.count("*").alias("runs"),
            F.sum("n_blocks").alias("blocks_merged"),
            F.sum("n_bytes").alias("bytes_compressed"),
            F.sum("df_run").alias("postings"),
            F.countDistinct("term").alias("terms"),
        ).collect()
        m2 = {
            "fingerprint": fingerprint,
            "stage": "stage2",
            "n_terms": int(sum(r["terms"] for r in lineage)),
            "runs_encoded": int(sum(r["runs"] for r in lineage)),
            "blocks_merged": int(sum(r["blocks_merged"] for r in lineage)),
            "bytes_compressed": int(sum(r["bytes_compressed"] for r in lineage)),
            "per_bucket": {
                str(r["bucket"]): {
                    "runs": r["runs"],
                    "blocks_merged": int(r["blocks_merged"]),
                    "bytes_compressed": int(r["bytes_compressed"]),
                    "postings": int(r["postings"]),
                }
                for r in lineage
            },
            "wall_sec": round(time.time() - t0, 3),
            "steps_sec": {
                "encode_write": round(t_enc - t0, 3),
                "term_repo_stats_write": round(t_trs - t_enc, 3),
                "lineage_collects": round(time.time() - t_trs, 3),
            },
        }
        if STEP_CLOCK is not None:
            m2["steps_cpu"] = {
                "encode_write": round(c_enc - c0, 1),
                "term_repo_stats_write": round(c_trs - c_enc, 1),
                "lineage_collects": round(_step_cpu() - c_trs, 1),
            }
        _write_manifest(out_dir, "stage2", m2)
        metrics["stage2"] = m2

    # ---------------- meta (completion marker) ---------------------------
    meta = {
        "n_docs": metrics["stage1"]["n_docs"],
        "sum_dl": metrics["stage1"]["sum_dl"],
        # high-water mark for id assignment: build ids are dense ranks
        # 0..n_docs-1; reindex_doc advances it per new doc so a
        # single-doc add never scans doc_stats for max(doc_id)
        # (VERDICT r3 #2; reference analog: DB autoincrement)
        "max_doc_id": metrics["stage1"]["n_docs"] - 1,
        "avgdl": metrics["stage1"]["avgdl"],
        "n_terms": metrics["stage2"]["n_terms"],
        "config": json.loads(cfg.to_json()),
        "source": source,
        "format": INDEX_FORMAT,
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    metrics["meta"] = meta
    return metrics
