"""Batch inverted-index builder (the rebuild of the reference's
``startIndexing`` path, ``services/IndexingServiceImpl.java:73-155``).

Two shuffle stages (SURVEY.md §3.2 "Spark rebuild"):

- **Stage 1 — scan/analyze**: corpus scan -> deterministic doc-id
  assignment -> vectorized tokenize+lemmatize+tf Arrow UDF
  (``mapInPandas``; replaces the inline ``LemmaFinder.collectLemmas``
  call at ``IndexingServiceImpl.java:337-338``) -> flat postings
  ``(term, doc_id, tf, dl, repo)`` written partitioned by
  ``bucket = pmod(xxhash64(term), P)``, plus ``doc_stats``.
- **Stage 2 — shuffle/encode**: flat postings -> salt =
  ``pmod(doc_id, S)`` -> (term, salt) sort-merge shuffle ->
  ``mapInArrow`` block encoder (delta+varint+skip+block-max) ->
  ``postings/`` runs + ``term_stats`` + ``term_repo_stats``.

The reference buffers every posting of the whole crawl in one in-memory
set and flushes once (``LemmaFinder.java:32,113-115``,
``IndexingServiceImpl.java:148-150``); here that accumulate-then-flush
IS the stage-2 shuffle, with spill-to-disk for free.

Fixed-overhead design (the part that must NOT grow with cluster size,
for the N->4N scaling-efficiency bar):

- doclen rides the analyze output as one sentinel row per doc
  (``term=""`` routed to partition ``bucket=-1``), so ``doc_stats``
  needs a partition-pruned read of n_docs tiny rows — NOT a groupBy
  shuffle of the entire postings relation;
- corpus n/avgdl are collected by an ``Observation`` attached to the
  doc_stats write (zero extra jobs);
- per-bucket posting counts and the term-dictionary cardinality come
  from parquet footer metadata (driver-side, no job, no data read);
- per-bucket lineage bytes aggregate the encoder-emitted ``n_bytes``
  column — the compressed blobs themselves are never re-read.

Each stage writes a checkpoint manifest with per-partition lineage
metrics (postings emitted, runs/blocks encoded, bytes compressed);
re-running ``build_index`` over the same (source, config) skips
completed stages — the resumability contract of ``north_rule``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from searchengine_spark.analyzer import term_frequencies
from searchengine_spark.config import IndexConfig
from searchengine_spark.index.format import (
    POSTING_RUN_SCHEMA,
    encode_partition_arrow,
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
    """Term-hash slices per bucket for the stats-relation writes
    (term_stats, term_repo_stats): ceil(shuffle partitions / buckets),
    so the write runs ~n_shuffle tasks.  Shared by the builder and
    maintenance, which rewrites the same relations."""
    return max(1, -(-n_shuffle // max(n_buckets, 1)))


ANALYZED_SCHEMA = "doc_id long, term string, tf int, dl int, repo string"

#: hive partition that holds the per-doc sentinel rows (term="", tf=0,
#: dl=doclen) emitted by the analyze kernel alongside real postings.
#: Readers of real postings filter ``bucket >= 0`` (partition-pruned).
DOC_ROW_BUCKET = -1

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


def read_flat_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """The flat postings relation ``(term, doc_id, tf, dl, repo, bucket)``
    — real postings only (partition-prunes the ``bucket=-1`` doc-row
    sentinels away).  Canonical read path for stage1_postings."""
    return spark.read.parquet(os.path.join(index_dir, "stage1_postings")).where(
        F.col("bucket") >= 0
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
    materialized (the builder does so after the flat-postings write).
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


def _analyze_partitions(iterator):
    """mapInPandas kernel: (doc_id, repo, content) -> postings rows.

    Vectorized end-to-end (searchengine_spark.analyzer); doclen = Σtf is
    computed in-batch because each document is exactly one input row.
    Besides real postings, emits ONE sentinel row per input doc
    ``(doc_id, term="", tf=0, dl=doclen, repo)`` — the carrier that
    gets doclen into doc_stats without a postings-wide shuffle (the
    builder routes these to partition ``bucket=-1``).
    """
    import pandas as pd  # local import: runs on executors

    for pdf in iterator:
        tf = term_frequencies(pdf["doc_id"], pdf["content"])
        frames = []
        if not tf.empty:
            tf["dl"] = (
                tf.groupby("doc_id", sort=False)["tf"].transform("sum").astype("int32")
            )
            repo_map = pd.Series(pdf["repo"].values, index=pdf["doc_id"].values)
            tf["repo"] = tf["doc_id"].map(repo_map)
            frames.append(tf[["doc_id", "term", "tf", "dl", "repo"]])
            dl_per_doc = tf.groupby("doc_id", sort=False)["dl"].first()
        else:
            dl_per_doc = pd.Series(dtype="int64")
        doc_rows = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "term": "",
                "tf": 0,
                "dl": pdf["doc_id"].map(dl_per_doc).fillna(0).astype("int32"),
                "repo": pdf["repo"].values,
            }
        )
        frames.append(doc_rows[["doc_id", "term", "tf", "dl", "repo"]])
        yield frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)


def _analyze_partitions_arrow(iterator):
    """mapInArrow kernel: (doc_id, repo, content) RecordBatches ->
    ANALYZED_SCHEMA batches.  Arrow-native twin of
    :func:`_analyze_partitions` (which stays in use on the inline-search
    path and as the parity reference): the analyzer and the (doc_id,
    term) tf count run entirely in Arrow compute kernels
    (analyzer.analyze_batch_arrow) — pandas ``.str`` ops dispatch a
    Python call per element, which dominated stage 1.  Per input batch
    it emits one postings batch and one sentinel batch (term="", tf=0,
    dl=doclen — the doc_stats carrier, see module docstring)."""
    import pyarrow as pa

    from searchengine_spark.analyzer import analyze_batch_arrow

    analyzed_schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("term", pa.string()),
            ("tf", pa.int32()),
            ("dl", pa.int32()),
            ("repo", pa.string()),
        ]
    )
    import numpy as np

    for batch in iterator:
        n = batch.num_rows
        if n == 0:
            continue
        ids = batch.column(batch.schema.get_field_index("doc_id"))
        repos = batch.column(batch.schema.get_field_index("repo"))
        texts = batch.column(batch.schema.get_field_index("content"))
        tf = analyze_batch_arrow(ids, texts).combine_chunks()
        bids = ids.to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.argsort(bids, kind="stable")
        sorted_bids = bids[order]
        dl_batch = np.zeros(n, dtype=np.int64)
        if tf.num_rows:
            tf_ids = tf.column("doc_id").to_numpy(zero_copy_only=False)
            tf_np = tf.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
            idx = order[np.searchsorted(sorted_bids, tf_ids)]
            # exact: int-valued float64 sums stay < 2^53
            dl_batch = np.bincount(idx, weights=tf_np, minlength=n).astype(np.int64)
            idx_arr = pa.array(idx)
            yield pa.RecordBatch.from_arrays(
                [
                    tf.column("doc_id").chunk(0),
                    tf.column("term").chunk(0),
                    tf.column("tf").chunk(0),
                    pa.array(dl_batch[idx].astype(np.int32)),
                    repos.take(idx_arr),
                ],
                schema=analyzed_schema,
            )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(bids),
                pa.array([""] * n, pa.string()),
                pa.array(np.zeros(n, dtype=np.int32)),
                pa.array(dl_batch.astype(np.int32)),
                repos,
            ],
            schema=analyzed_schema,
        )


def _footer_rowcounts(path: str) -> dict[str, int]:
    """{hive-partition-dirname: total rows} from parquet footers only.

    Driver-side metadata walk — no Spark job, no data pages read.  At
    production bucket counts (10^3-10^4 files) this is a millisecond
    listing; the alternative (a count(*) job) re-scans the relation.
    Files directly under ``path`` are keyed "".
    """
    import pyarrow.parquet as pq

    counts: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        part = os.path.relpath(root, path)
        part = "" if part == "." else part
        n = 0
        for fn in files:
            if fn.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
        if n:
            counts[part] = counts.get(part, 0) + n
    return counts


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
    fingerprint = {"source": source, "config": cfg.to_json(), "content": store_content}
    metrics: dict = {}

    # ---------------- Stage 1: scan + analyze + flat postings ------------
    m1 = None if force else _load_manifest(out_dir, "stage1")
    if m1 is not None and m1.get("fingerprint") == fingerprint:
        metrics["stage1"] = m1
    else:
        t0 = time.time()
        c0 = _step_cpu()
        with_ids, arranged = _assign_doc_ids(docs)
        with_ids = with_ids.withColumn("content_sha256", F.sha2(F.col("content"), 256))

        analyzed = with_ids.select("doc_id", "repo", "content").mapInArrow(
            _analyze_partitions_arrow, schema=ANALYZED_SCHEMA
        )
        flat = analyzed.withColumn(
            "bucket",
            F.when(F.col("term") == "", F.lit(DOC_ROW_BUCKET))
            .otherwise(F.pmod(F.xxhash64("term"), F.lit(cfg.n_buckets)))
            .cast("int"),
        )
        flat_path = os.path.join(out_dir, "stage1_postings")
        # Write balance without file explosion.  Keying the shuffle on
        # bucket alone has two scale flaws: (a) n_buckets+1 distinct
        # keys hash into as many bins with balls-in-bins collisions
        # (skewed tasks, idle cores), and (b) the sentinel pseudo-bucket
        # (term="", one row per doc) is ONE key — at 10^12 docs that is
        # 10^12 rows through a single task.  So each regular bucket is
        # split into C doc-slices (C sized so distinct keys ~ 4x the
        # partition count; at production bucket counts C collapses to 1
        # and the layout-aligned write is preserved), and the sentinel
        # bucket spreads over all partitions (its rows are tiny).
        # Total file count stays ~ max(n_buckets, 4 x shuffle
        # partitions), NOT n_partitions x n_buckets, because every
        # (bucket, slice) key lands wholly in one task.  The explicit
        # (bucket, term, doc_id) sort satisfies the dynamic-partition
        # writer's required ordering AND leaves every file term-sorted
        # (tight term row-group statistics for pruned reads).
        n_flat = shuffle_partitions(spark)
        slices = max(1, -(-4 * n_flat // max(cfg.n_buckets, 1)))  # ceil
        flat_split = F.when(
            F.col("bucket") == DOC_ROW_BUCKET,
            F.pmod(F.col("doc_id"), F.lit(n_flat)),
        ).otherwise(F.pmod(F.col("doc_id"), F.lit(slices)))
        flat.repartition(n_flat, F.col("bucket"), flat_split).sortWithinPartitions(
            "bucket", "term", "doc_id"
        ).write.mode("overwrite").partitionBy("bucket").parquet(flat_path)
        t_flat = time.time()
        c_flat = _step_cpu()

        # doclen: partition-pruned read of the n_docs sentinel rows —
        # replaces a groupBy shuffle over the whole postings relation
        doclens = (
            spark.read.parquet(flat_path)
            .where(F.col("bucket") == DOC_ROW_BUCKET)
            .select("doc_id", F.col("dl").alias("doclen"))
        )
        stat_cols = ["doc_id", "repo", "path", "commit", "lang", "content_sha256"]
        if store_content:
            stat_cols.append("content")
        obs = Observation("doc_stats")
        doc_stats = (
            with_ids.select(*stat_cols)
            .join(doclens, "doc_id", "left")
            .withColumn("doclen", F.coalesce("doclen", F.lit(0)).cast("int"))
            # hive-partitioned by pmod(doc_id, P) so single-doc re-index
            # (S9) swaps ONE partition dir instead of rewriting the
            # whole relation (index/maintain.py reindex_doc)
            .withColumn(
                "ds_part",
                F.pmod(F.col("doc_id"), F.lit(cfg.doc_stats_parts)).cast("int"),
            )
            .observe(obs, F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("sum_dl"))
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
        doc_stats.repartition(cfg.doc_stats_parts, F.col("ds_part")).sortWithinPartitions(
            "repo", "doc_id"
        ).write.mode(
            "overwrite"
        ).partitionBy("ds_part").parquet(os.path.join(out_dir, "doc_stats"))
        arranged.unpersist()
        stats = obs.get  # filled by the write job — no extra job
        n_docs = int(stats["n"] or 0)
        avgdl = float(stats["sum_dl"] or 0) / n_docs if n_docs else 0.0
        t_ds = time.time()
        c_ds = _step_cpu()

        # per-bucket posting counts from parquet footers (no job)
        per_bucket = {
            part.split("=", 1)[1]: n
            for part, n in _footer_rowcounts(flat_path).items()
            if part.startswith("bucket=") and part != f"bucket={DOC_ROW_BUCKET}"
        }
        m1 = {
            "fingerprint": fingerprint,
            "stage": "stage1",
            "n_docs": n_docs,
            "avgdl": avgdl,
            "postings_emitted": int(sum(per_bucket.values())),
            "postings_per_bucket": per_bucket,
            "wall_sec": round(time.time() - t0, 3),
            "steps_sec": {
                "analyze_flat_write": round(t_flat - t0, 3),
                "doc_stats_write": round(t_ds - t_flat, 3),
                "footer_stats": round(time.time() - t_ds, 3),
            },
        }
        if STEP_CLOCK is not None:
            m1["steps_cpu"] = {
                "analyze_flat_write": round(c_flat - c0, 1),
                "doc_stats_write": round(c_ds - c_flat, 1),
                "footer_stats": round(_step_cpu() - c_ds, 1),
            }
        _write_manifest(out_dir, "stage1", m1)
        metrics["stage1"] = m1

    # ---------------- Stage 2: shuffle + block encode --------------------
    m2 = None if force else _load_manifest(out_dir, "stage2")
    if m2 is not None and m2.get("fingerprint") == fingerprint:
        metrics["stage2"] = m2
    else:
        t0 = time.time()
        c0 = _step_cpu()
        flat_back = read_flat_postings(spark, out_dir)
        salted = flat_back.select("term", "doc_id", "tf", "dl", "bucket").withColumn(
            "salt", F.pmod(F.col("doc_id"), F.lit(cfg.n_salts)).cast("int")
        )
        block_size = cfg.block_size

        # One shuffle: co-locate each (term, salt) run, sort runs
        # contiguously, then encode WHOLE partitions in mapInArrow.
        # Arrow-native end to end: per-group applyInPandas pays ~ms of
        # pandas overhead per run, and even whole-partition mapInPandas
        # pays O(runs) Python-object churn materializing the output
        # lists/bytes (measured 39x slower than the Arrow kernel at
        # code-corpus vocabularies — format.encode_sorted_table).
        #
        # Partition key = (term, salt), NOT (bucket, salt): the encoder
        # only needs each run contiguous, and hashing the
        # vocabulary-sized key space balances the encode stage at any
        # partition count, whereas hash(bucket, salt) has only
        # n_buckets x n_salts distinct values — balls-in-bins collisions
        # plus unequal bucket mass skew the stage, and AQE is free to
        # coalesce a column-only repartition below the core count.  The
        # explicit numPartitions (the user's shuffle-sizing knob)
        # decouples encode parallelism from the index layout and pins
        # it against AQE.  Sorting with the leading ``bucket``
        # (functionally determined by term, so run contiguity is
        # preserved) lets the dynamic-partitionBy write reuse the sort
        # instead of inserting its own, and keeps every output file
        # term-sorted for tight row-group pruning at query time.
        def _encode(batches):
            return encode_partition_arrow(batches, block_size)

        n_enc = shuffle_partitions(spark)
        runs = (
            salted.repartition(n_enc, "term", "salt")
            .sortWithinPartitions("bucket", "term", "salt", "doc_id")
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
        runs.write.mode("overwrite").partitionBy("bucket").parquet(runs_path)
        t_enc = time.time()
        c_enc = _step_cpu()

        # term dictionary — narrow columns only (no blob re-read).
        # BOTH stats relations are written bucket-partitioned (hive
        # `bucket=` dirs) and term-sorted within files: maintenance
        # (index/maintain._rewrite_stats) then swaps ONLY the partition
        # dirs a mutation touches instead of rewriting the whole
        # vocabulary (VERDICT r4 #3a), and the sorted files keep tight
        # term row-group statistics for the driver-side point lookups
        # (term_info / term_repo_df).  `slices` spreads each bucket
        # over several tasks so head-bucket mass never funnels through
        # one; task count stays ~n_enc (the measured per-task fixed
        # cost on small corpora makes task-count inflation expensive).
        runs_back = spark.read.parquet(runs_path)
        stat_slices = stats_slices(n_enc, cfg.n_buckets)
        term_stats = runs_back.groupBy("term").agg(
            F.sum("df_run").alias("df"),
            F.sum("cf_run").alias("cf"),
            F.first("bucket").alias("bucket"),
        )
        (
            term_stats.repartition(
                max(1, cfg.n_buckets) * stat_slices,
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(stat_slices)),
            )
            .sortWithinPartitions("bucket", "term")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(out_dir, "term_stats"))
        )
        t_ts = time.time()
        c_ts = _step_cpu()

        # per-(term, repo) document frequency — the reference's per-site
        # lemma.frequency semantics (LemmaRepository.java:25-30)
        trs = flat_back.groupBy("term", "repo").agg(
            F.count("*").alias("df"), F.first("bucket").alias("bucket")
        )
        (
            trs.repartition(
                max(1, cfg.n_buckets) * stat_slices,
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(stat_slices)),
            )
            .sortWithinPartitions("bucket", "term", "repo")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(out_dir, "term_repo_stats"))
        )
        t_trs = time.time()
        c_trs = _step_cpu()

        # lineage: aggregates the encoder-emitted n_bytes column —
        # narrow scan, the compressed streams are never re-read
        lineage = runs_back.groupBy("bucket").agg(
            F.count("*").alias("runs"),
            F.sum("n_blocks").alias("blocks_merged"),
            F.sum("n_bytes").alias("bytes_compressed"),
            F.sum("df_run").alias("postings"),
        ).collect()
        n_terms = sum(_footer_rowcounts(os.path.join(out_dir, "term_stats")).values())
        m2 = {
            "fingerprint": fingerprint,
            "stage": "stage2",
            "n_terms": int(n_terms),
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
                "term_stats_write": round(t_ts - t_enc, 3),
                "term_repo_stats_write": round(t_trs - t_ts, 3),
                "lineage_collects": round(time.time() - t_trs, 3),
            },
        }
        if STEP_CLOCK is not None:
            m2["steps_cpu"] = {
                "encode_write": round(c_enc - c0, 1),
                "term_stats_write": round(c_ts - c_enc, 1),
                "term_repo_stats_write": round(c_trs - c_ts, 1),
                "lineage_collects": round(_step_cpu() - c_trs, 1),
            }
        _write_manifest(out_dir, "stage2", m2)
        metrics["stage2"] = m2

    # ---------------- meta (completion marker) ---------------------------
    meta = {
        "n_docs": metrics["stage1"]["n_docs"],
        # high-water mark for id assignment: build ids are dense ranks
        # 0..n_docs-1; reindex_doc advances it per new doc so a
        # single-doc add never scans doc_stats for max(doc_id)
        # (VERDICT r3 #2; reference analog: DB autoincrement)
        "max_doc_id": metrics["stage1"]["n_docs"] - 1,
        "avgdl": metrics["stage1"]["avgdl"],
        "n_terms": metrics["stage2"]["n_terms"],
        "config": json.loads(cfg.to_json()),
        "source": source,
        "format": "searchengine_spark/v1",
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    metrics["meta"] = meta
    return metrics
