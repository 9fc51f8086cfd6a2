"""One-shot search without a persisted index.

Runs the full M1 pipeline (real analyzer UDF -> postings -> BM25/Σtf ->
top-k) as a single Spark job over a corpus DataFrame.  Used by the
driver smoke entry and for ad-hoc queries; the persisted-index path
(index.builder + query.engine) is the production one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from searchengine_spark.analyzer import term_frequencies
from searchengine_spark.config import IndexConfig
from searchengine_spark.index.builder import assign_doc_ids
from searchengine_spark.plans.planner import analyze_query, bm25_idf

ANALYZED_SCHEMA = "doc_id long, term string, tf int, dl int, repo string"


def _analyze_partitions(iterator):
    """mapInPandas kernel: (doc_id, repo, content) -> postings rows
    ``(doc_id, term, tf, dl, repo)``.

    Vectorized end-to-end (searchengine_spark.analyzer); doclen = Σtf is
    computed in-batch because each document is exactly one input row.
    A doc without terms emits no row."""
    import pandas as pd  # local import: runs on executors

    for pdf in iterator:
        tf = term_frequencies(pdf["doc_id"], pdf["content"])
        tf["dl"] = tf.groupby("doc_id", sort=False)["tf"].transform("sum").astype("int32")
        repo_map = pd.Series(pdf["repo"].values, index=pdf["doc_id"].values)
        tf["repo"] = tf["doc_id"].map(repo_map)
        yield tf[["doc_id", "term", "tf", "dl", "repo"]]


def corpus_postings(docs: DataFrame) -> DataFrame:
    """corpus (repo, path, commit, lang, content) -> flat postings
    (doc_id, term, tf, dl, repo) with deterministic doc ids."""
    with_ids = assign_doc_ids(docs)
    return with_ids.select("doc_id", "repo", "content").mapInPandas(
        _analyze_partitions, schema=ANALYZED_SCHEMA
    )


def inline_search_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    mode: str = "or",
    cfg: IndexConfig = IndexConfig(),
) -> DataFrame:
    """Top-k (doc_id, repo, bm25, tf_sum) for ``query`` over ``docs``.

    Two narrow aggregations + one broadcast join; Catalyst handles
    pushdown/pruning.  BM25 statistics (N, avgdl) are computed over
    docs that produced at least one term.
    """
    spark = docs.sparkSession
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, repo string, bm25 double, tf_sum long")
    # persisted because it is scanned three times (stats, df lookup,
    # scoring); deliberately NOT unpersisted before return — the caller
    # collects the returned DataFrame, which still reads it.  Spark
    # evicts LRU; for repeated ad-hoc queries build a real index instead.
    postings = corpus_postings(docs).persist()
    stats = postings.select("doc_id", "dl").distinct().agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 1.0)
    dfs = {
        r["term"]: int(r["df"])
        for r in postings.where(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    }
    live = [t for t in terms if t in dfs]
    if not live or (mode == "and" and len(live) < len(terms)):
        return spark.createDataFrame([], "doc_id long, repo string, bm25 double, tf_sum long")
    idf_df = spark.createDataFrame(
        [(t, bm25_idf(dfs[t], n_docs)) for t in live], "term string, idf double"
    )
    k1, b = cfg.bm25_k1, cfg.bm25_b
    scored = (
        postings.where(F.col("term").isin(live))
        .join(F.broadcast(idf_df), "term")
        .withColumn(
            "contrib",
            F.col("idf") * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
        )
    )
    agg = scored.groupBy("doc_id", "repo").agg(
        F.sum("contrib").alias("bm25"),
        F.sum("tf").cast("long").alias("tf_sum"),
        F.count("*").alias("n_matched"),
    )
    if mode == "and":
        agg = agg.where(F.col("n_matched") == len(live))
    return (
        agg.select("doc_id", "repo", F.col("bm25"), "tf_sum")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )
