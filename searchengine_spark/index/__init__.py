from searchengine_spark.index.builder import assign_doc_ids, build_index
from searchengine_spark.index.format import DOC_STATS_SCHEMA, POSTING_RUN_SCHEMA

__all__ = [
    "build_index",
    "assign_doc_ids",
    "POSTING_RUN_SCHEMA",
    "DOC_STATS_SCHEMA",
]
