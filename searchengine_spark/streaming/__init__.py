from searchengine_spark.streaming.incremental import (  # noqa: F401
    apply_staged_updates,
    stage_corpus_stream,
    stream_corpus,
)
