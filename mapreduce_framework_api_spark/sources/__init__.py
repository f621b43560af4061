from mapreduce_framework_api_spark.sources.readers import (
    TABLES,
    fixture_fingerprint,
    memoize,
    parallelized,
    parquet_rows,
    peek_artifact,
    seed_artifact,
    session_artifact,
    session_cache_key,
    table,
)

__all__ = ["table", "TABLES", "parallelized", "session_cache_key", "fixture_fingerprint",
           "session_artifact", "memoize", "peek_artifact", "seed_artifact", "parquet_rows"]
