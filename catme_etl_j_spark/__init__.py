"""catme_etl_j_spark — a PySpark-native analytics/ETL engine.

A from-scratch rebuild of the capabilities of the reference
``waldfalke/catme-etl-j`` (an XLSX -> NDJSON/CSV/JSON streaming
converter; see SURVEY.md), re-expressed Spark-first, plus the
relational and LLM-data-pipeline operator surface a 100 TB training
corpus pipeline needs (dedup, similarity search, text analysis,
multimodal columns, streaming).

Layout:
    session      SparkSession factory tuned for local testing, scale-ready configs
    sources      table loaders (the XLSX reader lives in converter)
    converter    reference-parity convert() API and sinks (NDJSON / chunked CSV / JSON array)
    operators    relational, dedup, similarity, text, as-of, multimodal operators
    functions    deterministic numeric column helpers (rdet, DECIMAL money sums)
    streaming    event file source + the one memory-sink drain of the stream_* queries
"""

__version__ = "0.1.0"

from catme_etl_j_spark.session import get_spark  # noqa: F401


def __getattr__(name):
    # Lazy public API: importing the package stays cheap (no pyspark
    # submodule import cascade) while the headline surfaces remain one
    # attribute away.
    if name == "CorpusPipeline":
        from catme_etl_j_spark.pipelines import CorpusPipeline

        return CorpusPipeline
    if name == "convert":
        from catme_etl_j_spark.converter import convert

        return convert
    raise AttributeError(name)
