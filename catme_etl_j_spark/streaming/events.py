"""Structured Streaming slice over the events table (SURVEY.md §7.6).

The reference is single-pass batch with no streaming analog
(SURVEY.md §2.4); this module is the North-Star extension. It holds
the two pieces every oracle-checked ``stream_*`` query in
operators/streamq.py is built from: the file-based event source
(``read_event_stream``) and the one memory-sink drain
(``drain_to_memory``). The queries hash-match batch DuckDB SQL, so
stream/batch semantic parity is on the oracle gate itself.

Scale notes: watermarks bound state (late data beyond 10 min is
dropped); ``dropDuplicatesWithinWatermark`` keeps the dedup state
window-bounded; aggregations run as incremental stateful operators
sharded by group key across executors.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

WATERMARK = "10 minutes"

_seq = itertools.count()


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    glob: str | None = None,
) -> DataFrame:
    """File-based streaming source over events parquet files.

    ``path`` must be a directory (streaming-source requirement); pass
    ``glob`` to restrict to matching files within it.

    Streaming sources require an explicit schema, but the driver has
    shipped events.parquet with two different physical ts encodings
    across rounds (TIMESTAMP(NANOS) → long, TIMESTAMP(MICROS) → ntz),
    so the schema is inferred from a one-file batch read of the same
    path (footer-only, no data scan) and ts is normalized to
    TimestampType exactly as the batch loader does (tables._normalize_ts).
    """
    from pyspark.sql import types as T
    from pyspark.sql.utils import AnalysisException

    from catme_etl_j_spark.sources.tables import _normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read
    if glob:
        batch = batch.option("pathGlobFilter", glob)
    try:
        schema = batch.parquet(path).schema
    except AnalysisException:
        # Directory exists but holds no matching files yet (producer
        # drops them after the stream starts — the normal file-stream
        # deployment). Fall back to the static schema of the current
        # driver encoding (timestamp[us] -> TIMESTAMP_NTZ); the
        # normalizer handles it identically.
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return _normalize_ts(reader.parquet(path))


def drain_to_memory(
    stream: DataFrame, output_mode: str, checkpoint_dir: str | None = None
) -> tuple[DataFrame, StreamingQuery]:
    """Drain a streaming frame over its finite input (availableNow
    trigger) into a fresh in-memory table.

    Returns the sink's snapshot frame and the stopped query, whose
    ``recentProgress`` stays readable (per-batch input rows, state
    operator metrics). With ``checkpoint_dir`` a later drain of the
    same plan resumes from the committed offsets and state.
    """
    name = f"catme_stream_{next(_seq)}"  # fresh sink per invocation
    writer = stream.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.processAllAvailable()
    q.stop()
    return stream.sparkSession.table(name), q
