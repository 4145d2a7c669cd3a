"""Streaming source builders behind one interface (SURVEY §2.1 S1/S2).

The reference hard-codes a Kafka source
(`src/jobs/spark_streaming_job.py:51-59`); here Kafka and file-replay
sources share a builder so pipelines are source-agnostic:

- kafka:  production ingestion (same options as the reference —
  subscribe, startingOffsets, failOnDataLoss);
- files:  deterministic replay of parquet/json drops — the test- and
  backfill-time twin of the Kafka feed (maxFilesPerTrigger paces
  micro-batches).

The reference's HTTP poller (S1, `src/ingestion/producer.py:26-76`)
is a NATIVE source here: `http_poll_stream` (backed by the Python
DataSource API, `sources/http_poll.py`) polls a JSON endpoint once
per micro-batch with real offsets/checkpointing; `json_feed_to_stream`
decodes the same payload shape from any of the sources above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from real_time_data_pipeline_spark.operators.normalize import decode_json_col


def kafka_connector_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector is on the JVM classpath.

    pyspark does not bundle the Kafka connector (it ships as the
    separate spark-sql-kafka-0-10 package), so in this sandbox a live
    consume is structurally impossible for TWO reasons — no broker
    can exist AND the source class is absent. This probe makes the
    environment gate truthful and self-updating, exactly like
    `sinks.delta_available`: the moment a deployment puts the
    connector jar on the classpath, gated tests run the real path.

    Resolution goes through Spark's own source registry
    (``DataSource.lookupDataSource``), not ``java.lang.Class.forName``:
    forName from Py4J consults the gateway/system classloader, which
    cannot see jars added at runtime (``spark.jars`` on a live JVM,
    ``sparkContext.addJar``) — those land in Spark's mutable URL
    classloader, so a forName probe would report "absent" on exactly
    the deployments this gate exists to unlock. lookupDataSource uses
    the same classloader ``format("kafka")`` resolves with, so the
    probe answer and the real load agree by construction. The
    ``Utils.classForName`` fallback (context-or-Spark classloader)
    covers lookupDataSource signature drift across Spark versions.
    """
    try:
        # `_jvm` access itself can raise (Spark Connect sessions have
        # no JVM handle) — that must degrade to "absent", not crash
        # the gate.
        jvm = spark._jvm
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "kafka", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception as exc:
        # Only a clean "failed to find the source" means absent; any
        # other failure (API drift) falls through to the classloader
        # probe so we never report absent on a reflection error.
        if "kafka" in str(exc).lower() or "ClassNotFound" in str(exc):
            return False
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider", False, False
        )
        return True
    except Exception:
        return False


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
    max_offsets_per_trigger: int | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """Kafka streaming source (value as binary; decode downstream).

    Scale knobs: ``max_offsets_per_trigger`` caps records per
    micro-batch so a backlogged topic cannot produce an unbounded
    first batch (the classic restart-after-outage OOM);
    ``min_partitions`` fans a few hot Kafka partitions out to more
    Spark tasks than the topic has partitions.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    if min_partitions is not None:
        reader = reader.option("minPartitions", str(min_partitions))
    return reader.load()


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-drop streaming source with paced micro-batches."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def http_poll_stream(
    spark: SparkSession, url: str, timeout_sec: float = 10.0
) -> DataFrame:
    """Native HTTP-poll streaming source (reference S1 as a real
    `readStream` format — see sources/http_poll.py for semantics and
    the driver-side-read scale caveat). One GET per micro-batch;
    rows are (poll_seq, fetched_at, payload)."""
    from real_time_data_pipeline_spark.sources.http_poll import register_http_poll

    register_http_poll(spark)
    return (
        spark.readStream.format("http_poll")
        .option("url", url)
        .option("timeout", str(timeout_sec))
        .load()
    )


def decode_kafka_json(raw: DataFrame, schema: StructType) -> DataFrame:
    """Kafka binary value → typed columns (reference P1+P2:
    CAST(value AS STRING) then from_json against the declared schema,
    flattened)."""
    with_str = raw.select(F.col("value").cast("string").alias("json_str"))
    return decode_json_col(with_str, "json_str", schema)
