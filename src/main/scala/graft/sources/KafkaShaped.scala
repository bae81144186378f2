package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka-shaped ingest (SURVEY.md §2.1 S9's "first production question"
  * slot, r9 verdict item 8): the exact wire contract of Spark's Kafka
  * source — schema, option surface, admission cap — with the connector
  * dependency isolated to ONE builder method.
  *
  * The sandbox has no kafka-connector jars (RateSource documents the
  * limitation), so the split is:
  *
  *  - [[reader]] builds the real `format("kafka")` readStream with the
  *    production option surface (bootstrap servers, subscribe,
  *    startingOffsets, maxOffsetsPerTrigger, failOnDataLoss). On a
  *    cluster with `spark-sql-kafka-0-10` on the classpath it returns
  *    the live stream; here it fails at `load()` with Spark's
  *    data-source-not-found error — the spec pins THAT failure, proving
  *    the wiring is real and the dependency is the only missing piece.
  *  - [[encode]] / [[decodeJson]] are the two adapters every Kafka
  *    pipeline writes — producer-side shaping into the wire schema and
  *    consumer-side JSON payload decode — pure column logic, identical
  *    for the real source and a MemoryStream standing in for it, and
  *    fully spec'd against the latter (the MemoryStream-semantics gate
  *    the verdict asked for).
  *
  * Scale notes: a Kafka topic's partition count bounds source
  * parallelism exactly like [[RateSource]]'s numPartitions — downstream
  * operators inherit it until the first shuffle; `maxOffsetsPerTrigger`
  * is the admission cap that keeps a backlogged topic from producing an
  * unboundedly large first micro-batch.
  */
object KafkaShaped {

  /** The Kafka source's exact output schema (Spark's kafka connector
    * contract): every adapter here produces or consumes precisely this,
    * so pipelines developed against the stand-in re-bind to the real
    * source without a plan change. */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** The real Kafka readStream, production option surface. Requires the
    * `spark-sql-kafka-0-10` connector on the classpath at deploy time;
    * without it, `load()` raises Spark's DATA_SOURCE_NOT_FOUND — fail
    * fast at build, never at first trigger. */
  def reader(
      spark: SparkSession,
      bootstrapServers: String,
      subscribe: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None,
      failOnDataLoss: Boolean = true): DataFrame = {
    require(bootstrapServers.nonEmpty, "bootstrapServers must be non-empty")
    require(subscribe.nonEmpty, "subscribe (topic list/pattern) must be non-empty")
    val b = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", subscribe)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", failOnDataLoss.toString)
    maxOffsetsPerTrigger.foldLeft(b)((b, n) =>
      b.option("maxOffsetsPerTrigger", n.toString)).load()
  }

  /** Producer-side shaping: project ANY frame (batch or streaming) into
    * [[wireSchema]]. Non-binary key/value columns serialize as UTF-8
    * bytes (the string serializer); already-binary columns (Avro/proto
    * payloads) pass through byte-identical — never through a string
    * round-trip, which would corrupt non-UTF-8 bytes;
    * `partition` follows Kafka's default-partitioner
    * SHAPE (hash of the serialized key modulo partitions — xxhash64
    * here, murmur2 on the wire, a documented stand-in: same key → same
    * partition is the property pipelines rely on, the exact hash is
    * broker-side detail); null keys round-robin via the payload hash
    * (sticky-partitioner stand-in). `offset` comes from the caller's
    * ordering column — Kafka assigns offsets broker-side, so an adapter
    * can only carry a caller-provided total order per partition;
    * `timestampType` 0 = CreateTime, matching a producer-stamped
    * timestamp column. */
  def encode(
      df: DataFrame,
      topic: String,
      keyCol: Column,
      valueCol: Column,
      tsCol: Column,
      offsetCol: Column,
      numPartitions: Int): DataFrame = {
    require(numPartitions >= 1, s"numPartitions $numPartitions must be >= 1")
    // already-binary columns (Avro/proto payloads) pass through UNTOUCHED
    // — a string round-trip would fold non-UTF-8 bytes to U+FFFD,
    // silently changing the wire payload AND its partition hash; only
    // non-binary columns take the UTF-8 string serializer
    def asBytes(c: Column): Column =
      df.select(c).schema.head.dataType match {
        case BinaryType => c
        case _ => c.cast(StringType).cast(BinaryType)
      }
    val keyBytes = asBytes(keyCol)
    val valueBytes = asBytes(valueCol)
    df.select(
      keyBytes.as("key"),
      valueBytes.as("value"),
      lit(topic).as("topic"),
      pmod(xxhash64(coalesce(keyBytes, valueBytes)), lit(numPartitions.toLong))
        .cast(IntegerType).as("partition"),
      offsetCol.cast(LongType).as("offset"),
      tsCol.cast(TimestampType).as("timestamp"),
      lit(0).as("timestampType"))
  }

  /** Consumer-side decode: the first transform every Kafka pipeline
    * writes — `value` bytes → UTF-8 string → `from_json(schema)`,
    * exploded to columns, with the wire metadata (key, topic, partition,
    * offset, timestamp) carried alongside for offset bookkeeping and
    * event-time watermarks. Two flags separate the three null-ish
    * cases that `payload.*` alone cannot distinguish from a parsed
    * `{"user":null}`:
    *
    *  - `tombstone` — `value IS NULL`, the compacted-topic delete
    *    marker: NOT corrupt (routing deletes to a dead-letter sink
    *    would be wrong), but nothing was parsed either;
    *  - `corrupt` — the parser's corrupt-record channel fired
    *    (`columnNameOfCorruptRecord`) OR a NON-null value produced no
    *    struct (empty/whitespace input, which Spark nulls without
    *    populating the corrupt record). Route these to a dead-letter
    *    sink, don't silently lose them.
    *
    * The wire metadata names (key/topic/partition/offset/timestamp)
    * plus the two flags are reserved — a payload field with one of
    * those names would produce ambiguous output columns, so it fails
    * fast here. */
  def decodeJson(wire: DataFrame, payloadSchema: StructType): DataFrame = {
    val reserved = Set("key", "topic", "partition", "offset", "timestamp",
      "tombstone", "corrupt", "_corrupt_record")
    val clash = payloadSchema.fieldNames.filter(reserved)
    require(clash.isEmpty,
      s"payloadSchema fields [${clash.mkString(", ")}] collide with decodeJson's " +
        "wire/flag columns — rename them in the schema (and upstream producer)")
    val withCorrupt = payloadSchema.add(StructField("_corrupt_record", StringType))
    wire.select(
      col("key"), col("value"), col("topic"), col("partition"), col("offset"),
      col("timestamp"),
      from_json(col("value").cast(StringType), withCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("payload"))
      .select(Seq(
        col("key"), col("topic"), col("partition"), col("offset"),
        col("timestamp"),
        col("value").isNull.as("tombstone"),
        (col("value").isNotNull &&
          (col("payload._corrupt_record").isNotNull || col("payload").isNull))
          .as("corrupt")) ++
        payloadSchema.fieldNames.toSeq.map(f => col(s"payload.`$f`").as(f)): _*)
  }
}
