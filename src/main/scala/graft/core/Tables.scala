package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._

/** Loaders for the ten driver-generated test tables (TESTDATA.md / FIXTURES.md).
  *
  * All timestamps in the corpus are timezone-naive; orders/lineitem read
  * natively as TIMESTAMP_NTZ. `events.ts` has shipped in two generations of
  * the driver's testdata: parquet TIMESTAMP(NANOS), which Spark reads (under
  * `nanosAsLong`) as a nanos LongType and we floor-divide to micros — the
  * same truncation DuckDB applies when reading nanos into its microsecond
  * TIMESTAMP — and (round 10+) native TIMESTAMP(MICROS), which already
  * arrives as TIMESTAMP_NTZ. The loader dispatches on the OBSERVED type, so
  * both generations produce byte-identical TIMESTAMP_NTZ instants.
  *
  * [[load]] hands Spark the schema its inference would produce, read from
  * the table file's footer on the driver with Spark's own footer reader
  * and conversion (`FooterSchema`), so a load plans without the one-task
  * schema-inference job Spark otherwise launches per read. A directory
  * path (a partitioned or multi-file layout) and a session with
  * `spark.sql.parquet.mergeSchema` on keep Spark's inference. Either way
  * the driver reads one footer at most, whatever the table's size.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Read-path requirement for events.parquet (TIMESTAMP(NANOS)); a runtime
    // SQLConf, safe to set idempotently.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = FooterSchema.of(spark, path)
      .fold(spark.read)(spark.read.schema)
      .parquet(path)
    name match {
      case "events" =>
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) gen
            df.withColumn("ts",
              expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
          case _ => // TIMESTAMP(MICROS) gen — already an NTZ instant
            df.withColumn("ts", col("ts").cast("timestamp_ntz"))
        }
      case _ => df
    }
  }

  /** Register all tables as temp views (used by tests and SQL-level checks). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
