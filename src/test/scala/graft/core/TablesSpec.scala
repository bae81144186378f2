package graft.core

import graft.SparkSpecBase
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types.{StructType, TimestampNTZType}

/** [[Tables.load]] plans on the schema Spark's inference would give the
  * table file, read from its footer on the driver: the same schema, the
  * same `events.ts` dispatch and no Spark job. A directory path and a
  * session with `spark.sql.parquet.mergeSchema` on keep Spark's
  * inference. */
class TablesSpec extends SparkSpecBase {

  private def path(dir: String, table: String) = s"$dir/$table.parquet"

  /** Spark's own inference of `table`, on the session's settings. */
  private def inferred(dir: String, table: String): StructType =
    spark.read.parquet(path(dir, table)).schema

  /** `events.ts` as [[Tables.load]] delivers it: TIMESTAMP_NTZ, whichever
    * type the file's `ts` reads as. */
  private def loaded(table: String, raw: StructType): StructType =
    if (table != "events") raw
    else StructType(raw.map(f => if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f))

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every table's footer schema is the schema Spark infers for it") {
    for (t <- Tables.all) {
      val raw = inferred(sfDir, t)
      assert(FooterSchema.of(spark, path(sfDir, t)) === Some(raw), t)
      assert(Tables.load(spark, sfDir, t).schema === loaded(t, raw), t)
    }
  }

  test("the footer schema follows the session's parquet read settings as Spark's inference does") {
    // inferTimestampNTZ off turns events.ts (and the orders/lineitem
    // timestamps) into LTZ; nanosAsLong decides how a TIMESTAMP(NANOS) reads
    for ((key, value) <- Seq(
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
        "spark.sql.legacy.parquet.nanosAsLong" -> "false",
        "spark.sql.parquet.binaryAsString" -> "true"))
      withConf(key, value) {
        for (t <- Tables.all)
          assert(FooterSchema.of(spark, path(sfDir, t)) === Some(inferred(sfDir, t)), s"$t, $key=$value")
      }
  }

  test("loading a table starts no Spark job; Spark's own inference starts one") {
    assert(jobsStarted(Tables.all.foreach(Tables.load(spark, sfDir, _))) === 0)
    assert(jobsStarted(spark.read.parquet(path(sfDir, "events"))) >= 1)
  }

  test("a directory path keeps Spark's inference") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Tables.load(spark, sfDir, "nation").write.parquet(path(dir, "nation"))
    assert(FooterSchema.of(spark, path(dir, "nation")) === None)
    assert(Tables.load(spark, dir, "nation").schema === inferred(dir, "nation"))
    assert(jobsStarted(Tables.load(spark, dir, "nation")) >= 1)
  }

  test("a session with mergeSchema on keeps Spark's inference") {
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(FooterSchema.of(spark, path(sfDir, "lineitem")) === None)
      assert(Tables.load(spark, sfDir, "lineitem").schema === inferred(sfDir, "lineitem"))
      assert(jobsStarted(Tables.load(spark, sfDir, "lineitem")) >= 1)
    }
  }

  test("a missing table fails the way Spark's read does") {
    assert(FooterSchema.of(spark, path(sfDir, "no_such_table")) === None)
    intercept[AnalysisException](Tables.load(spark, sfDir, "no_such_table"))
  }
}
