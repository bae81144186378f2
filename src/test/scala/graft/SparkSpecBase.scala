package graft

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite run (JVM-wide, matching
  * sbt's single forked test JVM). */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    // keep saveAsTable artifacts (BucketedJoinSpec) out of the repo dir
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    System.setProperty("derby.system.home", wh)
    val s = GraftSession
      .configure(SparkSession.builder().master("local[4]"), 4)
      .config("spark.sql.warehouse.dir", wh)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpecBase extends AnyFunSuite {
  def spark: SparkSession = SparkSpecBase.spark
  def sfDir: String = SparkSpecBase.sfDir

  /** Spark jobs `body` starts, counted by a listener on jobs tagged with a
    * local property. The bus delivers events in order, so once a second,
    * differently tagged job has ended every earlier job start was seen. */
  def jobsStarted(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val barrierIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case "count" => counted.incrementAndGet()
          case "barrier" => barrierIds.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (barrierIds.contains(e.jobId)) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "count")
      body
      sc.setLocalProperty(key, "barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus flush")
      counted.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
