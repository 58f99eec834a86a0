package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (forked test JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started while `f` runs. */
  protected def countJobs(f: => Unit): Int = {
    val jobCount = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    }
    // listener events are async — wait until the count is stable
    def quiesce(): Int = {
      var last = -1
      var cur = jobCount.get
      var spins = 0
      while (cur != last && spins < 50) {
        last = cur; Thread.sleep(200); cur = jobCount.get; spins += 1
      }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try { quiesce(); jobCount.set(0); f; quiesce() }
    finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    // keep saveAsTable/bucketed-table outputs out of the repo working dir
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()
  session.sparkContext.setLogLevel("WARN")
}
