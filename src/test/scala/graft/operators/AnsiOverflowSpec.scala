package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}

/** The milli-unit LONG sums of q_mmd and the q_pca scatter are exact only
  * on unit-scale embeddings (Similarity's input-domain note). Off that
  * domain they must fail loudly: graft sessions run Spark's ANSI mode,
  * where a BIGINT sum past 2^63 throws ARITHMETIC_OVERFLOW, so a wrapped
  * (wrong) value can never come back. The same mode makes a double
  * division by zero throw DIVIDE_BY_ZERO, which q_anomaly_days' nullif
  * guard turns into NULL scores on a zero MAD. */
class AnsiOverflowSpec extends SparkSpec {
  import spark.implicits._

  /** Four 64-dim vectors of 3e6 per coordinate: one milli-frozen product
    * is 9e18 (< 2^63), and the two vectors of each q_mmd half sum past
    * 2^63. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_overflow").toString
    (0L until 4L).map(v => (v, Array.fill(64)(3.0e6f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  private def assertThrows(error: String)(f: => Unit): Unit = {
    val err = intercept[Exception](f)
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
    assert(messages.exists(_.contains(error)), err.toString)
  }

  private def assertOverflows(query: String): Unit =
    assertThrows("ARITHMETIC_OVERFLOW") {
      SparkEntry.queries(query)(spark, dir).collect()
    }

  test("q_mmd throws ARITHMETIC_OVERFLOW on out-of-domain embeddings") {
    assertOverflows("q_mmd")
  }

  test("the q_pca scatter throws ARITHMETIC_OVERFLOW on out-of-domain " +
    "embeddings") {
    assertOverflows("q_pca_power")
  }

  test("a double division by zero throws DIVIDE_BY_ZERO") {
    assertThrows("DIVIDE_BY_ZERO")(spark.sql("SELECT 1.0D / 0").collect())
  }

  test("q_anomaly_days scores a zero MAD as NULL instead of throwing") {
    // three days of two events each: median 2, every deviation 0
    val d = Files.createTempDirectory("graft_zero_mad").toString
    Seq("2024-03-01", "2024-03-02", "2024-03-03")
      .flatMap(day => Seq(s"$day 08:00:00", s"$day 17:30:00"))
      .zipWithIndex
      .map { case (ts, i) => (i.toLong, java.sql.Timestamp.valueOf(ts)) }
      .toDF("event_id", "ts")
      .write.parquet(s"$d/events.parquet")
    val rows = SparkEntry.queries("q_anomaly_days")(spark, d).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_events") == 2L)
      assert(r.isNullAt(r.fieldIndex("score")), r.toString)
      assert(r.isNullAt(r.fieldIndex("is_anomaly")), r.toString)
    }
  }
}
