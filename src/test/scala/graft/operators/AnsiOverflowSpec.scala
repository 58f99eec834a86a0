package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}

/** The milli-unit LONG sums of q_mmd and the q_pca scatter are exact only
  * on unit-scale embeddings (Similarity's input-domain note). Off that
  * domain they must fail loudly: graft sessions run Spark's ANSI mode,
  * where a BIGINT sum past 2^63 throws ARITHMETIC_OVERFLOW, so a wrapped
  * (wrong) value can never come back. */
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

  private def assertOverflows(query: String): Unit = {
    val err = intercept[Exception] {
      SparkEntry.queries(query)(spark, dir).collect()
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
    assert(messages.exists(_.contains("ARITHMETIC_OVERFLOW")), err.toString)
  }

  test("q_mmd throws ARITHMETIC_OVERFLOW on out-of-domain embeddings") {
    assertOverflows("q_mmd")
  }

  test("the q_pca scatter throws ARITHMETIC_OVERFLOW on out-of-domain " +
    "embeddings") {
    assertOverflows("q_pca_power")
  }
}
