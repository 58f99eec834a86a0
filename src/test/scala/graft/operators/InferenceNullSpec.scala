package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{GQuery, SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** NULL inputs the DataFrame twin must read as its oracle text does: the
  * text, unchanged, runs on Spark through `GQuery.run` over a copy of the
  * sf0.001 events with a few NULL-bearing rows added. */
class InferenceNullSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** A copy of the sf0.001 events with `extra(old)`'s rows appended, in a
    * fresh directory. `old` is the file as stored (`ts` a nanos long). */
  private def eventsWith(extra: DataFrame => DataFrame): String = {
    val d = Files.createTempDirectory("graft_nulls").toString
    val old = spark.read.parquet(s"$sf/events.parquet")
    val staging = Files.createTempDirectory("graft_nulls_w").toString
    old.unionByName(extra(old)).coalesce(1).write.parquet(s"$staging/t")
    val part = new java.io.File(s"$staging/t").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$d/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    d
  }

  /** The query's rows from its DataFrame code and from its oracle text,
    * columns in name order. */
  private def bothWays(name: String, d: String)
      : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    def rows(df: DataFrame) = {
      val cols = df.columns.sorted
      df.select(cols.map(c => col(s"`$c`")): _*).collect().map(_.toSeq).toSeq
    }
    (rows(SparkEntry.queries(name)(spark, d)),
      rows(GQuery.run(spark, d, SparkEntry.oracleSql(name))))
  }

  test("q_odds_ratio: a user whose events all have a NULL event_type is " +
    "not converted, as in its oracle text") {
    val d = eventsWith { old =>
      val top = old.agg(max($"user_id")).head().get(0).toString.toLong
      val odd = top / 2 * 2 + 3 // a new treated user (odd id)
      old.limit(3)
        .withColumn("user_id", lit(odd).cast(old.schema("user_id").dataType))
        .withColumn("event_type", lit(null).cast("string"))
    }
    val (df, text) = bothWays("q_odds_ratio", d)
    assert(df == text)
    // the new user is one more treated non-converter: cell b
    val b = SparkEntry.queries("q_odds_ratio")(spark, d).select("b")
      .as[Long].head()
    val b0 = SparkEntry.queries("q_odds_ratio")(spark, sf).select("b")
      .as[Long].head()
    assert(b == b0 + 1)
  }

  test("q_negbin_fit: a NULL user_id is not a user, as in its oracle text") {
    val d = eventsWith { old =>
      old.limit(3)
        .withColumn("user_id", lit(null).cast(old.schema("user_id").dataType))
    }
    val (df, text) = bothWays("q_negbin_fit", d)
    assert(df == text)
  }

  test("negbinReadout counts distinct non-null user ids") {
    // 15 users, each with a click; a NULL user with two
    val counts = ((1 to 15).map(u => ("click", Option(u.toLong), 1L)) :+
      (("click", Option.empty[Long], 2L)))
      .toDF("event_type", "user_id", "x")
    assert(Inference.negbinReadout(counts).select("n_users").as[Long]
      .collect().toSeq == Seq(15L))
  }
}
