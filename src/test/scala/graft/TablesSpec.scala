package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.TimestampType

/** `Tables.load`'s relation memo: one footer job per (session, root,
  * root stamp), a fresh DataFrame with fresh attribute ids per call, and
  * a re-resolve after the table changes on disk. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String =
    Files.createTempDirectory("graft_tables").toString

  private def orders(keys: Seq[Long]): DataFrame =
    keys.map(k => (k, k % 3, 10.0 * k))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")

  /** Writes `df` as the single-file table root `dir/name.parquet`, the
    * layout of the testdata tables. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = tempDir()
    df.coalesce(1).write.mode("overwrite").parquet(s"$staging/t")
    val part = new java.io.File(s"$staging/t").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  private def keys(df: DataFrame): Seq[Long] =
    df.select("o_orderkey").as[Long].collect().toSeq.sorted

  test("a repeated load of the same table launches no Spark job") {
    val d = tempDir()
    writeFile(orders(1L to 20L), d, "orders")
    val first = countJobs(Tables.load(spark, d, "orders").schema)
    val again = countJobs(Tables.load(spark, d, "orders").schema)
    assert(first >= 1, "the first load reads the footers in a Spark job")
    assert(again == 0, s"$again Spark jobs on a repeated load")
  }

  test("a self-join of two loads matches two uncached reads") {
    val d = tempDir()
    writeFile(orders((1L to 30L) ++ (1L to 10L)), d, "orders")
    val a = Tables.load(spark, d, "orders")
    val b = Tables.load(spark, d, "orders")
    val idsA = a.queryExecution.analyzed.output.map(_.exprId).toSet
    val idsB = b.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(idsA.intersect(idsB).isEmpty,
      "each load needs fresh attribute ids")

    def selfJoin(x: DataFrame, y: DataFrame): Seq[Row] =
      x.join(y, x("o_orderkey") === y("o_orderkey"))
        .select(x("o_orderkey"), x("o_custkey"), y("o_totalprice"))
        .collect().toSeq
        .sortBy(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val path = s"$d/orders.parquet"
    val expected =
      selfJoin(spark.read.parquet(path), spark.read.parquet(path))
    assert(expected.length == 20 * 1 + 10 * 4) // keys 1..10 appear twice
    assert(selfJoin(a, b) == expected)
  }

  test("a rewritten or appended table is re-resolved") {
    // single-file root: a replaced file changes the root's length/mtime;
    // the new column shows the schema was read again
    val f = tempDir()
    writeFile(orders(1L to 3L), f, "orders")
    assert(keys(Tables.load(spark, f, "orders")) == (1L to 3L))
    writeFile(orders(1L to 50L).withColumn("o_comment", $"o_orderkey" * 2),
      f, "orders")
    val replaced = Tables.load(spark, f, "orders")
    assert(keys(replaced) == (1L to 50L))
    assert(replaced.select("o_comment").as[Long].collect().sorted.toSeq ==
      (2L to 100L by 2))

    // directory root: every Spark write changes the root's entries
    val d = tempDir()
    val root = s"$d/orders.parquet"
    orders(1L to 3L).write.parquet(root)
    assert(keys(Tables.load(spark, d, "orders")) == (1L to 3L))
    orders(4L to 5L).write.mode("overwrite").parquet(root)
    assert(keys(Tables.load(spark, d, "orders")) == (4L to 5L))
    orders(6L to 7L).write.mode("append").parquet(root)
    assert(keys(Tables.load(spark, d, "orders")) == (4L to 7L))
  }

  test("a new session gets a relation bound to itself") {
    val d = tempDir()
    writeFile(orders(1L to 5L), d, "orders")
    val s2: SparkSession = spark.newSession()
    val r1 = relationOf(Tables.load(spark, d, "orders"))
    val r2 = relationOf(Tables.load(s2, d, "orders"))
    assert(r1.sparkSession eq spark)
    assert(r2.sparkSession eq s2)
    assert(relationOf(Tables.load(s2, d, "orders")) eq r2)
    assert(keys(Tables.load(s2, d, "orders")) == (1L to 5L))
  }

  test("events.ts is a TimestampType on every load") {
    val d = tempDir()
    // TIMESTAMP_NTZ is written as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    Seq((1L, java.time.LocalDateTime.parse("2024-03-01T12:34:56.789")))
      .toDF("event_id", "ts")
      .write.parquet(s"$d/events.parquet")
    (1 to 2).foreach { _ =>
      val e = Tables.load(spark, d, "events")
      assert(e.schema("ts").dataType == TimestampType)
      assert(e.select("ts").as[java.sql.Timestamp].head() ==
        java.sql.Timestamp.from(
          java.time.Instant.parse("2024-03-01T12:34:56.789Z")))
    }
  }
}
