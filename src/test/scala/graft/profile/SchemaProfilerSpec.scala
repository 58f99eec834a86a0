package graft.profile

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[SchemaProfiler.profileApprox]]'s long form against the same metrics
  * computed one column at a time. */
class SchemaProfilerSpec extends SparkSpec {

  // 300 rows: NULLs, an all-NULL column, a numeric (int) column, a column
  // past HLL's exact range, and names that need quoting
  private lazy val df = {
    val rows = (0 until 300).map { i =>
      Row(
        s"r$i",
        if (i % 7 == 0) null else s"cat${i % 4}",
        if (i % 5 == 0) null else (i * 0.25).toString,
        if (i % 11 == 0) "x" else s"tag-$i",
        null,
        i % 9,
        if (i % 3 == 0) null else s"free text ${i * 37 % 251}")
    }
    val schema = StructType(Seq(
      StructField("record_id", StringType),
      StructField("category", StringType),
      StructField("amount", StringType),
      StructField("tag.1", StringType),
      StructField("empty", StringType),
      StructField("n", IntegerType),
      StructField("a b", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }
  private val cols = Seq("record_id", "category", "amount", "tag.1",
    "empty", "n", "a b")

  test("profileApprox: every column's row equals its one-column " +
    "computation") {
    import spark.implicits._
    val got = SchemaProfiler.profileApprox(df, cols).collect()
      .map(_.toSeq).toSeq.sortBy(_.head.toString)

    // one column at a time: the counts, its HLL estimate, sum(length)
    val metrics = cols.map { c =>
      val v = col(s"`$c`").cast("string")
      val r = df.agg(count(lit(1)), count(v),
        count(v.try_cast("double")), approx_count_distinct(v, 0.05),
        sum(length(v))).head()
      val (n, nn, num, uniq) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val len = if (r.isNullAt(4)) None else Some(r.getLong(4))
      val perNonNull = (x: Long) =>
        if (nn == 0) None else Some(x.toDouble / nn)
      (c, n, (n - nn).toDouble / n, perNonNull(num), uniq,
        len.flatMap(perNonNull))
    }
    // the roles from the same cascade, over those metrics
    val want = metrics.toDF("col_name", "n_rows", "null_ratio",
      "numeric_ratio", "unique_count", "mean_length")
      .select(col("*"),
        SchemaProfiler.classify(col("col_name"), col("numeric_ratio"),
          col("unique_count"), col("n_rows")).as("classification"),
        SchemaProfiler.logicalType(col("numeric_ratio"), col("mean_length"))
          .as("data_type"))
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(got == want)

    // the fixture reaches the cases it names
    val byName = got.map(r => r.head -> r).toMap
    assert(byName("empty")(2) == 1.0 && byName("empty")(3) == null)
    assert(byName("n")(3) == 1.0)
    assert(byName("a b")(4).asInstanceOf[Long] > 150L)
  }

  test("profileApprox: an empty input gives no rows") {
    assert(SchemaProfiler.profileApprox(df.limit(0), cols).isEmpty)
    assert(SchemaProfiler.profileApprox(df.filter(col("n") > 100), cols)
      .collect().isEmpty)
  }
}
