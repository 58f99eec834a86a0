package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row

/** q_lineage stamps each row with the file it was read from. Its oracle is
  * the constant `'lineitem.parquet'` (the testdata table is one file), so
  * only a multi-file table shows whether the stamping is real. */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  test("q_lineage counts rows per part file of a multi-file table") {
    val d = Files.createTempDirectory("graft_lineage").toString
    val root = s"$d/lineitem.parquet"
    Seq(1L, 2L, 3L).toDF("l_orderkey").coalesce(1)
      .write.parquet(root)
    Seq(4L, 5L).toDF("l_orderkey").coalesce(1)
      .write.mode("append").parquet(root)
    val parts = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 2)
    val expected = parts.map { f =>
      Row(f.getName, spark.read.parquet(f.getPath).count())
    }.sortBy(_.getString(0)).toSeq
    val got = SparkEntry.queries("q_lineage")(spark, d).collect().toSeq
    assert(got == expected)
    assert(got.map(_.getLong(1)).sorted == Seq(2L, 3L))
  }
}
