package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Survey of the queries that are still written twice (DataFrame code plus
  * oracle text): runs each one's oracle text on Spark through
  * [[GQuery.sql]]'s table binding and writes the results in
  * [[Verify]]'s layout, so `tools/compare.py <sf> <out>` prints which
  * texts Spark already reproduces, i.e. which twins could be deleted.
  *
  * {{{
  * sbt "Test/runMain graft.SqlTwinSurvey /path/to/sf0.01 /tmp/survey"
  * python3 tools/compare.py /path/to/sf0.01 /tmp/survey
  * }}}
  * A text Spark cannot parse or analyze prints `[survey] <name> failed`
  * here and `no spark output` in the compare. */
object SqlTwinSurvey {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val twins = SparkEntry.all.collect {
      case (name, GQuery(fn, Some(text), _))
          if !fn.isInstanceOf[GQuery.SqlText] => name -> text
    }
    twins.foreach { case (name, text) =>
      try GQuery.run(spark, sfDir, text).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[survey] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(twins.toMap.asJava))
    println(s"[survey] ${twins.size} queries with a DataFrame twin")
    spark.stop()
  }
}
