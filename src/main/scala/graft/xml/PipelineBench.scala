package graft.xml

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Reproducible end-to-end XML-pipeline benchmark against the reference's
  * published tier (`BASELINE.md`: 100 files / ~40 MB / 240k records, 15 s
  * with validation): generates a reference-shaped corpus (attributes +
  * nested block + repeated element + business-key comment) and times
  * [[XmlPipeline.process]] on local[`SPARK_GRAFT_CPUS`], default 8 to
  * mirror the reference's 8 workers.
  *
  * Usage: `sbt "runMain graft.xml.PipelineBench [nFiles] [recordsPerFile]"`.
  * Prints one JSON line: {"files":N,"bytes":B,"records":R,"sec":S}.
  */
object PipelineBench {

  /** Deterministic reference-shaped corpus — own content, same shape the
    * reference's generator makes (R/tests + README examples): per-record
    * attributes, a nested detail block, a repeated tag, per-file comment
    * key. */
  def writeCorpus(dir: String, nFiles: Int, recordsPerFile: Int): Long = {
    var bytes = 0L
    val divisions = Seq("North", "South", "East", "West")
    (0 until nFiles).foreach { f =>
      val sb = new StringBuilder
      sb ++= "<?xml version=\"1.0\"?>\n"
      sb ++= s"<!-- Division:${divisions(f % divisions.size)} -->\n<catalog>\n"
      (0 until recordsPerFile).foreach { r =>
        val id = f * recordsPerFile + r
        val status = if (id % 3 == 0) "retired" else "active"
        sb ++= s"""  <record id="$id" status="$status">
           |    <title>Item number $id with a realistically sized name</title>
           |    <price>${(id % 997) + 0.25}</price>
           |    <detail>
           |      <total>${((id % 997) + 0.25) * (1 + id % 5)}</total>
           |      <qty>${1 + id % 5}</qty>
           |    </detail>
           |    <tag>tag${id % 11}</tag>
           |    <tag>tag${id % 7}</tag>
           |  </record>
           |""".stripMargin
      }
      sb ++= "</catalog>\n"
      val p = Paths.get(dir, f"part$f%04d.xml")
      Files.writeString(p, sb.toString)
      bytes += Files.size(p)
    }
    bytes
  }

  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(100)
    val perFile = args.lift(1).map(_.toInt).getOrElse(2400)
    // Optional 3rd arg: reuse an existing corpus dir (written by a prior
    // run with the same nFiles/perFile) — lets memory-envelope reruns at
    // a constrained -Xmx skip regenerating 5 GB of XML, and keeps the
    // generator's allocation churn out of the measured JVM's peak RSS.
    val in = args.lift(2).getOrElse(
      Files.createTempDirectory("graft_pbench_in").toString)
    val out = Files.createTempDirectory("graft_pbench_out").toString
    val schemas = Files.createTempDirectory("graft_pbench_sch").toString
    val existing: Seq[java.nio.file.Path] =
      if (args.lift(2).isEmpty) Nil
      else {
        val s = Files.list(Paths.get(in))
        try s.iterator().asScala.toVector finally s.close()
      }
    val bytes =
      if (existing.nonEmpty) existing.map(Files.size(_)).sum
      else writeCorpus(in, nFiles, perFile)

    val spark = SparkSession.builder()
      .appName("graft-pipeline-bench")
      // the reference baseline ran 8 workers
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // cold = first run in a fresh JVM (codegen + JIT + parquet-writer
    // classloading all cold); warm = steady-state cost, the number a
    // long-running ingest service actually pays per batch.
    def once(tag: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val report = XmlPipeline.process(spark, in, s"${out}_$tag", schemas,
        runId = 42L, loadTs = Timestamp.valueOf("2024-03-04 05:06:07"))
      ((System.nanoTime() - t0) / 1e9, report.rows)
    }
    val (cold, rows) = once("cold")
    val (warm, _) = once("warm")
    // Peak RSS of the whole JVM (VmHWM is monotonic), for the like-for-like
    // comparison against BASELINE.md's memory-peak rows (512 MB / 2 GB /
    // 4 GB at the 100 / 1k / 10k tiers).
    val peakMb = scala.util.Try {
      val s = Files.readString(Paths.get("/proc/self/status"))
      "VmHWM:\\s*(\\d+) kB".r.findFirstMatchIn(s).map(_.group(1).toLong / 1024)
    }.toOption.flatten.getOrElse(-1L)
    // scalastyle:off println
    println(f"""{"files":$nFiles,"bytes":$bytes,"records":$rows,"sec":$cold%.2f,"warm_sec":$warm%.2f,"peak_rss_mb":$peakMb}""")
    // scalastyle:on println
    spark.stop()
  }
}
