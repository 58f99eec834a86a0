package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.xml.XmlPipeline
import org.apache.spark.sql.SparkSession

/** `ingest`: one op is `XmlPipeline.process` with validation over the
  * whole corpus into a fresh output directory; every op is the same job
  * (run id 1, one load timestamp).
  *
  * A traced op runs the same call while [[Tracer.sampled]] watches the
  * client thread's stack, so the layers are charged inside graft's own run
  * without a copy of it (see [[IngestLayers]]). */
final class Ingest(p: Map[String, String]) extends Workload {
  private val work = p("work")
  private val inputDir = p("corpus")
  private val schemaDir = p("schemas")
  private val validRecords = p("valid_records").toLong
  private val invalidFiles = p("invalid_files").toInt
  val inputBytes: Long = p("op_input_bytes").toLong
  private val loadTs = Timestamp.valueOf("2024-03-04 05:06:07")
  private lazy val layers = new IngestLayers(p("pipeline_source"))

  def setup(spark: SparkSession): Unit = ()

  def op(spark: SparkSession, index: Int, tr: Option[Tracer]): OpResult = {
    val outDir = s"$work/out/op$index"
    val t0 = System.nanoTime()
    def run() = XmlPipeline.process(spark, inputDir, outDir, schemaDir,
      runId = 1L, loadTs = loadTs)
    val report = tr.fold(run())(t =>
      Tracer.sampled(t, IngestLayers.PeriodMs, layers.of)(run()))
    val wall = (System.nanoTime() - t0) / 1e9
    OpResult(wall, Seq(wall), () => check(spark, report, outDir))
  }

  /** The ground-truth checks: every valid record lands once, every planted
    * invalid file is skipped, the star is referentially intact, the fact
    * contract passes, and the fact read back from disk has the rows. */
  private def check(spark: SparkSession, r: XmlPipeline.PipelineReport,
      outDir: String): (Seq[String], Map[String, Double]) = {
    val errs = Seq.newBuilder[String]
    if (r.rows != validRecords) errs += s"fact rows ${r.rows} != $validRecords"
    if (r.filesSkipped != invalidFiles)
      errs += s"skipped ${r.filesSkipped} files != $invalidFiles"
    if (r.violations.nonEmpty) errs += s"integrity: ${r.violations}"
    if (r.contract.isEmpty || r.contract.exists(!_._4))
      errs += s"fact contract: ${r.contract}"
    val factPath = s"$outDir/fact_main.parquet"
    val onDisk = spark.read.parquet(factPath).count()
    if (onDisk != validRecords) errs += s"fact on disk $onDisk != $validRecords"
    val files = Du.files(outDir)
    val written = files.map(_.length).sum
    val counts = Map(
      "io.bytes_written" -> written.toDouble,
      "io.files_written" -> files.size.toDouble,
      "io.fact_files" -> new File(factPath).listFiles()
        .count(_.getName.endsWith(".parquet")).toDouble,
      "io.bytes_out_per_byte_in" -> written.toDouble / inputBytes,
      "xml.invalid_files" -> r.filesSkipped.toDouble,
      "xml.records" -> r.rows.toDouble,
      "star.dims" -> r.star.dims.size.toDouble,
      "star.dim_rows" -> r.star.dims.values.map(_.count()).sum.toDouble)
    files.foreach(_.delete()) // leaves empty directories; cheap
    (errs.result(), counts)
  }
}

object Du {
  /** Every regular file under `dir`. */
  def files(dir: String): Seq[File] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.map(_.toFile).filter(_.isFile).toVector
    finally s.close()
  }
}

/** Names the pipeline layer a stack sample of the client thread is in.
  *
  * The innermost frame in one of graft's stage functions decides: the
  * `xml` functions (`XmlIngest.listXmlFiles`, `XmlValidation`,
  * `XmlIngest.readFilesGrouped`, `XmlFlatten`, `CommentKeys`), the
  * `SchemaProfiler`, `StarTransformer` and the `Expectations` contract.
  * Work that `XmlPipeline.run` does itself between those calls (collecting
  * the verdicts, forcing a lazy plan, the sinks, which it submits from
  * futures while it waits) is charged by its source line: to the stage whose
  * call is the last one above that line in `XmlPipeline.scala`, read from
  * the source this build compiled. A job goes wherever the thread was when
  * it started, so a lazy stage's work lands where it is forced. */
final class IngestLayers(source: String) {
  private val lines = Files.readAllLines(Paths.get(source)).asScala.toVector
  private val runStart = lines.indexWhere(_.contains("private def run(")) + 1
  require(runStart > 0, s"no `private def run(` in $source")

  /** (first line, layer) of each stage inside `XmlPipeline.run`, in order. */
  private val marks: Seq[(Int, String)] = IngestLayers.RunMarks.map {
    case (token, layer) =>
      val i = lines.indexWhere(_.contains(token), runStart)
      require(i >= 0, s"`$token` not found in XmlPipeline.run ($source)")
      (i + 1) -> layer
  }
  require(marks.map(_._1) == marks.map(_._1).sorted,
    s"stage calls out of the expected order in $source: $marks")

  private def runLine(line: Int): String =
    if (line < runStart) "xml.discover" // process(): listing, then run
    else marks.takeWhile(_._1 <= line).lastOption.fold("xml.discover")(_._2)

  def of(stack: Array[StackTraceElement]): Option[String] =
    stack.iterator.map { f =>
      val c = f.getClassName
      val m = f.getMethodName
      if (!c.startsWith("graft.")) None
      else if (c.startsWith("graft.xml.XmlPipeline"))
        Some(runLine(f.getLineNumber))
      else IngestLayers.Stages.collectFirst {
        case (cls, meth, layer) if c.startsWith(cls) && m.contains(meth) =>
          layer
      }
    }.collectFirst { case Some(l) => l }
}

object IngestLayers {
  val PeriodMs = 10L

  /** (class prefix, method substring, layer); the first match wins. */
  val Stages: Seq[(String, String, String)] = Seq(
    ("graft.xml.XmlIngest", "listXmlFiles", "xml.discover"),
    ("graft.xml.XmlIngest", "ensureRecordId", "xml.flatten"),
    ("graft.xml.XmlIngest", "", "xml.parse"),
    ("graft.xml.XmlValidation", "", "xml.validate"),
    ("graft.xml.XmlFlatten", "", "xml.flatten"),
    ("graft.xml.CommentKeys", "", "xml.flatten"),
    ("graft.profile.SchemaProfiler", "", "profile.roles"),
    ("graft.profile.Expectations", "", "io.fact_write"),
    ("graft.star.StarTransformer", "validateIntegrity", "star.integrity"),
    ("graft.star.StarTransformer", "buildFact", "star.fact"),
    ("graft.star.StarTransformer", "", "star.dims"),
    ("graft.io.", "", "io.side_writes"))

  /** The first source text of each stage call inside `XmlPipeline.run`, in
    * the order run makes them, and the layer its line opens. */
  val RunMarks: Seq[(String, String)] = Seq(
    "validateAndScanBatch" -> "xml.validate",
    "readFilesGrouped" -> "xml.parse",
    "XmlFlatten.flatten" -> "xml.flatten",
    "profileApprox" -> "profile.roles",
    "StarTransformer.mergeDim" -> "star.dims",
    "buildFact" -> "star.fact",
    "observedRows" -> "io.fact_write",
    "dimWrites" -> "io.side_writes",
    "validateIntegrity" -> "star.integrity")
}
