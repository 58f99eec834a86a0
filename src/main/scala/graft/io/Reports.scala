package graft.io

import java.io.OutputStreamWriter
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.univocity.parsers.csv.CsvWriter
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.csv.CSVOptions

/** Driver-side sinks for a pipeline run's small outputs: the CSV reports
  * and the parquet-footer summary. Each report holds a few rows per run
  * (or one per file); a Spark job per report would cost a job round, its
  * task launch and its generated classes for a few hundred bytes.
  *
  * A report lands in the layout of Spark's own CSV sink: a directory with
  * a header-carrying `part-*.csv` file per write and a `_SUCCESS` marker.
  * Values use Spark's CSV dialect (its writer settings, taken from
  * [[CSVOptions]]: a quote inside a quoted value is escaped with a
  * backslash, empty strings are written `""`, nulls as nothing, surrounding
  * whitespace trimmed), so `spark.read.option("header", "true").csv(dir)`
  * reads back exactly what a Spark write of the same rows would give. An
  * RFC 4180 doubled quote does not round-trip through that reader: it
  * keeps the quotes in the value. */
object Reports {

  /** Writes `rows` under `header` as one part file of the CSV report at
    * `dir`. `append` adds the part beside the report's existing parts, as
    * Spark's append mode does; otherwise the report is replaced. Values
    * are rendered with `toString`, as Spark's CSV writer renders numbers
    * and booleans. The part is written under a hidden name and renamed
    * into place, so a reader never sees half a part. */
  def writeCsv(conf: Configuration, dir: String, header: Seq[String],
      rows: Seq[Seq[Any]], append: Boolean = false): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!append) fs.delete(root, true)
    val name = s"part-00000-${UUID.randomUUID()}-c000.csv"
    val tmp = new Path(root, s".$name.inprogress")
    val w = new CsvWriter(
      new OutputStreamWriter(fs.create(tmp, false), StandardCharsets.UTF_8),
      new CSVOptions(Map.empty[String, String], false, "UTC")
        .asWriterSettings)
    try {
      w.writeHeaders(header: _*)
      rows.foreach(r =>
        w.writeRow(r.map(v => if (v == null) null else v.toString): _*))
    } finally w.close()
    require(fs.rename(tmp, new Path(root, name)), s"rename $tmp failed")
    fs.create(new Path(root, "_SUCCESS"), true).close()
  }

  /** Row count and top-level column names of each data file of the
    * parquet table at `dir`, keyed by file name, read from the footers
    * alone (no Spark job, no data pages). Data files are the ones Spark
    * reads: names not starting with `_` or `.`. */
  def parquetFooters(conf: Configuration, dir: String)
      : Map[String, (Long, Seq[String])] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map { s =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try s.getPath.getName -> (r.getRecordCount,
          r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq)
        finally r.close()
      }.toMap
  }
}
