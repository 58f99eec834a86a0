package graft.xml

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Business-key extraction from XML comments (`R/xml_parser.R:227-321`,
  * SURVEY.md §2.1 S6): the first comment in a document matching
  * `Key:Value` becomes per-file metadata, attached to every row of that
  * file as (a) `business_key_name`/`business_key_value` columns and (b) a
  * dynamically-named constant column per key name.
  *
  * The native XML source drops comments, so this is a separate pass — but
  * one that reads ONLY each file's prefix (comments of interest precede the
  * records), runs distributed over the file list, and joins back on file
  * path as a broadcast (one row per file). That keeps the cost O(files),
  * not O(bytes), at 100 TB.
  */
object CommentKeys {

  /** `^([A-Za-z]+):([^:]+)$` — the reference's primary business-key
    * pattern (`R/xml_parser.R:245`). */
  val StandardPattern: String = "^([A-Za-z]+):([^:]+)$"

  /** The reference's documented alternative comment formats
    * (`R/main.R:231-237` `COMMENT_PATTERNS`), by the same names. Every
    * pattern must expose exactly two capture groups (name, value). */
  val CommentPatterns: Map[String, String] = Map(
    "standard" -> StandardPattern,                    // ABCD:1234
    "underscore" -> "^([A-Za-z_]+):([^:]+)$",         // ABC_DEF:1234
    "equals" -> "^([A-Za-z]+)=([^=]+)$",              // ABCD=1234
    "spaced" -> "^([A-Za-z]+)\\s*:\\s*([^:]+)$",      // ABCD : 1234
    "numeric_key" -> "^([A-Za-z0-9]+):([^:]+)$")      // ABC123:1234

  private val CommentRe = "(?s)<!--(.*?)-->".r

  /** Extracts the first business key matching any of `patterns` (tried in
    * order per comment) from an XML document string prefix; comments that
    * match no pattern are skipped (the reference takes the FIRST comment
    * and tests it; we scan until a match to be robust to leading license
    * banners — same observable result on reference-shaped files whose
    * first comment is the key). */
  def extractFromContent(
      content: String,
      patterns: Seq[String] = Seq(StandardPattern)): Option[(String, String)] = {
    val compiled = patterns.map(_.r)
    CommentRe.findAllMatchIn(content)
      .map(_.group(1).trim)
      .flatMap { c =>
        compiled.iterator.flatMap { p =>
          c match {
            case p(name, value) => Some(name -> value.trim)
            case _ => None
          }
        }.take(1)
      }
      .take(1).toSeq.headOption
  }

  /** Reads one file's prefix and extracts its business key — the per-file
    * unit shared by [[scan]] and the fused
    * [[XmlValidation.validateAndScanBatch]] pass. The prefix is decoded
    * with THIS file's declared encoding when it has one (per-file, not
    * batch-wide: a corpus may mix encodings — ADVICE r2), falling back to
    * `charset`. Also returns the declared encoding and the probed ROW TAG
    * (the reference applies its record XPath per file,
    * `R/xml_parser.R:98-103`), so callers can group the later structured
    * read by (tag, charset) without another file pass. */
  private[xml] def readPrefixKey(
      file: String,
      hadoopConf: Configuration,
      patterns: Seq[String],
      charset: String,
      maxBytes: Int = 65536)
      : (Option[(String, String)], Option[String], Option[String]) =
    try {
      val path = new Path(file)
      val fs = path.getFileSystem(hadoopConf)
      val in = fs.open(path)
      try {
        val buf = new Array[Byte](maxBytes)
        var off = 0
        var n = in.read(buf, off, maxBytes - off)
        while (n > 0 && off < maxBytes) {
          off += n; n = in.read(buf, off, maxBytes - off)
        }
        // the prolog is ASCII-safe under any declarable encoding
        val prolog = new String(buf, 0, math.min(off, 256),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val declared = XmlIngest.sniffDeclaredEncoding(prolog)
        val cs = declared.getOrElse(charset)
        val decoded = try {
          new String(buf, 0, off, java.nio.charset.Charset.forName(cs))
        } catch { case _: IllegalArgumentException =>
          new String(buf, 0, off, java.nio.charset.Charset.forName(charset))
        }
        (extractFromContent(decoded, patterns), declared,
          XmlIngest.rowTagOfPrefix(decoded))
      } finally in.close()
    } catch { case _: java.io.IOException => (None, None, None) }

  /** Distributed prefix scan of every file: one output row per file that
    * carries a business key: (source_file_path, business_key_name,
    * business_key_value). */
  def scan(spark: SparkSession, files: Seq[String], maxBytes: Int = 65536,
      patterns: Seq[String] = Seq(StandardPattern),
      charset: String = "UTF-8")
      : DataFrame = {
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    files.toDS().mapPartitions { it =>
      it.flatMap { file =>
        readPrefixKey(file, conf.value, patterns, charset, maxBytes)._1
          .map { case (name, value) => (file, name, value) }
      }
    }.toDF("bk_file_path", "business_key_name", "business_key_value")
  }

  /** A listed file's path in the form a file scan reports it through
    * `input_file_name()`. The listing gives `file:/tmp/a b.xml`; the scan
    * of that file reports `file:///tmp/a%20b.xml`: its file index qualifies
    * the bare path with the filesystem's URI (an empty authority on the
    * local filesystem) and [[SparkPath]] URL-encodes it. The same two
    * steps are taken here, so a listed path and a scanned row's lineage
    * meet in one form. */
  def scanPath(file: String, conf: Configuration): String = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    SparkPath.fromPath(Path.getPathWithoutSchemeAndAuthority(p)
      .makeQualified(fs.getUri, fs.getWorkingDirectory)).urlEncoded
  }

  /** Attaches business-key columns to parsed rows, which must carry
    * `source_file_path` lineage from `input_file_name()`. `keys` are
    * `(listed file, key name, key value)`, one per keyed file, as the
    * fused validation pass or [[scan]] found them; their paths are put in
    * the scan's form ([[scanPath]]) before the join. Adds the two generic
    * columns plus one constant column per distinct key name
    * (`COMMENT_AS_DIMENSION` behavior). The keys are driver-side already
    * (one row per file), so the key names cost no job; the keys table is
    * broadcast. */
  def attach(df: DataFrame, keys: Seq[(String, String, String)])
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val keyDf = keys.map { case (f, n, v) => (scanPath(f, conf), n, v) }
      .toDF("bk_file_path", "business_key_name", "business_key_value")
    val joined = df.join(broadcast(keyDf),
      df("source_file_path") === keyDf("bk_file_path"), "left")
      .drop("bk_file_path")
    keys.map(_._2).distinct.sorted.foldLeft(joined) { (acc, n) =>
      acc.withColumn(n,
        when(col("business_key_name") === n, col("business_key_value")))
    }
  }
}
