package graft.xml

import java.io.File
import javax.xml.XMLConstants
import javax.xml.parsers.SAXParserFactory
import javax.xml.transform.stream.StreamSource
import javax.xml.validation.SchemaFactory

import scala.collection.mutable
import scala.io.Source

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.xml.sax.{ErrorHandler, InputSource, SAXParseException}

/** File-level XML validation (`R/schema_validator.R`, SURVEY.md §2.1
  * S7-S11): XSD validation, DTD validation (external or internal DOCTYPE),
  * auto-detection (internal DTD -> XSD -> DTD -> none), the 5-location
  * schema-file search, and distributed batch validation.
  *
  * Three-valued verdict like the reference: Some(true) valid, Some(false)
  * invalid, None = no schema found (file proceeds unvalidated). A
  * well-formedness check stands in when no schema exists, giving the
  * per-FILE error isolation Spark's per-record malformed handling cannot
  * (SURVEY.md §7.4 item 1): invalid files are skipped, good files proceed.
  *
  * Scale notes: [[validateBatch]] maps the validation over a Dataset of
  * paths — each task validates its own files with a streaming SAX parse
  * (constant memory), so 10M files spread over the cluster, no driver
  * bottleneck.
  */
object XmlValidation {

  final case class Verdict(
      file: String,
      valid: Option[Boolean],
      errors: Seq[String],
      schemaUsed: Option[String])

  /** File paths may arrive Hadoop-qualified (`file:/tmp/x.xml`); resolve to
    * a local File either way. A Hadoop path string is not a URI (a space
    * or a quote in a file name stays raw), so it is parsed as a Hadoop
    * Path. (Remote filesystems would stream through the Hadoop FS API
    * instead — local-file validation is the reference's scope.) */
  private def localFile(path: String): File =
    if (path.startsWith("file:")) new File(new Path(path).toUri.getPath)
    else new File(path)

  private def collectingHandler(errs: mutable.Buffer[String]): ErrorHandler =
    new ErrorHandler {
      def warning(e: SAXParseException): Unit = ()
      def error(e: SAXParseException): Unit = errs += e.getMessage
      def fatalError(e: SAXParseException): Unit = errs += e.getMessage
    }

  /** Compiled-XSD cache, per JVM (= per executor): a batch validating 10M
    * files against one XSD must compile it once per executor, not once per
    * FILE — `javax.xml.validation.Schema` is immutable and thread-safe, so
    * tasks share it and take a fresh (cheap) Validator each. Keyed by
    * PATH with a (mtime, length) freshness stamp: an edited schema file
    * REPLACES its entry (recompiled, never served stale; the old compiled
    * schema is dropped, so re-deployed schemas don't accumulate — review
    * caught the grow-without-bound of a stamp-in-key design). Known limit:
    * a same-length rewrite within the filesystem's mtime granularity is
    * indistinguishable — the standard build-cache tradeoff. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, ((Long, Long), javax.xml.validation.Schema)]()

  private def compiledSchema(xsdFile: String): javax.xml.validation.Schema = {
    val f = new File(xsdFile)
    val stamp = (f.lastModified, f.length)
    schemaCache.compute(f.getAbsolutePath, (_, cached) =>
      if (cached != null && cached._1 == stamp) cached
      else (stamp, SchemaFactory.newInstance(XMLConstants.W3C_XML_SCHEMA_NS_URI)
        .newSchema(new StreamSource(f)))
    )._2
  }

  /** SAX parser factories, per thread: `SAXParserFactory.newInstance` runs
    * a service-loader scan over the (large, in a Spark JVM) classpath on
    * EVERY call — per-file that scan costs more than parsing a small file.
    * Factories are not thread-safe, so each task thread keeps its own pair
    * (validating / plain). */
  private val validatingFactory =
    ThreadLocal.withInitial[SAXParserFactory] { () =>
      val f = SAXParserFactory.newInstance()
      f.setValidating(true)
      f.setNamespaceAware(true)
      f
    }
  private val plainFactory =
    ThreadLocal.withInitial[SAXParserFactory] { () =>
      val f = SAXParserFactory.newInstance()
      f.setValidating(false)
      f.setNamespaceAware(true)
      f.setFeature(
        "http://apache.org/xml/features/nonvalidating/load-external-dtd",
        false)
      f
    }

  /** XSD validation (`R/schema_validator.R:4-49`). */
  def validateXsd(xmlFile: String, xsdFile: String): Verdict = {
    val errs = mutable.Buffer.empty[String]
    try {
      val validator = compiledSchema(xsdFile).newValidator()
      validator.setErrorHandler(collectingHandler(errs))
      validator.validate(new StreamSource(localFile(xmlFile)))
      Verdict(xmlFile, Some(errs.isEmpty), errs.toSeq, Some(xsdFile))
    } catch {
      case e: Exception =>
        Verdict(xmlFile, Some(false), (errs :+ e.getMessage).toSeq, Some(xsdFile))
    }
  }

  /** DTD validation via a validating SAX parse; `dtdFile` None means the
    * document's own internal/external DOCTYPE drives validation
    * (`R/schema_validator.R:52-85`). */
  def validateDtd(xmlFile: String, dtdFile: Option[String]): Verdict = {
    val errs = mutable.Buffer.empty[String]
    try {
      val reader = validatingFactory.get().newSAXParser().getXMLReader
      reader.setErrorHandler(collectingHandler(errs))
      reader.parse(new InputSource(localFile(xmlFile).toURI.toString))
      Verdict(xmlFile, Some(errs.isEmpty), errs.toSeq, dtdFile.orElse(Some("DOCTYPE")))
    } catch {
      case e: Exception =>
        Verdict(xmlFile, Some(false), (errs :+ e.getMessage).toSeq, dtdFile)
    }
  }

  /** Non-validating well-formedness parse — the no-schema stand-in that
    * provides per-file error isolation. */
  def checkWellFormed(xmlFile: String): Verdict = {
    val errs = mutable.Buffer.empty[String]
    try {
      val reader = plainFactory.get().newSAXParser().getXMLReader
      reader.setErrorHandler(collectingHandler(errs))
      reader.parse(new InputSource(localFile(xmlFile).toURI.toString))
      Verdict(xmlFile, if (errs.isEmpty) None else Some(false), errs.toSeq, None)
    } catch {
      case e: Exception =>
        Verdict(xmlFile, Some(false), (errs :+ e.getMessage).toSeq, None)
    }
  }

  /** First 10 lines contain `<!DOCTYPE` (`R/schema_validator.R:142-148`).
    * Decoded as ISO-8859-1: the needle is pure ASCII and every byte is a
    * valid latin-1 char, so a UTF-8 BOM, declared non-UTF8 encodings, or
    * stray high bytes can never throw MalformedInputException here — with
    * the JVM-default codec one such byte in one file killed the whole
    * distributed validation batch (caught by the BOM e2e test). */
  def hasInternalDtd(xmlFile: String): Boolean = {
    val src = Source.fromFile(localFile(xmlFile))(
      scala.io.Codec.ISO8859)
    try src.getLines().take(10).exists(_.contains("<!DOCTYPE"))
    finally src.close()
  }

  /** The reference's 5-location schema search, in priority order
    * (`R/schema_validator.R:116-139`): schemaDir/<base>.<ext>,
    * xmlDir/<base>.<ext>, schemaDir/schema.<ext>, xmlDir/schema.<ext>,
    * schemaDir/default.<ext>. */
  def findSchemaFile(xmlFile: String, extension: String, schemaDir: String)
      : Option[String] = {
    val base = localFile(xmlFile).getName.replaceAll("\\.[^.]*$", "")
    val xmlDir = Option(localFile(xmlFile).getParent).getOrElse(".")
    val candidates = Seq(
      s"$schemaDir/$base.$extension",
      s"$xmlDir/$base.$extension",
      s"$schemaDir/schema.$extension",
      s"$xmlDir/schema.$extension",
      s"$schemaDir/default.$extension")
    candidates.find(p => new File(p).isFile)
  }

  /** Auto validation (`R/schema_validator.R:88-113`): internal DOCTYPE ->
    * resolved XSD -> resolved DTD -> plain well-formedness. */
  def validateAuto(xmlFile: String, schemaDir: String): Verdict =
    if (hasInternalDtd(xmlFile)) validateDtd(xmlFile, None)
    else findSchemaFile(xmlFile, "xsd", schemaDir) match {
      case Some(xsd) => validateXsd(xmlFile, xsd)
      case None => findSchemaFile(xmlFile, "dtd", schemaDir) match {
        case Some(dtd) => validateDtd(xmlFile, Some(dtd))
        case None => checkWellFormed(xmlFile)
      }
    }

  /** Distributed batch validation (`R/schema_validator.R:151-181`): one
    * verdict row per file. `explicitXsd` overrides auto-detection. */
  def validateBatch(
      spark: SparkSession,
      files: Seq[String],
      schemaDir: String,
      explicitXsd: Option[String] = None): DataFrame = {
    import spark.implicits._
    files.toDS().map { f =>
      val v = explicitXsd match {
        case Some(xsd) => validateXsd(f, xsd)
        case None => validateAuto(f, schemaDir)
      }
      (v.file,
        v.valid.map(b => if (b) "valid" else "invalid").getOrElse("no_schema"),
        v.errors.mkString("; "),
        v.schemaUsed.getOrElse(""))
    }.toDF("file", "verdict", "errors", "schema_used")
  }

  /** Validation AND business-key prefix scan fused into ONE distributed
    * pass (one task opens each file once for the SAX parse, then re-reads
    * only its prefix for the comment key) — halves the per-run job rounds
    * vs running [[validateBatch]] and [[CommentKeys.scan]] back to back,
    * which is pure fixed overhead at the small-corpus tier and one fewer
    * full task-launch wave over 10M files at the large tier. */
  def validateAndScanBatch(
      spark: SparkSession,
      files: Seq[String],
      schemaDir: String,
      explicitXsd: Option[String] = None,
      keyPatterns: Seq[String] = Seq(CommentKeys.StandardPattern),
      charset: String = "UTF-8"): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    files.toDS().map { f =>
      val v = explicitXsd match {
        case Some(xsd) => validateXsd(f, xsd)
        case None => validateAuto(f, schemaDir)
      }
      val (key, declared, rowTag) =
        if (v.valid.contains(false)) (None, None, None) // skipped: no key
        else CommentKeys.readPrefixKey(f, conf.value, keyPatterns, charset)
      (v.file,
        v.valid.map(b => if (b) "valid" else "invalid").getOrElse("no_schema"),
        v.errors.mkString("; "),
        v.schemaUsed.getOrElse(""),
        key.map(_._1).orNull,
        key.map(_._2).orNull,
        declared.orNull,
        rowTag.orNull)
    }.toDF("file", "verdict", "errors", "schema_used",
      "business_key_name", "business_key_value", "declared_encoding",
      "row_tag")
  }
}
