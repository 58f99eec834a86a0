package graft.pipeline

import java.sql.Timestamp

import graft.profile.SchemaProfiler
import graft.star.{StarSchema, StarTransformer}
import graft.xml.XmlFlatten
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Format-agnostic star-schema pipeline: any structured source (JSON, CSV,
  * parquet, or an arbitrary DataFrame) through the SAME stages as the XML
  * pipeline — flatten (the §1.4 struct/array collapse applies to any nested
  * schema, not just XML's), role classification, star transform, sinks.
  * This is what makes the engine a general ingestion library rather than an
  * XML tool: one set of semantics, many sources.
  */
object StarPipeline {

  final case class Result(
      rows: Long,
      star: StarSchema,
      violations: Seq[String],
      outputs: Seq[String])

  /** Stringly-typed JSON read (primitivesAsString mirrors the XML ingest's
    * inferSchema=false): nested objects arrive as structs, repeated arrays
    * as arrays — exactly what the flattener expects. */
  def readJson(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("primitivesAsString", "true").json(dir)

  /** CSV read with header; values are strings by default (no inference). */
  def readCsv(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("header", "true").csv(dir)

  private val AuditCols = Set(
    "source_file_name", "source_file_path", "load_timestamp")

  /** Runs flatten -> profile -> star -> sinks over an already-loaded
    * DataFrame. Record ids come from an `id` column when present, else
    * `monotonically_increasing_id` (unique, not dense — no global sort). */
  def fromDataFrame(
      spark: SparkSession,
      raw: DataFrame,
      outputDir: String,
      runId: Long,
      loadTs: Timestamp): Result = {
    val flat = XmlFlatten.flatten(raw)
    val withId =
      if (flat.columns.contains("id"))
        flat.withColumn("record_id", col("id"))
      else
        flat.withColumn("record_id",
          monotonically_increasing_id().cast("string"))
    val data = withId
      .withColumn("source_file_name",
        coalesce(element_at(split(input_file_name(), "/"), -1), lit("")))
      .withColumn("load_timestamp", lit(loadTs))
      .cache()

    val profileCols = data.columns
      .filterNot(AuditCols).filterNot(_ == "record_id").toSeq
    val profiled = SchemaProfiler.profileApprox(data, profileCols)
    val roles = profiled.select("col_name", "classification")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap +
      ("record_id" -> "identifier")

    val star0 = StarTransformer.build(data, "record_id", roles, runId, loadTs)
    // the dims are driver-local (StarTransformer.buildDims): not cached,
    // so the integrity check reads their keys without a job
    val star = star0.copy(fact = star0.fact.cache())

    val factPath = s"$outputDir/fact_main.parquet"
    star.fact.write.mode(SaveMode.Overwrite)
      .option("compression", "snappy").parquet(factPath)
    val dimPaths = star.dims.toSeq.sortBy(_._1).map { case (name, dim) =>
      val p = s"$outputDir/dim_$name.parquet"
      dim.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("compression", "snappy").parquet(p)
      p
    }
    val rows = star.fact.count()
    val violations = StarTransformer.validateIntegrity(star)
    data.unpersist()
    star.fact.unpersist()
    Result(rows, star, violations, factPath +: dimPaths)
  }
}
