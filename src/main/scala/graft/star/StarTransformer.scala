package graft.star

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import graft.qcol
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-schema bundle: one fact table + named dimension tables
  * (`R/star_transformer.R:42-45`). */
final case class StarSchema(fact: DataFrame, dims: Map[String, DataFrame])

/** Star transformer — rebuild of `R/star_transformer.R` with the reference's
  * defects fixed (SURVEY.md §8):
  *  - dims are built GLOBALLY, not per batch (fixes cross-batch surrogate-key
  *    collisions, Q3);
  *  - fact rows join dimension keys on the dimension VALUE, not a repeated
  *    record id (fixes the fan-out bug, Q5);
  *  - the run id and clock are injected, not random/wall-clock (Q6), so runs
  *    are reproducible and oracle-comparable.
  *
  * Scale notes: each dimension is tiny by the classifier's contract
  * (<50 distinct values — `R/schema_analyzer.R:34`), so its keys are
  * assigned on the driver over the collected distinct values, and every
  * fact-to-dim join is a broadcast-hash join: the fact table is never
  * shuffled. For generic (unbounded) dims use [[buildDimScalable]], which
  * assigns keys without collecting the values.
  */
object StarTransformer {

  /** Dimension build (`R/star_transformer.R:51-68`): distinct non-null
    * values, sorted, keyed 1..n, plus dimension metadata. */
  def buildDim(df: DataFrame, valueCol: String, loadDate: Date): DataFrame =
    buildDims(df, Seq(valueCol), loadDate)(valueCol)

  /** [[buildDim]] for several columns at once, in ONE aggregate over `df`
    * (the sorted distinct values of every column). Each dim is then keyed
    * on the driver and returned as a local table: dims are tiny by the
    * classifier's contract, so a dim costs no job of its own, and a
    * broadcast of it ships rows the driver already holds. Key, date and
    * flag are declared non-null, the value nullable: the schema a
    * `dim_<col>.parquet` file carries. */
  def buildDims(df: DataFrame, valueCols: Seq[String], loadDate: Date)
      : Map[String, DataFrame] =
    valueCols.zip(sortedValues(df, valueCols)).map { case (c, values) =>
      c -> df.sparkSession.createDataFrame(
        values.zipWithIndex.map { case (v, k) =>
          Row(k + 1, v, loadDate, true) }.asJava,
        StructType(Seq(
          StructField(s"${c}_key", IntegerType, nullable = false),
          StructField(c, df.schema(c).dataType, nullable = true),
          StructField("created_date", DateType, nullable = false),
          StructField("is_active", BooleanType, nullable = false))))
    }.toMap

  /** The distinct non-null values of each column in Spark's sort order
    * (`array_sort`, so keys numbered over them match a `row_number` over
    * the sorted values), from one aggregate. */
  private def sortedValues(df: DataFrame, cols: Seq[String])
      : Seq[Seq[Any]] =
    if (cols.isEmpty) Nil
    else {
      val sets = cols.map(c => array_sort(collect_set(qcol(c))))
      val row = df.agg(sets.head, sets.tail: _*).head()
      cols.indices.map(row.getSeq[Any])
    }

  /** Incremental dimension merge: values already in `existing` KEEP their
    * surrogate keys (appended fact rows stay consistent with historical
    * ones); genuinely new values get fresh keys above the current max, in
    * value order. This is what the reference's per-batch keying should have
    * been (SURVEY.md §8 Q3). Driver-local like [[buildDims]]: the existing
    * dim is collected (it is small by the same contract) and keeps its
    * schema. */
  def mergeDim(existing: DataFrame, df: DataFrame, valueCol: String,
      loadDate: Date): DataFrame = {
    val keyCol = s"${valueCol}_key"
    val cols = Seq(keyCol, valueCol, "created_date", "is_active")
    val old = existing.select(cols.map(qcol): _*).collect().toSeq
    val known = old.map(_.get(1)).toSet
    val maxKey = old.flatMap(r => Option(r.get(0)))
      .map(_.asInstanceOf[Number].longValue()).maxOption.getOrElse(0L)
    val intKeys = existing.schema(keyCol).dataType == IntegerType
    val added = sortedValues(df, Seq(valueCol)).head.filterNot(known)
      .zipWithIndex.map { case (v, i) =>
        val k = maxKey + i + 1
        Row(if (intKeys) k.toInt else k, v, loadDate, true)
      }
    existing.sparkSession.createDataFrame((old ++ added).asJava,
      StructType(cols.map(existing.schema(_))))
  }

  /** Key assignment for dims too large for one partition: zipWithIndex over
    * a sorted distinct — keys are still dense, unique, value-deterministic,
    * but no single-partition window. (Sort is a range-partitioned exchange;
    * index = partition offset + position, computed per partition.) */
  def buildDimScalable(df: DataFrame, valueCol: String, loadDate: Date)
      : DataFrame = {
    val spark = df.sparkSession
    val distinctSorted = df.select(qcol(valueCol))
      .filter(qcol(valueCol).isNotNull).distinct().orderBy(qcol(valueCol))
    val schema = distinctSorted.schema
      .add(s"${valueCol}_key", org.apache.spark.sql.types.LongType)
    val keyed = spark.createDataFrame(
      distinctSorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
      }, schema)
    keyed.select(qcol(s"${valueCol}_key"), qcol(valueCol),
      lit(loadDate).as("created_date"), lit(true).as("is_active"))
  }

  /** Fact build (`R/star_transformer.R:74-124`): id + measures (promoted to
    * double with silent-null semantics) + audit columns, then a broadcast
    * left join per dimension to attach surrogate keys. */
  def buildFact(
      df: DataFrame,
      idCol: String,
      measureCols: Seq[String],
      dims: Map[String, DataFrame],
      auditCols: Seq[String],
      runId: Long,
      loadTs: Timestamp): DataFrame = {
    val base = df.select(
      (qcol(idCol) +:
        measureCols.map(m =>
          expr(s"try_cast(cast(`$m` AS string) AS double)").as(m))) ++
        dims.keys.toSeq.sorted.map(qcol) ++
        auditCols.filter(df.columns.contains).map(qcol): _*)
    val withKeys = dims.toSeq.sortBy(_._1).foldLeft(base) {
      case (acc, (dimCol, dim)) =>
        acc.join(
          broadcast(dim.select(qcol(s"${dimCol}_key"), qcol(dimCol))),
          Seq(dimCol), "left")
          .drop(dimCol)
    }
    withKeys
      .withColumn("record_count", lit(1))
      .withColumn("batch_id", lit(runId))
      .withColumn("load_timestamp", lit(loadTs))
  }

  /** Full transform: classified roles -> dims + fact
    * (`R/star_transformer.R:4-46`). `roles` maps column name to its
    * classification (from [[graft.profile.SchemaProfiler]]). */
  def build(
      df: DataFrame,
      idCol: String,
      roles: Map[String, String],
      runId: Long,
      loadTs: Timestamp): StarSchema = {
    val loadDate = new Date(loadTs.getTime)
    val dimCols = roles.collect { case (c, "dimension") => c }.toSeq.sorted
    val measureCols = roles.collect { case (c, "measure") => c }.toSeq.sorted
      .filterNot(_ == idCol)
    val dims = dimCols.map(c => c -> buildDim(df, c, loadDate)).toMap
    val fact = buildFact(df, idCol, measureCols, dims,
      Seq("source_file_name", "source_file_path"), runId, loadTs)
    StarSchema(fact, dims)
  }

  /** Read-back aggregation (`R/star_transformer.R:148-165`): group by dims,
    * per-measure sum/avg/min/max/count with suffixed names. */
  def aggregateFactData(fact: DataFrame, groupCols: Seq[String],
      measureCols: Seq[String]): DataFrame =
    fact.groupBy(groupCols.map(qcol): _*)
      .agg(
        measureCols.flatMap(m => Seq(
          sum(qcol(m)).as(s"${m}_sum"),
          avg(qcol(m)).as(s"${m}_avg"),
          min(qcol(m)).as(s"${m}_min"),
          max(qcol(m)).as(s"${m}_max"),
          count(qcol(m)).as(s"${m}_count"))).head,
        measureCols.flatMap(m => Seq(
          sum(qcol(m)).as(s"${m}_sum"),
          avg(qcol(m)).as(s"${m}_avg"),
          min(qcol(m)).as(s"${m}_min"),
          max(qcol(m)).as(s"${m}_max"),
          count(qcol(m)).as(s"${m}_count"))).tail: _*)

  /** Integrity checks (`R/star_transformer.R:168-199`): non-empty fact/dims,
    * unique surrogate keys (a null key counts as one key value), and
    * (beyond the reference) FK integrity — every non-null fact key must
    * equal a non-null key of its dim. Returns human-readable violations:
    * the fact first, then per dim (in `star.dims` order) empty, duplicate,
    * unresolved.
    *
    * The checks are defined once, in three parts: [[dimKeys]] reads each
    * dim's keys, [[integrityMetrics]] are the fact-side counts, and the
    * overload below turns those counts into verdicts. This form runs the
    * metrics as one aggregate over the fact; a pipeline that writes the
    * fact anyway observes them on its write instead (`XmlPipeline`), at no
    * job of their own. */
  def validateIntegrity(star: StarSchema): Seq[String] = {
    val keys = dimKeys(star.dims)
    val checks = integrityMetrics(keys)
    val counts = star.fact.agg(checks.head, checks.tail: _*).head()
    validateIntegrity(keys, checks.indices.map(counts.getLong))
  }

  /** Each dim's surrogate keys by their string form, in `dims` order. No
    * job for the driver-local dims [[buildDims]] and [[mergeDim]] return:
    * the collect reads the rows the driver already holds. */
  def dimKeys(dims: Map[String, DataFrame]): Seq[(String, Seq[String])] =
    dims.toSeq.map { case (name, dim) =>
      name -> dim.select(qcol(s"${name}_key").cast("string")).collect()
        .toSeq.map(_.getString(0))
    }

  /** The integrity checks' fact-side aggregate columns: the fact's row
    * count, then per dim the non-null fact keys outside that dim's key
    * set. Keys compare by their string form, exact for the integral keys
    * dims carry; the key sets ride the plan as array literals, so the
    * generated code is the same whatever the keys are. */
  def integrityMetrics(keys: Seq[(String, Seq[String])]): Seq[Column] =
    count(lit(1)) +: keys.map { case (name, ks) =>
      val key = qcol(s"${name}_key")
      val known = lit(ks.filter(_ != null).toArray)
      count(when(key.isNotNull && !array_contains(known, key.cast("string")),
        lit(1)))
    }

  /** The verdicts of the integrity checks from their counts, in
    * [[integrityMetrics]] order, and the keys they were built from. */
  def validateIntegrity(keys: Seq[(String, Seq[String])], counts: Seq[Long])
      : Seq[String] = {
    val violations = Seq.newBuilder[String]
    if (counts.head == 0) violations += "fact table is empty"
    keys.zip(counts.tail).foreach { case ((name, ks), unresolved) =>
      if (ks.isEmpty) violations += s"dimension $name is empty"
      if (ks.distinct.size != ks.size)
        violations += s"dimension $name has duplicate surrogate keys"
      if (unresolved > 0)
        violations += s"$unresolved fact rows have unresolved ${name}_key"
    }
    violations.result()
  }
}
