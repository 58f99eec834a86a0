package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table loaders + numeric-determinism helpers shared by every operator.
  *
  * Determinism contract (SURVEY.md §5.1): every `[V]` query must hash-match a
  * DuckDB oracle, so floating-point aggregates are computed over exact
  * decimals and only converted to double at the end — summation order then
  * cannot change the result on either engine.
  */
object Tables {
  /** Loads a testdata table.
    *
    * Opening a table (`spark.read.parquet`) lists its root and runs a
    * Spark job to read the Parquet footers for the schema. That is done
    * once per session and root stamp: the resolved relation (file index
    * plus schema) is held in [[Memo]] (key, freshness rule and its limit
    * are stated there), and every call builds a new DataFrame over it,
    * so each call gets fresh attribute ids and a table loaded twice in
    * one query self-joins correctly. A missing root fails with
    * `spark.read.parquet`'s own error.
    *
    * Timestamps: `events.ts` has shipped in two physical
    * forms across driver regenerations, and operators must see plain
    * `TimestampType` either way:
    *   - TIMESTAMP(NANOS): Spark reads it only as a nanos-since-epoch
    *     long (`spark.sql.legacy.parquet.nanosAsLong=true`, set in
    *     Verify/Bench/SparkSpec); integer `div` keeps full precision (a
    *     double would round above 2^53 ns).
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
    *     TIMESTAMP_NTZ; cast to TimestampType interprets the wall-clock
    *     in the session time zone, which every entry point pins to UTC —
    *     the same instant DuckDB reads, so oracles are unaffected. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val root = roots(sfDir, name)
    val df = spark.baseRelationToDataFrame(Memo(spark, "relation", root) {
      spark.read.parquet(root.head).queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation
      }.get
    })
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    } else df
  }

  /** The root paths of the tables `names` in the testdata dir `sfDir` —
    * the roots a [[Memo]] entry built from those tables declares. */
  def roots(sfDir: String, names: String*): Seq[String] =
    names.map(n => s"$sfDir/$n.parquet")
}

object Fns {
  /** Exact money/quantity type: 2 fractional digits covers the testdata
    * generators (TPC-H-ish money columns). */
  val D18_2: DecimalType = DecimalType(18, 2)
  /** Exact rate type for discount/tax-like factors. */
  val D18_8: DecimalType = DecimalType(18, 8)

  /** Order-insensitive exact sum of a 2-dp double column, surfaced as double.
    * Equivalent DuckDB: CAST(SUM(CAST(c AS DECIMAL(18,2))) AS DOUBLE). */
  def dsum2(c: Column): Column = sum(c.cast(D18_2)).cast("double")

  /** Exact average (decimal sum / count), surfaced as double. */
  def davg2(c: Column): Column = dsum2(c) / count(c)

  /** DuckDB SQL fragment mirroring [[dsum2]]. */
  def sqlDsum2(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** DuckDB SQL fragment mirroring [[davg2]]. */
  def sqlDavg2(c: String): String = s"${sqlDsum2(c)} / COUNT($c)"

  /** Exact type for the events.value column (6 fractional digits). */
  val D18_6: DecimalType = DecimalType(18, 6)

  def dsum6(c: Column): Column = sum(c.cast(D18_6)).cast("double")

  def sqlDsum6(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE)"

  /** Whitespace tokenization shared by the text/dedup operators: lower,
    * trim, split on runs of whitespace, drop empties. Mirrors the classic
    * `strsplit(tolower(x), "\\s+")` shape; empty-string filter keeps Spark
    * and DuckDB agreeing on leading/trailing whitespace. */
  def tokens(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => t =!= lit(""))

  /** DuckDB fragment mirroring [[tokens]] applied to column `c`. */
  def sqlTokens(c: String): String =
    s"list_filter(string_split_regex(lower(trim($c)), '\\s+'), t -> t != '')"

  // NOTE (r16, measured and REJECTED): a size-gated "AQE off below
  // cores × advisoryPartitionSize" session knob (the r15 verdict's
  // "plan-size-gated AQE" candidate) was implemented here and A/B'd on
  // the full surface at sf0.1/local[32]: 167.6 s (AQE on) → 227.1 s
  // (gated off) — 321 of 385 queries regressed, with the multi-stage
  // iterative class hit hardest (q_kcore 2.0→12.0 s, q_label_prop
  // 1.3→8.2 s, q_hits 0.6→2.3 s). AQE's runtime coalescing is what
  // keeps every post-shuffle stage at a sane task count when the data
  // is small; its per-stage planning tax (~0.05–0.1 s on a trivial
  // query) is far cheaper than the 32 fixed-width tasks per exchange
  // it replaces. AQE therefore stays ON at every scale, and the
  // per-query fixed-cost floor is attacked by cutting JOB count
  // instead (see the r16 optimization record).

  /** Spread guard for CPU-bound work downstream of a SMALL scan: a file
    * under `maxPartitionBytes` scans as ONE split (openCostInBytes floors
    * the split size), serializing all per-row CPU (shingle explodes, hash
    * batteries) on one core until the first shuffle. The guard shuffles
    * the narrow input rows across the cores ONLY when the scan
    * under-splits — at real scale the thousands of input splits already
    * parallelize and this is a no-op (the q_bootstrap_ci recipe, shared
    * by the shingle-family queries). Deterministic for the queries that
    * use it: everything downstream is per-row + keyed aggregation, so
    * row placement cannot change values.
    *
    * The under-split probe is PLAN-DERIVED and memoized, not
    * `df.rdd.getNumPartitions`: the RDD probe forced full physical
    * planning plus an RDD conversion at query-CONSTRUCTION time, a
    * 0.2-0.5 s eager tax paid per bench rep that showed up as a 20-31%
    * isolated-bench regression on the shingle family in round 9. Here
    * the file sizes come from the scan relation's (already-listed) file
    * index and the split count replicates Spark's own
    * `FilePartition.maxSplitBytes` formula; the estimate is held in
    * [[Memo]] per (session, parallelism, split conf, root paths), so
    * repeat constructions cost a map hit and a session with other
    * `maxPartitionBytes`/`openCostInBytes` gets its own estimate.
    * Inputs that are not file scans (memory streams, checkpoints) pass
    * through unchanged — their partitioning already reflects upstream
    * parallelism. */
  def spread(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism.toLong
    val rels = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => Seq(h)
        case _ => Seq.empty
      }
    }.flatten
    if (rels.isEmpty) return df
    val conf = spark.sessionState.conf
    val (maxBytes, openCost) =
      (conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
    val splits = Memo(spark, s"spread|$cores|$maxBytes|$openCost",
        rels.flatMap(_.location.rootPaths).map(_.toString)) {
      val sizes = rels.flatMap(
        _.location.listFiles(Nil, Nil).flatMap(_.files.map(_.getLen)))
      val maxSplit = math.min(maxBytes,
        math.max(openCost, sizes.map(_ + openCost).sum / math.max(1L, cores)))
      sizes.map(s => math.max(1L, (s + maxSplit - 1) / maxSplit)).sum
    }
    if (splits < cores) df.repartition(cores.toInt) else df
  }

  /** SQL-standard `ntile(k)` reconstructed from a total-order rank and the
    * row count — the scale-safe twin of `ntile(k).over(Window.orderBy(...))`
    * (which funnels ALL rows through one task): pair with [[zipRank]] for
    * the rank and a lazy 1-row count anchor for `n`. Semantics are exactly
    * ntile's: base size n/k, the first n%k buckets one larger. `rank` and
    * `n` are column names (BIGINT); returns an INT bucket in 1..k. */
  def ntileFromRank(rank: String, n: String, k: Int): String =
    s"""(CASE WHEN $rank <= ($n % $k) * ($n div $k + 1)
       | THEN CAST(($rank - 1) div ($n div $k + 1) + 1 AS INT)
       | ELSE CAST(($n % $k) +
       |   ($rank - ($n % $k) * ($n div $k + 1) - 1) div ($n div $k) + 1
       |   AS INT) END)""".stripMargin.replace("\n", "")

  /** Materializes independent 1-row/small anchor DataFrames CONCURRENTLY
    * (one `localCheckpoint` job each) instead of the sequential barrier
    * chain the N-audit queries paid before round 15: Spark's scheduler
    * runs concurrent jobs fine (FIFO back-fill — optimization guide
    * §2.6), so N independent anchor jobs cost ~max(job) wall-clock, not
    * sum(job). Results are identical to sequential checkpointing — each
    * plan is untouched, only the submission overlaps. Thread count is
    * bounded by the caller's list size (audit queries pass 5-6). */
  def parMat(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.sequence(dfs.map(df => Future(df.localCheckpoint()))),
      Duration.Inf)
  }

  /** Distributed dense 1-based rank over a total order: identical values to
    * `row_number().over(Window.orderBy(order))` but WITHOUT the
    * single-partition exchange that window needs — the sort is a
    * range-partitioned exchange and the index is computed per partition
    * (partition offset + local position) via RDD `zipWithIndex`. This is
    * the scale-safe dictionary/surrogate-key assigner (same shape as
    * `star.StarTransformer.buildDimScalable`); the order columns must be a
    * total order (no ties) for the ranks to be deterministic. */
  def zipRank(df: DataFrame, idxName: String, order: Column*): DataFrame = {
    // Materialize the sort once: zipWithIndex runs an internal job to
    // count per-partition rows before the indexing pass, and without the
    // checkpoint both passes would recompute the full upstream lineage.
    val sorted = df.orderBy(order: _*).localCheckpoint()
    val schema = sorted.schema
      .add(idxName, org.apache.spark.sql.types.LongType, nullable = false)
    sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
      }, schema)
  }
}

/** One verifiable operator: a Spark implementation plus (when the operator is
  * SQL-expressible) DuckDB oracle SQL over the same parquet tables.
  *
  * Two forms:
  *   - `GQuery(fn, oracle, doc)`: `fn` is DataFrame code and `oracle` the
  *     DuckDB text it must hash-match;
  *   - `GQuery.sql(text, doc)`: the query is written once. `oracle` is
  *     `Some(text)` and `fn` runs the same text on Spark, so the oracle
  *     check is DuckDB and Spark agreeing on one text. */
final case class GQuery(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object GQuery {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
  import org.apache.spark.sql.catalyst.plans.logical.{
    LogicalPlan, SubqueryAlias, UnresolvedWith}
  import org.apache.spark.sql.graftshim.Bridge

  /** A query whose Spark side is its oracle text. */
  def sql(text: String, doc: String = ""): GQuery =
    GQuery(SqlText(text), Some(text), doc)

  /** The `fn` of a [[sql]] query. */
  final case class SqlText(text: String)
      extends ((SparkSession, String) => DataFrame) {
    def apply(spark: SparkSession, dir: String): DataFrame =
      run(spark, dir, text)
  }

  /** Runs `text` on Spark over the testdata tables in `dir`.
    *
    * Tables are bound per call, with no temp view and no catalog write:
    * the text is parsed with the session's parser, and every single-part
    * table reference that names one of [[Sql.TableNames]] and is not a
    * CTE in scope becomes `Tables.load(spark, dir, name)`'s analyzed plan
    * under an alias of that name. So a session's own views are never
    * read or replaced, each reference gets fresh attribute ids (a
    * self-join resolves), the table-open [[Memo]] is hit, and `events.ts`
    * is a timestamp. A CTE named like a table shadows it in the main
    * query, its subqueries and later definitions, as in DuckDB; in its
    * own body (unless `WITH RECURSIVE`) the name is still the table, as
    * in Spark's analyzer (DuckDB rejects such text). CTE bodies are inner
    * children of `UnresolvedWith`, which a plain tree transform does not
    * reach, so they are bound explicitly; subquery plans are reached
    * through their expressions. */
  def run(spark: SparkSession, dir: String, text: String): DataFrame = {
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val tables = Sql.TableNames.toSet
    def bind(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      case w: UnresolvedWith =>
        var scope = ctes
        val rels = w.cteRelations.map { case (n, body, depth) =>
          val own = if (w.allowRecursion) scope + key(n) else scope
          scope += key(n)
          (n, bind(body, own).asInstanceOf[SubqueryAlias], depth)
        }
        w.copy(child = bind(w.child, scope), cteRelations = rels)
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 &&
          tables(key(u.name)) && !ctes(key(u.name)) =>
        SubqueryAlias(u.name,
          Bridge.analyzed(Tables.load(spark, dir, key(u.name))))
      case _ =>
        p.mapChildren(bind(_, ctes)).transformExpressions {
          case e: SubqueryExpression => e.withNewPlan(bind(e.plan, ctes))
        }
    }
    Bridge.ofRows(spark, bind(Bridge.parse(spark, text), Set.empty))
  }
}
