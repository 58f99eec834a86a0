package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality contract, evaluated in ONE corpus pass — the
  * check suite a pipeline runs before publishing a table (the
  * deequ/Great-Expectations shape, Spark-first): every expectation
  * compiles to aggregate METRIC columns of a single `agg`, so the whole
  * contract costs one scan with map-side partials regardless of how many
  * checks it carries (`Unique` adds Spark's multi-count-distinct Expand,
  * the same plan a manual `countDistinct` would make). The report is a
  * DataFrame — store it next to the data, diff it across snapshots, gate
  * the publish on `failed == 0`.
  *
  * Checks are threshold-based rather than boolean (a 100 TB corpus is
  * never perfectly clean): `NotNull(c, maxNullFrac)` passes while the
  * null fraction stays under budget, `MatchesRegex(c, re, minFrac)`
  * while the match rate stays above it, and so on. Exact-decimal checks
  * deliberately avoided: metrics here are doubles for REPORTING, the
  * pass verdict compares against the caller's threshold only.
  */
object Expectations {

  sealed trait Expectation {
    /** Stable row id in the report. Labels carry the expectation's
      * PARAMETERS (value set, pattern, interval), not just the column —
      * two checks on the same column with different parameters must
      * produce distinguishable report rows (ADVICE r7). Long payloads
      * collapse to a short content hash so the label stays readable. */
    def label: String
  }

  /** Column reference by LITERAL name: flattened sources produce columns
    * with dots in their names (`detail.total` collapse), which a bare
    * `col(...)` would mis-parse as struct-field extraction. */
  private def qcol(c: String): Column =
    col(s"`${c.replace("`", "``")}`")

  /** Inline `payload` into a label when short; otherwise a stable 8-hex
    * md5 prefix — same distinguishing power, bounded width. */
  private def short(payload: String): String =
    if (payload.length <= 40) payload
    else java.security.MessageDigest.getInstance("MD5")
      .digest(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString

  /** Null fraction of `col` must be ≤ `maxNullFrac`. */
  final case class NotNull(col: String, maxNullFrac: Double = 0.0)
      extends Expectation {
    def label = s"not_null($col)"
  }

  /** The column combination must be unique (distinct count == row count,
    * null rows excluded from both sides). */
  final case class Unique(cols: Seq[String]) extends Expectation {
    def label = s"unique(${cols.mkString(",")})"
  }

  /** Fraction of non-null values inside [lo, hi] must be ≥ `minFrac`. */
  final case class InRange(col: String, lo: Double, hi: Double,
      minFrac: Double = 1.0) extends Expectation {
    def label = s"in_range($col,$lo,$hi)"
  }

  /** Fraction of non-null values in the allowed set must be ≥ `minFrac`. */
  final case class InSet(col: String, values: Seq[String],
      minFrac: Double = 1.0) extends Expectation {
    def label = s"in_set($col,{${short(values.mkString("|"))}})"
  }

  /** Fraction of non-null values matching `re` must be ≥ `minFrac`. */
  final case class MatchesRegex(col: String, re: String,
      minFrac: Double = 1.0) extends Expectation {
    def label = s"matches_regex($col,${short(re)})"
  }

  /** Total row count must land in [lo, hi]. The report's numeric
    * `threshold` column holds `lo`; the FULL interval lives in the label
    * (the report schema keeps one double threshold per row). */
  final case class RowCountBetween(lo: Long, hi: Long) extends Expectation {
    def label = s"row_count_between($lo,$hi)"
  }

  /** The observed metric (fraction or count), its threshold, and the
    * verdict — one report row per expectation. */
  private def metricCols(e: Expectation): Seq[Column] = e match {
    case NotNull(c, _) =>
      Seq(avg(qcol(c).isNull.cast("double")))
    case Unique(cs) =>
      val nonNull = cs.map(qcol(_).isNotNull).reduce(_ && _)
      Seq(countDistinct(qcol(cs.head), cs.tail.map(qcol): _*).cast("double"),
        sum(nonNull.cast("long")).cast("double"))
    case InRange(c, lo, hi, _) =>
      Seq(avg(when(qcol(c).isNotNull,
        qcol(c).between(lo, hi).cast("double"))))
    case InSet(c, vs, _) =>
      Seq(avg(when(qcol(c).isNotNull,
        qcol(c).cast("string").isin(vs: _*).cast("double"))))
    case MatchesRegex(c, re, _) =>
      Seq(avg(when(qcol(c).isNotNull,
        qcol(c).cast("string").rlike(re).cast("double"))))
    case RowCountBetween(_, _) =>
      Seq(count(lit(1)).cast("double"))
  }

  private def verdict(e: Expectation, ms: Seq[Double])
      : (Double, Double, Boolean) = e match {
    case NotNull(_, maxNull) =>
      val nf = if (ms.head.isNaN) 0.0 else ms.head
      (nf, maxNull, nf <= maxNull)
    case Unique(_) =>
      // metric reported as the duplicate fraction (0 = unique); an empty
      // (or all-null-key) frame has no rows to collide — NaN denominator
      val dup =
        if (ms(1).isNaN || ms(1) == 0.0) 0.0 else 1.0 - ms.head / ms(1)
      (dup, 0.0, dup == 0.0)
    case InRange(_, _, _, minFrac) =>
      val f = if (ms.head.isNaN) 1.0 else ms.head
      (f, minFrac, f >= minFrac)
    case InSet(_, _, minFrac) =>
      val f = if (ms.head.isNaN) 1.0 else ms.head
      (f, minFrac, f >= minFrac)
    case MatchesRegex(_, _, minFrac) =>
      val f = if (ms.head.isNaN) 1.0 else ms.head
      (f, minFrac, f >= minFrac)
    case RowCountBetween(lo, hi) =>
      (ms.head, lo.toDouble, ms.head >= lo && ms.head <= hi)
  }

  /** Evaluate the contract: one aggregate job over `df`, one report row
    * per expectation: (expectation, metric, threshold, passed). */
  def check(df: DataFrame, expectations: Seq[Expectation]): DataFrame = {
    require(expectations.nonEmpty, "empty contract")
    val spark = df.sparkSession
    import spark.implicits._
    val cols = expectations.flatMap(metricCols)
      .zipWithIndex.map { case (c, i) => c.as(s"m$i") }
    val row = df.agg(cols.head, cols.tail: _*).head()
    var idx = 0
    expectations.map { e =>
      val n = metricCols(e).size
      val ms = (0 until n).map { j =>
        val v = row.get(idx + j)
        if (v == null) Double.NaN else v.asInstanceOf[Double]
      }
      idx += n
      val (metric, threshold, ok) = verdict(e, ms)
      (e.label, metric, threshold, ok)
    }.toDF("expectation", "metric", "threshold", "passed")
  }

  /** True when every expectation in the report passed — the publish gate. */
  def allPassed(report: DataFrame): Boolean =
    report.filter(!col("passed")).isEmpty

  /** ZERO-extra-pass variant of [[check]] via Spark's `observe()`: the
    * contract's metric columns ride the caller's OWN action (typically
    * the table write), collected by accumulators during that job — at
    * 100 TB the difference between [[check]] and this is one full
    * corpus scan. Usage:
    *
    * {{{
    * val (instrumented, report) = Expectations.observed(df, contract)
    * instrumented.write.parquet(out)   // the action you were running anyway
    * val rep = report()                // metrics from THAT job, no rescan
    * }}}
    *
    * `report()` waits (bounded, 60 s) for the first action over the
    * instrumented frame to complete — run the write before calling it;
    * a caller that forgot the action gets a descriptive error instead
    * of an indefinite `Observation.get` hang. Inherited restriction
    * from Observation: distinct aggregates are not allowed in observed
    * metrics, so [[Unique]] contracts are rejected here — route those
    * through [[check]] (its countDistinct genuinely needs the shuffle a
    * passive observation cannot perform). */
  def observed(df: DataFrame, expectations: Seq[Expectation],
      timeoutSec: Long = 60L)
      : (DataFrame, () => DataFrame) = {
    val spark = df.sparkSession
    val (instrumented, rows) = observedRows(df, expectations, timeoutSec)
    val report = () => {
      import spark.implicits._
      rows().toDF("expectation", "metric", "threshold", "passed")
    }
    (instrumented, report)
  }

  /** Like [[observed]] but the report comes back as LOCAL tuples — the
    * shape a caller uses to land the verdicts entirely driver-side
    * (e.g. a small CSV next to the data) without ANY follow-up Spark
    * job. `Observation.get` itself is accumulator-backed: the metrics
    * were collected by the caller's own action, and materializing them
    * here is a driver-memory read. */
  def observedRows(df: DataFrame, expectations: Seq[Expectation],
      timeoutSec: Long = 60L)
      : (DataFrame, () => Seq[(String, Double, Double, Boolean)]) = {
    require(expectations.nonEmpty, "empty contract")
    require(!expectations.exists(_.isInstanceOf[Unique]),
      "Unique needs countDistinct, which observe() cannot collect — " +
        "run Unique contracts through check()")
    val (instrumented, values) = observedValues(df,
      expectations.flatMap(metricCols), timeoutSec)
    val rows = () => {
      val row = values()
      var idx = 0
      expectations.map { e =>
        val n = metricCols(e).size
        val ms = (0 until n).map { j =>
          val v = row(idx + j)
          if (v == null) Double.NaN else v.asInstanceOf[Double]
        }
        idx += n
        val (metric, threshold, ok) = verdict(e, ms)
        (e.label, metric, threshold, ok)
      }
    }
    (instrumented, rows)
  }

  /** The mechanism under [[observedRows]], for any aggregate columns:
    * `df` instrumented with `metrics` via `observe()`, and a reader of
    * their values in `metrics` order. The values are collected by
    * accumulators during the first action over the instrumented frame;
    * the reader waits for that action, bounded by `timeoutSec`. Several
    * observations may ride one action (each call makes its own). */
  def observedValues(df: DataFrame, metrics: Seq[Column],
      timeoutSec: Long = 60L): (DataFrame, () => Seq[Any]) = {
    require(metrics.nonEmpty, "no metrics to observe")
    val named = metrics.zipWithIndex.map { case (c, i) => c.as(s"m$i") }
    val obs = org.apache.spark.sql.Observation()
    val instrumented = df.observe(obs, named.head, named.tail: _*)
    val values = () => {
      // bounded wait: Observation.get blocks FOREVER when no action has
      // run over the instrumented frame (and its non-blocking readers
      // are private[sql]) — wait on a disposable daemon thread and fail
      // with a usable message instead of hanging the caller
      val holder = new java.util.concurrent
        .ArrayBlockingQueue[Map[String, Any]](1)
      val waiter = new Thread(() => {
        try holder.put(obs.get)
        catch { case _: InterruptedException => }
      })
      waiter.setDaemon(true)
      waiter.start()
      val m = holder.poll(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (m == null) {
        waiter.interrupt()
        throw new IllegalStateException(
          s"no observed metrics after ${timeoutSec}s — run an action " +
            "(write/count) over the INSTRUMENTED DataFrame before " +
            "reading the report")
      }
      metrics.indices.map(i => m.get(s"m$i").orNull)
    }
    (instrumented, values)
  }
}
