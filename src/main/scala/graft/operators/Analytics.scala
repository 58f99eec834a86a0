package graft.operators

import graft.{Fns, GQuery, Memo, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Checkpoint.CutOps

/** Analytical operators beyond the reference's own surface (SURVEY.md §2
  * extensions): exact percentiles, offset windows (lag/lead), ntile
  * bucketing, ordered string aggregation, histogram binning, and filtered
  * (conditional) aggregates. All are single-shuffle grouped/window shapes
  * with deterministic, oracle-matched formulations.
  *
  * Scale notes: every query here shuffles once on its grouping/partition
  * key and aggregates with map-side partials (or windows within partitions
  * — no global sort except the final presentation ORDER BY, which at 100 TB
  * would be dropped or replaced by a top-k). Exact `percentile` needs the
  * group's values on one partition (Spark collects a sorted buffer per
  * group); for corpus-wide percentiles at scale use approx_percentile —
  * noted inline. */
object Analytics {
  import Fns._

  /** Per-event-type theta sketch table `(scope, sk binary)` — one corpus
    * pass of map-side partials rolled up by a mapGroups union (shared by
    * q_theta_overlap / q_theta_diff; production stores the partials). */
  private def thetaScoped(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.functions.ThetaSketch
      .partials(Tables.load(s, d, "events")
        .select($"event_type", $"user_id"), $"event_type", $"user_id")
      .as[(String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (sc, it) =>
        (sc, graft.functions.ThetaSketch.union(it.map(_._2).toSeq)
          .toByteArray)
      }
      .toDF("scope", "sk")
  }

  /** The ranks q_kll_quantiles asks for (shared by its Spark body and
    * its build-time oracle literals). */
  private val KllPs = Seq(0.25, 0.5, 0.75, 0.95)

  val queries: Seq[(String, GQuery)] = Seq(

    // exact interpolated percentiles per group. Both engines implement the
    // same (n-1)*p linear interpolation over the sorted group, so the
    // doubles match bit-for-bit. At 100 TB the per-group sort buffer is the
    // cost — switch to approx_percentile (t-digest) when groups are huge.
    "q_percentile" -> GQuery(
      (s, d) => {
        import s.implicits._
        // one percentile BUFFER per (group, column), not per requested
        // percentile: the array form sorts each group's values once and
        // reads both quantiles from it (two scalar calls built two
        // buffers and sorted twice)
        Tables.load(s, d, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            expr("percentile(l_quantity, array(0.5, 0.9))").as("p_qty"),
            expr("percentile(l_extendedprice, 0.25)").as("p25_price"))
          .select($"l_returnflag",
            element_at($"p_qty", 1).as("p50_qty"),
            element_at($"p_qty", 2).as("p90_qty"),
            $"p25_price")
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "exact interpolated percentiles per group"),

    // Robust statistics per group: median absolute deviation and
    // IQR-fence outlier counts — the outlier-tolerant dispersion pair
    // that mean/stddev monitoring breaks on. Two-pass shape: quantiles
    // per group (percentile buffers, partial-agg), broadcast the tiny
    // per-group stats back, one more pass for MAD + fence counts. All
    // arithmetic is double over identical operands; interpolated
    // percentiles already proven engine-identical by q_percentile.
    "q_robust_stats" -> GQuery(
      (s, d) => {
        import s.implicits._
        val li = Tables.load(s, d, "lineitem")
          .select($"l_returnflag", $"l_quantity")
        val qs = li.groupBy($"l_returnflag")
          .agg(
            expr("percentile(l_quantity, 0.5)").as("med_qty"),
            expr("percentile(l_quantity, 0.25)").as("p25"),
            expr("percentile(l_quantity, 0.75)").as("p75"))
        li.join(broadcast(qs), "l_returnflag")
          .groupBy($"l_returnflag", $"med_qty", $"p25", $"p75")
          .agg(
            expr("percentile(abs(l_quantity - med_qty), 0.5)").as("mad_qty"),
            sum(when(
              $"l_quantity" < $"p25" - ($"p75" - $"p25") * 1.5 ||
                $"l_quantity" > $"p75" + ($"p75" - $"p25") * 1.5,
              1L).otherwise(0L)).as("n_outliers"),
            count(lit(1)).as("n_rows"))
          .select($"l_returnflag", $"med_qty", $"mad_qty",
            ($"p75" - $"p25").as("iqr_qty"), $"n_outliers", $"n_rows")
          .orderBy($"l_returnflag")
      },
      Some("""WITH q AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_quantity, 0.5) AS med_qty,
        |    quantile_cont(l_quantity, 0.25) AS p25,
        |    quantile_cont(l_quantity, 0.75) AS p75
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, q.med_qty,
        |  quantile_cont(abs(l.l_quantity - q.med_qty), 0.5) AS mad_qty,
        |  (q.p75 - q.p25) AS iqr_qty,
        |  CAST(SUM(CASE WHEN l.l_quantity < q.p25 - (q.p75 - q.p25) * 1.5
        |    OR l.l_quantity > q.p75 + (q.p75 - q.p25) * 1.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem l JOIN q USING (l_returnflag)
        |GROUP BY l.l_returnflag, q.med_qty, q.p25, q.p75
        |ORDER BY l.l_returnflag""".stripMargin),
      "median absolute deviation + IQR-fence outliers per group"),

    // Robust time-series anomaly flagging: daily event volumes scored by
    // modified z-score against the median/MAD of all days (mean/stddev
    // breaks when the anomaly itself inflates the baseline). Two tiny
    // global aggregates broadcast back over the daily series; the 1.4826
    // MAD-consistency constant and the 3.0 fence are written identically
    // on both engines so the score doubles agree bit-for-bit.
    "q_anomaly_days" -> GQuery(
      (s, d) => {
        import s.implicits._
        // day-grain (calendar-bounded) consumed by THREE passes (median,
        // MAD, readout) — checkpoint so the corpus scan runs once; the
        // 1-row median anchor likewise feeds both MAD and the readout
        // (r13 audit: singlepart x3 from the duplicated subtrees)
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n_events"))
        val med = daily.agg(expr("percentile(n_events, 0.5)").as("med"))
        val mad = daily.crossJoin(broadcast(med))
          .agg(expr("percentile(abs(n_events - med), 0.5)").as("mad"))
        // MAD = 0 (uniform data) must be well-defined identically on both
        // engines: graft sessions run Spark's ANSI mode, where a double
        // x/0 throws DIVIDE_BY_ZERO (the whole query fails), while
        // DuckDB's IEEE mode gives inf. nullif(mad, 0) pins the
        // degenerate case to NULL score/flag on BOTH sides instead of
        // depending on the data never producing a zero MAD (pinned by
        // AnsiOverflowSpec).
        val madNz = nullif($"mad", lit(0.0))
        daily.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
          .select($"day", $"n_events",
            round(($"n_events" - $"med") / (lit(1.4826) * madNz), 6)
              .as("score"),
            (abs($"n_events" - $"med") > lit(3.0) * lit(1.4826) * madNz)
              .as("is_anomaly"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |m AS (SELECT quantile_cont(n_events, 0.5) AS med FROM daily),
        |md AS (SELECT quantile_cont(abs(n_events - med), 0.5) AS mad
        |       FROM daily, m)
        |SELECT day, n_events,
        |  round((n_events - med) / (1.4826 * nullif(mad, 0)), 6) AS score,
        |  abs(n_events - med) > 3.0 * 1.4826 * nullif(mad, 0) AS is_anomaly
        |FROM daily, m, md ORDER BY day""".stripMargin),
      "robust (median/MAD) daily-volume anomaly flags"),

    // Market-basket association rules: part pairs co-occurring in the
    // same order, scored by support / confidence / lift — frequent-
    // itemset mining's 2-itemset core. The self-join is keyed on
    // o_orderkey so fan-out is bounded by order WIDTH (a few lines per
    // order), never corpus size; per-part order counts ride in via two
    // broadcast joins of the tiny part-frequency dim. Ratios are single
    // IEEE divisions of exact counts, rounded to 6 dp.
    "q_market_basket" -> GQuery(
      (s, d) => {
        import s.implicits._
        // items feeds freq, the order-count anchor and BOTH pair sides.
        // r15 materialized it; r16 re-adjudicated at the driver's
        // local[32] config and the LAZY form wins (isolated min-of-5:
        // 1.19 vs 1.48 s): the four subtree copies all end in the SAME
        // distinct exchange, so the shuffle files are built once and
        // reused (ReuseExchange) without any checkpoint barrier
        val items = Tables.load(s, d, "lineitem")
          .select($"l_orderkey", $"l_partkey").distinct()
        val freq = items.groupBy($"l_partkey")
          .agg(count(lit(1)).as("n_part"))
        // the order-universe size rides in as a one-row broadcast (the
        // q_decay_revenue/q_rfm anchor-scalar recipe) — an eager .count()
        // here would run Spark jobs during plan CONSTRUCTION, so every
        // bench rep re-pays it outside the measured plan
        val nOrders = items.agg(
          countDistinct($"l_orderkey").cast("double").as("n_orders"))
        val a = items.select($"l_orderkey", $"l_partkey".as("p1"))
        val b = items.select($"l_orderkey", $"l_partkey".as("p2"))
        a.join(b, Seq("l_orderkey")).filter($"p1" < $"p2")
          .groupBy($"p1", $"p2").agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= 3)
          .join(broadcast(freq.select($"l_partkey".as("p1"),
            $"n_part".as("n_a"))), "p1")
          .join(broadcast(freq.select($"l_partkey".as("p2"),
            $"n_part".as("n_b"))), "p2")
          .crossJoin(broadcast(nOrders))
          .select($"p1", $"p2", $"n_ab",
            round($"n_ab".cast("double") / $"n_orders", 6)
              .as("support"),
            round($"n_ab".cast("double") / $"n_a".cast("double"), 6)
              .as("confidence"),
            round(($"n_ab".cast("double") * $"n_orders") /
              ($"n_a".cast("double") * $"n_b".cast("double")), 6)
              .as("lift"))
          .orderBy($"lift".desc, $"p1", $"p2")
          .limit(20)
      },
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |freq AS (SELECT l_partkey, COUNT(*) AS n_part FROM items
        |         GROUP BY 1),
        |n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
        |      FROM items),
        |p AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT p1, p2, n_ab,
        |  round(CAST(n_ab AS DOUBLE) / n.n_orders, 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(fa.n_part AS DOUBLE), 6)
        |    AS confidence,
        |  round((CAST(n_ab AS DOUBLE) * n.n_orders)
        |    / (CAST(fa.n_part AS DOUBLE) * CAST(fb.n_part AS DOUBLE)), 6)
        |    AS lift
        |FROM p JOIN freq fa ON p.p1 = fa.l_partkey
        |       JOIN freq fb ON p.p2 = fb.l_partkey, n
        |ORDER BY lift DESC, p1, p2 LIMIT 20""".stripMargin),
      "market-basket 2-itemset rules: support / confidence / lift"),

    // Time-decayed revenue per customer: each order contributes
    // totalprice * exp(-age_days/30) relative to the corpus's latest
    // order date — the recency-weighted feature recommender and churn
    // models consume. Exactness: the decay weight is rounded to 9 dp and
    // becomes a DECIMAL multiplied by exact integer cents, so the
    // per-customer sum is order-independent (the 9-dp-log recipe applied
    // to exp). The anchor date is a broadcast scalar; one customer-keyed
    // partial agg.
    "q_decay_revenue" -> GQuery(
      (s, d) => {
        import s.implicits._
        val o = Tables.load(s, d, "orders")
          .select($"o_custkey", to_date($"o_orderdate").as("day"),
            round($"o_totalprice" * 100, 0).cast("bigint").as("cents"))
        val anchor = o.agg(max($"day").as("ref"))
        o.crossJoin(broadcast(anchor))
          .select($"o_custkey",
            (round(exp(-datediff($"ref", $"day").cast("double") / 30.0), 9)
              .cast("decimal(12,9)") * $"cents").as("wrev"))
          .groupBy($"o_custkey")
          .agg(count(lit(1)).as("n_orders"), sum($"wrev").as("dsum"))
          .select($"o_custkey", $"n_orders",
            round($"dsum".cast("double") / 100.0, 6).as("decayed_rev"))
          .orderBy($"decayed_rev".desc, $"o_custkey")
          .limit(20)
      },
      Some("""WITH o AS (
        |  SELECT o_custkey, CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)
        |      AS day,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |a AS (SELECT MAX(day) AS ref FROM o),
        |w AS (
        |  SELECT o_custkey,
        |    CAST(round(exp(-CAST(datediff('day', day, a.ref) AS DOUBLE)
        |      / 30.0), 9) AS DECIMAL(12,9)) * cents AS wrev
        |  FROM o, a)
        |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  round(CAST(SUM(wrev) AS DOUBLE) / 100.0, 6) AS decayed_rev
        |FROM w GROUP BY o_custkey
        |ORDER BY decayed_rev DESC, o_custkey LIMIT 20""".stripMargin),
      "time-decayed (exp, 30-day) revenue per customer, top-20"),

    // RFM segmentation: recency / frequency / monetary quintiles per
    // customer, concatenated into the classic 3-digit segment code.
    // Quintile semantics are SQL ntile's over (value, custkey) — but the
    // PLAN never runs `ntile().over(Window.orderBy(...))`, which funnels
    // every customer through ONE task: each quintile comes from a
    // range-partitioned total-order rank (Fns.zipRank — the q_prefix_join
    // dictionary recipe) plus explicit ntile arithmetic
    // (Fns.ntileFromRank) against a lazy 1-row count anchor. Value-
    // identical to ntile (the DuckDB oracle still uses real ntile — the
    // hash match proves the arithmetic), with no single-partition
    // exchange at any customer count. Monetary sums in exact cents.
    // Output is the segment population summary (125 possible segments).
    "q_rfm" -> GQuery(
      (s, d) => {
        import s.implicits._
        val o = Tables.load(s, d, "orders")
          .select($"o_custkey", to_date($"o_orderdate").as("day"),
            round($"o_totalprice" * 100, 0).cast("bigint").as("cents"))
        val anchor = o.agg(max($"day").as("ref"))
        val cust = o.crossJoin(broadcast(anchor))
          .groupBy($"o_custkey")
          .agg(min(datediff($"ref", $"day")).as("recency_days"),
            count(lit(1)).as("frequency"),
            sum($"cents").as("monetary_cents"))
        // r16: the three quintile ranks used to build as NESTED zipRanks
        // — six SEQUENTIAL jobs (each zipRank is a checkpoint job plus
        // zipWithIndex's partition-count job) re-sorting the full
        // customer row set three times. The rankings are independent, so
        // rank each (key, custkey) projection CONCURRENTLY (guide §2.6)
        // off one materialized cust table and join the three thin
        // (custkey, rank) tables back — same rank values by construction
        // (zipRank over the same total orders), ~2 job waves instead of 6
        val custM = cust.cut
        val nc = custM.agg(count(lit(1)).as("nc"))
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        val rankTables = Await.result(Future.sequence(Seq(
          Future(Fns.zipRank(custM.select($"o_custkey", $"recency_days"),
            "r_rank", $"recency_days", $"o_custkey")
            .select($"o_custkey", $"r_rank")),
          Future(Fns.zipRank(custM.select($"o_custkey", $"frequency"),
            "f_rank", $"frequency".desc, $"o_custkey")
            .select($"o_custkey", $"f_rank")),
          Future(Fns.zipRank(custM.select($"o_custkey", $"monetary_cents"),
            "m_rank", $"monetary_cents".desc, $"o_custkey")
            .select($"o_custkey", $"m_rank")))), Duration.Inf)
        val ranked = rankTables.foldLeft(custM)(_.join(_, "o_custkey"))
        ranked.crossJoin(broadcast(nc))
          .withColumn("r", expr(Fns.ntileFromRank("r_rank", "nc", 5)))
          .withColumn("f", expr(Fns.ntileFromRank("f_rank", "nc", 5)))
          .withColumn("m", expr(Fns.ntileFromRank("m_rank", "nc", 5)))
          .withColumn("segment", concat($"r", $"f", $"m"))
          .groupBy($"segment")
          .agg(count(lit(1)).as("n_customers"),
            sum($"monetary_cents").as("seg_cents"))
          .select($"segment", $"n_customers",
            round($"seg_cents".cast("double") / 100.0, 2).as("seg_revenue"))
          .orderBy($"segment")
      },
      Some("""WITH o AS (
        |  SELECT o_custkey, CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)
        |      AS day,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |a AS (SELECT MAX(day) AS ref FROM o),
        |c AS (
        |  SELECT o_custkey,
        |    CAST(MIN(datediff('day', day, a.ref)) AS BIGINT)
        |      AS recency_days,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(cents) AS BIGINT) AS monetary_cents
        |  FROM o, a GROUP BY o_custkey),
        |t AS (
        |  SELECT *,
        |    ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r,
        |    ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
        |    ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m
        |  FROM c)
        |SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR)
        |    || CAST(m AS VARCHAR) AS segment,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  round(CAST(SUM(monetary_cents) AS DOUBLE) / 100.0, 2)
        |    AS seg_revenue
        |FROM t GROUP BY 1 ORDER BY segment""".stripMargin),
      "RFM quintile segmentation with segment population summary"),

    // Equi-depth (quantile-bucket) histogram of extended price: ntile
    // semantics assign equal-population buckets, each reporting its span
    // and count — the statistics shape optimizers and drift monitors want
    // when equal-WIDTH buckets collapse under skew (cf. q_histogram).
    // Over the FACT table, so the global `ntile().over(...)` form would
    // be the worst single-partition window in the repo (every lineitem
    // row through one task); instead: range-partitioned total-order rank
    // (Fns.zipRank) + explicit ntile arithmetic (Fns.ntileFromRank) vs a
    // lazy count anchor — the full sort equi-depth inherently needs, but
    // distributed. DuckDB oracle keeps real ntile; the hash match proves
    // the arithmetic.
    "q_histogram_eqd" -> GQuery(
      (s, d) => {
        import s.implicits._
        val li = Tables.load(s, d, "lineitem")
          .select($"l_extendedprice", $"l_orderkey", $"l_linenumber")
        val n = li.agg(count(lit(1)).as("nr"))
        Fns.zipRank(li, "rk", $"l_extendedprice", $"l_orderkey",
            $"l_linenumber")
          .crossJoin(broadcast(n))
          .withColumn("bucket", expr(Fns.ntileFromRank("rk", "nr", 10)))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_rows"),
            min($"l_extendedprice").as("lo"),
            max($"l_extendedprice").as("hi"))
          .orderBy($"bucket")
      },
      Some("""SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM (
        |  SELECT l_extendedprice,
        |    ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
        |      l_linenumber) AS bucket
        |  FROM lineitem)
        |GROUP BY bucket ORDER BY bucket""".stripMargin),
      "equi-depth 10-bucket histogram of extended price"),

    // Period-over-period comparison: monthly revenue with its
    // year-earlier value and YoY growth — the reporting shape behind
    // every trend dashboard. The year-earlier value comes from a CALENDAR
    // self-join (month = prev month + 12 months), not a positional
    // lag(12): a gap in the month series would silently make lag's
    // "previous year" a different month (both engines consistently, so an
    // oracle can't catch the drift). Revenue is exact cents; growth is one
    // IEEE division rounded to 6 dp; months with no year-earlier row keep
    // NULL growth on both engines.
    "q_yoy_growth" -> GQuery(
      (s, d) => {
        import s.implicits._
        val m = Tables.load(s, d, "orders")
          .groupBy(to_date(date_trunc("month", $"o_orderdate")).as("month"))
          .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint"))
            .as("cents"))
        val prev = m.select(add_months($"month", 12).as("month"),
          $"cents".as("prev_year_cents"))
        m.join(prev, Seq("month"), "left")
          .select($"month",
            round($"cents".cast("double") / 100.0, 2).as("revenue"),
            round($"prev_year_cents".cast("double") / 100.0, 2)
              .as("prev_year_revenue"),
            round(($"cents" - $"prev_year_cents").cast("double") /
              $"prev_year_cents".cast("double"), 6).as("yoy_growth"))
          .orderBy($"month")
      },
      Some("""WITH m AS (
        |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
        |      AS DATE) AS month,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |p AS (SELECT CAST(month + INTERVAL 12 MONTH AS DATE) AS month,
        |    cents AS prev_year_cents FROM m)
        |SELECT month,
        |  round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
        |  round(CAST(prev_year_cents AS DOUBLE) / 100.0, 2)
        |    AS prev_year_revenue,
        |  round(CAST(cents - prev_year_cents AS DOUBLE)
        |    / CAST(prev_year_cents AS DOUBLE), 6) AS yoy_growth
        |FROM m LEFT JOIN p USING (month) ORDER BY month""".stripMargin),
      "monthly revenue with year-over-year growth (calendar self-join)"),

    // offset windows: previous/next order price per customer, in order-date
    // order. Pure value movement, no arithmetic — engine-identical.
    "q_lag_lead" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        Tables.load(s, d, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice",
            lag($"o_totalprice", 1).over(w).as("prev_price"),
            lead($"o_totalprice", 1).over(w).as("next_price"))
          .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin),
      "lag/lead offset windows per customer"),

    // ntile bucketing: price quartile within each order priority. The
    // window ORDER BY carries a unique tie-break (o_orderkey) so bucket
    // assignment is total-order deterministic on both engines.
    "q_ntile" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderpriority")
          .orderBy($"o_totalprice", $"o_orderkey")
        Tables.load(s, d, "orders")
          .select($"o_orderkey", $"o_orderpriority",
            ntile(4).over(w).as("quartile"))
          .orderBy($"o_orderpriority", $"quartile", $"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
        |FROM orders
        |ORDER BY o_orderpriority, quartile, o_orderkey""".stripMargin),
      "ntile quartile bucketing per priority"),

    // ordered string aggregation per nation: collect_list carries no order
    // guarantee, so the list is array_sort'ed before joining — mirrored by
    // DuckDB's ORDER BY inside string_agg. Names are ASCII, so Spark's
    // binary sort and DuckDB's collation agree.
    "q_string_agg" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "customer")
          .join(broadcast(Tables.load(s, d, "nation")),
            $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(
            count(lit(1)).as("n_customers"),
            array_join(array_sort(collect_list($"c_name")), "|").as("names"))
          .orderBy($"n_name")
      },
      Some("""SELECT n_name, COUNT(*) AS n_customers,
        |  string_agg(c_name, '|' ORDER BY c_name) AS names
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
      "ordered string aggregation per nation"),

    // histogram binning: fixed-width price buckets with exact decimal
    // sums. floor of a double division is engine-identical; the bucket key
    // shuffles with map-side partial counts.
    "q_histogram" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "lineitem")
          .select((floor($"l_extendedprice" / 5000.0)).as("bucket"),
            $"l_extendedprice")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"), dsum2($"l_extendedprice").as("sum_price"))
          .orderBy($"bucket")
      },
      Some(s"""SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n, ${sqlDsum2("l_extendedprice")} AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin),
      "fixed-width histogram with exact sums"),

    // 7-day moving aggregate via a RANGE window frame: the frame is keyed
    // on an integer day number, so "6 days preceding" is a rangeBetween in
    // days — the time-series smoothing shape. Decimal sums keep the frame
    // aggregation order-insensitive; one shuffle on the partition key.
    "q_moving_avg" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"day_num")
          .rangeBetween(-6, Window.currentRow)
        Tables.load(s, d, "orders")
          .withColumn("day_num",
            datediff($"o_orderdate", to_date(lit("1992-01-01"))))
          .withColumn("sum_7d",
            sum($"o_totalprice".cast(D18_2)).over(w).cast("double"))
          .withColumn("n_7d", count(lit(1)).over(w))
          .select($"o_orderkey", $"o_custkey", $"o_orderdate",
            $"sum_7d", $"n_7d")
          .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_7d,
        |  COUNT(*) OVER w AS n_7d
        |FROM (SELECT *, datediff('day', DATE '1992-01-01',
        |        CAST(o_orderdate AS DATE)) AS day_num FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin),
      "7-day moving sum/count via range window frame"),

    // covariance + correlation per group WITHOUT covar_samp/corr (whose
    // float accumulation is summation-order-dependent): the moment sums are
    // exact decimals, converted to double once, and the closed-form
    // combination runs in identical IEEE double ops on both engines.
    "q_covar_corr" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum($"l_quantity".cast(D18_2)).cast("double").as("sx"),
            sum($"l_extendedprice".cast(D18_2)).cast("double").as("sy"),
            sum(($"l_quantity".cast(D18_2) * $"l_quantity".cast(D18_2)))
              .cast("double").as("sxx"),
            sum(($"l_extendedprice".cast(D18_2) * $"l_extendedprice".cast(D18_2)))
              .cast("double").as("syy"),
            sum(($"l_quantity".cast(D18_2) * $"l_extendedprice".cast(D18_2)))
              .cast("double").as("sxy"))
          .select($"l_returnflag", $"n",
            (($"sxy" - $"sx" * $"sy" / $"n") / $"n").as("covar_pop"),
            ((($"sxy" - $"sx" * $"sy" / $"n") / $"n") /
              (sqrt(($"sxx" - $"sx" * $"sx" / $"n") / $"n") *
                sqrt(($"syy" - $"sy" * $"sy" / $"n") / $"n"))).as("corr"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (sxy - sx * sy / n) / n AS covar_pop,
        |  ((sxy - sx * sy / n) / n) /
        |    (sqrt((sxx - sx * sx / n) / n) * sqrt((syy - sy * sy / n) / n)) AS corr
        |FROM m ORDER BY l_returnflag""".stripMargin),
      "exact-moment covariance and correlation per group"),

    // set operations: INTERSECT/EXCEPT (distinct semantics on both
    // engines). Customers appearing in both market segments' order sets vs
    // only the first — each side is a distinct projection, so the set op
    // shuffles only distinct keys.
    "q_set_ops" -> GQuery(
      (s, d) => {
        import s.implicits._
        val o = Tables.load(s, d, "orders")
          .join(Tables.load(s, d, "customer"),
            $"o_custkey" === $"c_custkey")
        val a = o.filter($"c_mktsegment" === "BUILDING")
          .select($"c_nationkey")
        val b = o.filter($"c_mktsegment" === "MACHINERY")
          .select($"c_nationkey")
        a.intersect(b).withColumn("op", lit("both"))
          .unionByName(a.except(b).withColumn("op", lit("building_only")))
          .orderBy($"op", $"c_nationkey")
      },
      Some("""WITH o AS (SELECT c_nationkey, c_mktsegment
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |a AS (SELECT c_nationkey FROM o WHERE c_mktsegment = 'BUILDING'),
        |b AS (SELECT c_nationkey FROM o WHERE c_mktsegment = 'MACHINERY')
        |SELECT c_nationkey, 'both' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT c_nationkey, 'building_only' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |ORDER BY op, c_nationkey""".stripMargin),
      "INTERSECT / EXCEPT distinct set operations"),

    // null-handling scalar functions: coalesce, nullif, and null-aware
    // comparison over a column with injected nulls (acctbal <= 0 mapped to
    // null by nullif-like gating) — engine-identical semantics.
    "q_null_funcs" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "customer")
          .select($"c_custkey",
            nullif($"c_mktsegment", lit("BUILDING")).as("seg_or_null"),
            coalesce(nullif($"c_mktsegment", lit("BUILDING")),
              lit("(hidden)")).as("seg_filled"),
            when($"c_acctbal" < 0, lit(null).cast("double"))
              .otherwise($"c_acctbal").as("bal_nonneg"),
            $"c_acctbal".isNull.as("bal_missing"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(hidden)') AS seg_filled,
        |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_nonneg,
        |  c_acctbal IS NULL AS bal_missing
        |FROM customer ORDER BY c_custkey""".stripMargin),
      "null-handling scalar functions (nullif/coalesce/case)"),

    // filtered (conditional) aggregates: discount mix per return flag.
    // Counts only — no float accumulation — so engine-exact by
    // construction.
    "q_filtered_agg" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            count(when($"l_discount" > 0.05, 1)).as("n_high_disc"),
            count(when($"l_tax" === 0.0, 1)).as("n_no_tax"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
        |  COUNT(*) FILTER (WHERE l_tax = 0.0) AS n_no_tax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "filtered/conditional aggregates per group"),

    // value windows: first/last/nth order per customer. The frame for
    // last_value must be UNBOUNDED FOLLOWING on both engines (the default
    // frame ends at CURRENT ROW and would return the row itself). Ordering
    // key includes o_orderkey so ties on date are deterministic.
    "q_value_windows" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        val full = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        Tables.load(s, d, "orders")
          .select($"o_orderkey", $"o_custkey",
            first($"o_orderkey").over(full).as("first_order"),
            last($"o_orderkey").over(full).as("last_order"),
            nth_value($"o_orderkey", 2).over(full).as("second_order"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  last_value(o_orderkey) OVER w AS last_order,
        |  nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin),
      "first/last/nth value windows with explicit frames"),

    // rank-ratio windows: percent_rank + cume_dist per market segment.
    // Both are exact rationals of row counts — engine-identical doubles.
    "q_percent_rank" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal")
        Tables.load(s, d, "customer")
          .select($"c_custkey", $"c_mktsegment",
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
        |ORDER BY c_custkey""".stripMargin),
      "percent_rank / cume_dist rank-ratio windows"),

    // scalar-subquery shape: customers above their nation's average
    // balance. Expressed shuffle-free on the fact side: the per-nation
    // aggregate is 25 rows — broadcast back. The threshold compare uses
    // EXACT decimal cross-multiplication (bal * n > sum), never a float
    // average, so boundary rows can't flip between engines.
    "q_scalar_subquery" -> GQuery(
      (s, d) => {
        import s.implicits._
        val c = Tables.load(s, d, "customer")
        val stats = c.groupBy($"c_nationkey".as("nk"))
          .agg(sum($"c_acctbal".cast("decimal(20,2)")).as("sum_bal"),
            count(lit(1)).as("n_cust"))
        c.join(broadcast(stats), $"c_nationkey" === $"nk")
          .filter($"c_acctbal".cast("decimal(20,2)") * $"n_cust" > $"sum_bal")
          .select($"c_custkey", $"c_nationkey", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some("""WITH stats AS (
        |  SELECT c_nationkey AS nk,
        |    SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS sum_bal,
        |    COUNT(*) AS n_cust
        |  FROM customer GROUP BY 1)
        |SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer JOIN stats ON c_nationkey = nk
        |WHERE CAST(c_acctbal AS DECIMAL(20,2)) * n_cust > sum_bal
        |ORDER BY c_custkey""".stripMargin),
      "scalar-subquery shape: rows above their group average (exact math)"),

    // argmax aggregation: per customer, the order carrying their maximum
    // total price — max_by/arg_max, the "pick the row that wins" shape
    // that replaces a rank-window + filter with ONE partial-aggregable
    // pass (map-side combine keeps only the current winner per group —
    // strictly cheaper than a window at 100 TB). The value key includes
    // the orderkey so exact-price ties stay deterministic on both engines.
    "q_argmax" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(
            max_by($"o_orderkey", struct($"o_totalprice", $"o_orderkey"))
              .as("best_order"),
            max($"o_totalprice").as("best_price"))
          .orderBy($"o_custkey")
      },
      // DuckDB's arg_max can't take a struct value key, so the oracle uses
      // the equivalent join-back: among a customer's max-price orders, the
      // max orderkey — exactly max_by's lexicographic (price, key) winner.
      Some("""WITH m AS (
        |  SELECT o_custkey, max(o_totalprice) AS best_price
        |  FROM orders GROUP BY 1)
        |SELECT o.o_custkey, max(o.o_orderkey) AS best_order, m.best_price
        |FROM orders o JOIN m
        |  ON o.o_custkey = m.o_custkey AND o.o_totalprice = m.best_price
        |GROUP BY o.o_custkey, m.best_price
        |ORDER BY o.o_custkey""".stripMargin),
      "argmax (max_by) — winner row per group in one aggregable pass"),

    // re-aggregatable distinct counting: per-segment HLL sketch PARTIALS
    // (Datasketches binary, storable in a rollup table) merged with
    // hll_union_agg into a global estimate — at 100 TB you materialize the
    // per-partition sketches once and answer any rollup from them without
    // rescanning. No DuckDB oracle (sketch binaries are engine-specific),
    // but the query SELF-CHECKS its accuracy contract (VERDICT r5 #3, the
    // q_approx_percentile treatment): exact distincts ride alongside and
    // `hll_ok` asserts |HLL − exact| / exact ≤ 3·rsd, where rsd =
    // 1.04/√2^12 for the default lgConfigK=12 — a sketch regression flips
    // the column to false instead of being unverifiable. HllSketchSpec
    // additionally asserts accuracy in ScalaTest.
    "q_hll_distinct" -> GQuery(
      (s, d) => {
        import s.implicits._
        val rsd = 1.04 / math.sqrt((1 << 12).toDouble)
        val orders = Tables.load(s, d, "orders")
        val partials = orders
          .groupBy($"o_orderpriority")
          .agg(hll_sketch_agg($"o_custkey").as("sk"),
            countDistinct($"o_custkey").as("exact_custkeys"))
        val perSeg = partials
          .select($"o_orderpriority".as("scope"),
            hll_sketch_estimate($"sk").as("approx_custkeys"),
            $"exact_custkeys")
        // the global exact can't be derived from per-segment exacts
        // (customers overlap segments) — one extra global aggregate
        val globalExact = orders
          .agg(countDistinct($"o_custkey").as("exact_custkeys"))
        val global = partials
          .agg(hll_sketch_estimate(hll_union_agg($"sk"))
            .as("approx_custkeys"))
          .crossJoin(broadcast(globalExact))
          .select(lit("_global").as("scope"), $"approx_custkeys",
            $"exact_custkeys")
        perSeg.unionByName(global)
          .withColumn("hll_ok",
            abs($"approx_custkeys" - $"exact_custkeys") /
              $"exact_custkeys" <= lit(3.0 * rsd))
          // hashed output = exact counts + the contract verdict (the
          // q_kll_quantiles graduation, round 8): the estimate itself is
          // engine-specific (DuckDB's HLL is a different implementation)
          // so it stays behind the flag rather than in the hash
          .select($"scope", $"exact_custkeys", $"hll_ok")
          .orderBy($"scope")
      },
      Some("""SELECT o_orderpriority AS scope,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
        |  TRUE AS hll_ok
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT '_global', CAST(COUNT(DISTINCT o_custkey) AS BIGINT), TRUE
        |FROM orders
        |ORDER BY scope""".stripMargin),
      "HLL sketch partials + union rollup: hashed exact counts + " +
        "self-check verdict vs the sketch estimate"),

    // THETA-sketch audience overlap: distinct users who performed BOTH
    // event types, for every type pair — the intersection query HLL
    // cannot answer from stored partials (union-only). One corpus pass
    // builds per-(partition, type) theta partials
    // (functions/ThetaSketch); a mapGroups rollup unions them to one
    // sketch row per event type (≤ partitions × types partial rows —
    // parallelism-bounded; production stores the partials and rolls them
    // up the same way), and each type PAIR intersects executor-side in a
    // typed map over the broadcast 6×6 self-join of the per-type sketch
    // table (scope-bounded metadata, not data). Everything stays in the
    // lazy plan — NO driver-side collect or eager job in the builder
    // (the q_market_basket lesson). The EXACT overlap rides along from a
    // distinct self-join (≤ C(6,2) pairs per user), and the query
    // SELF-CHECKS the sketch contract the q_hll_distinct way: theta_ok
    // asserts exact ∈ [lb, ub] at 3 std dev, so a sketch regression
    // flips booleans instead of drifting — and since round 8 those
    // booleans (plus the exact overlaps) ARE the hashed output, so the
    // regression hash-fails the driver gate (sketch internals stay
    // engine-specific, so the estimate itself lives behind the flag).
    // ThetaSketchSpec pins partition-invariance + accuracy.
    "q_theta_overlap" -> GQuery(
      (s, d) => {
        import s.implicits._
        val scoped = thetaScoped(s, d)
        val ev = Tables.load(s, d, "events")
          .select($"event_type", $"user_id")
        val est = scoped.as("x")
          .join(broadcast(scoped.as("y")), $"x.scope" < $"y.scope")
          .select($"x.scope".as("a"), $"y.scope".as("b"),
            $"x.sk".as("ska"), $"y.sk".as("skb"))
          .as[(String, String, Array[Byte], Array[Byte])]
          .map { case (a, b, ska, skb) =>
            val r = graft.functions.ThetaSketch.intersectBytes(ska, skb)
            (a, b, r.getEstimate, r.getLowerBound(3), r.getUpperBound(3))
          }
          .toDF("type_a", "type_b", "est", "lb", "ub")
        val ue = ev.distinct()
        val exact = ue.as("x")
          .join(ue.as("y"), $"x.user_id" === $"y.user_id" &&
            $"x.event_type" < $"y.event_type")
          .groupBy($"x.event_type".as("type_a"),
            $"y.event_type".as("type_b"))
          .agg(countDistinct($"x.user_id").as("exact_overlap"))
        exact.join(broadcast(est), Seq("type_a", "type_b"))
          // hashed output = exact overlaps + the contract verdict
          // (estimate/bounds are sketch-state-dependent and have no
          // cross-engine twin — the q_kll_quantiles graduation)
          .select($"type_a", $"type_b", $"exact_overlap",
            ($"lb" <= $"exact_overlap" && $"exact_overlap" <= $"ub")
              .as("theta_ok"))
          .orderBy($"type_a", $"type_b")
      },
      Some("""WITH ue AS (
        |  SELECT DISTINCT event_type, user_id FROM events)
        |SELECT x.event_type AS type_a, y.event_type AS type_b,
        |  CAST(COUNT(DISTINCT x.user_id) AS BIGINT) AS exact_overlap,
        |  TRUE AS theta_ok
        |FROM ue x JOIN ue y
        |  ON x.user_id = y.user_id AND x.event_type < y.event_type
        |GROUP BY x.event_type, y.event_type
        |ORDER BY type_a, type_b""".stripMargin),
      "theta-sketch pairwise audience overlap: hashed exact overlaps + " +
        "self-check verdict"),

    // THETA-sketch set DIFFERENCE (A \ B): "users who did A but never
    // B" — the unconverted-audience query (viewed but never purchased)
    // and, with union + intersection, the complete set algebra stored
    // theta partials answer without rescanning. Same lazy shape as
    // q_theta_overlap (shared per-type sketch table, typed map for the
    // AnotB), exact diff derived distributedly as n_a − overlap(a,b)
    // from the same distinct self-join; diff_ok asserts exact ∈ [lb, ub]
    // per ordered pair.
    "q_theta_diff" -> GQuery(
      (s, d) => {
        import s.implicits._
        val scoped = thetaScoped(s, d)
        val ev = Tables.load(s, d, "events")
          .select($"event_type", $"user_id")
        val est = scoped.as("x")
          .join(broadcast(scoped.as("y")), $"x.scope" =!= $"y.scope")
          .select($"x.scope".as("a"), $"y.scope".as("b"),
            $"x.sk".as("ska"), $"y.sk".as("skb"))
          .as[(String, String, Array[Byte], Array[Byte])]
          .map { case (a, b, ska, skb) =>
            val r = graft.functions.ThetaSketch.diffBytes(ska, skb)
            (a, b, r.getEstimate, r.getLowerBound(3), r.getUpperBound(3))
          }
          .toDF("type_a", "type_b", "est", "lb", "ub")
        val ue = ev.distinct()
        val totals = ue.groupBy($"event_type".as("type_a"))
          .agg(countDistinct($"user_id").as("n_a"))
        val overlap = ue.as("x")
          .join(ue.as("y"), $"x.user_id" === $"y.user_id" &&
            $"x.event_type" =!= $"y.event_type")
          .groupBy($"x.event_type".as("type_a"),
            $"y.event_type".as("type_b"))
          .agg(countDistinct($"x.user_id").as("n_both"))
        totals.join(overlap, Seq("type_a"))
          .select($"type_a", $"type_b",
            ($"n_a" - $"n_both").as("exact_diff"))
          .join(broadcast(est), Seq("type_a", "type_b"))
          // hashed output = exact diffs + the contract verdict (the
          // q_kll_quantiles graduation; see q_theta_overlap)
          .select($"type_a", $"type_b", $"exact_diff",
            ($"lb" <= $"exact_diff" && $"exact_diff" <= $"ub")
              .as("diff_ok"))
          .orderBy($"type_a", $"type_b")
      },
      Some("""WITH ue AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |tot AS (
        |  SELECT event_type AS type_a,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_a
        |  FROM ue GROUP BY event_type),
        |ov AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    CAST(COUNT(DISTINCT x.user_id) AS BIGINT) AS n_both
        |  FROM ue x JOIN ue y
        |    ON x.user_id = y.user_id AND x.event_type <> y.event_type
        |  GROUP BY x.event_type, y.event_type)
        |SELECT ov.type_a, ov.type_b, tot.n_a - ov.n_both AS exact_diff,
        |  TRUE AS diff_ok
        |FROM tot JOIN ov ON tot.type_a = ov.type_a
        |ORDER BY ov.type_a, ov.type_b""".stripMargin),
      "theta-sketch audience difference (A-not-B): hashed exact diffs + " +
        "self-check verdict"),

    // KLL quantile-sketch partials — the QUANTILE member of the stored-
    // partials family (HLL/theta distincts, CMS heavy hitters, Bloom
    // membership). Unlike q_approx_percentile (which rescans the corpus
    // per question), the partials here are the STORED artifact: built
    // map-side in one pass, rolled up per scope by a mapGroups merge,
    // then quantiles answered from the merged sketches alone.
    // KLL compaction flips random coins, so estimated VALUES vary run to
    // run and can't be hashed — but the published contract CAN be: the
    // hashed output is the deterministic rank envelope
    // [getRankLowerBound(p), getRankUpperBound(p)] (a function of k and p
    // only; 99% confidence, ~1.65% at k=200) per (scope, p) plus the
    // in-query self-check verdict — the exact INCLUSIVE rank of the
    // estimate (one broadcast join + avg over the corpus) landing inside
    // the envelope. The oracle reproduces the envelope (its literals are
    // derived from the LIBRARY's own bound at build time, so the two
    // sides cannot drift) and expects kll_ok = TRUE: a sketch regression
    // now hash-fails the driver gate instead of only flipping a column
    // (VERDICT r7 #8 — graduated from the no-oracle set). KllSketchSpec
    // pins merge-vs-direct equivalence and serialization roundtrip.
    "q_kll_quantiles" -> GQuery(
      (s, d) => {
        import s.implicits._
        val li = Tables.load(s, d, "lineitem")
          .select($"l_returnflag", $"l_extendedprice")
        val est = graft.functions.QuantileSketch
          .partials(li, $"l_returnflag", $"l_extendedprice")
          .as[(String, Array[Byte])]
          .groupByKey(_._1)
          .flatMapGroups { (scope, it) =>
            val sk = graft.functions.QuantileSketch.merge(it.map(_._2))
            graft.functions.QuantileSketch.quantilesWithBounds(sk, KllPs)
              .map { case (p, q, lb, ub) => (scope, p, q, lb, ub) }
          }
          .toDF("l_returnflag", "p", "kll_est", "rank_lb", "rank_ub")
        li.join(broadcast(est), Seq("l_returnflag"))
          .groupBy($"l_returnflag", $"p", $"kll_est", $"rank_lb", $"rank_ub")
          .agg(avg(($"l_extendedprice" <= $"kll_est").cast("double"))
            .as("exact_rank"))
          .select($"l_returnflag", $"p", $"rank_lb", $"rank_ub",
            ($"rank_lb" <= $"exact_rank" && $"exact_rank" <= $"rank_ub")
              .as("kll_ok"))
          .orderBy($"l_returnflag", $"p")
      },
      Some {
        // envelope literals from the library's own bound (data-free:
        // lb/ub depend only on k and p), inlined as exact double text
        val probe = org.apache.datasketches.kll.KllDoublesSketch
          .newHeapInstance(graft.functions.QuantileSketch.K)
        probe.update(0.0)
        val rows = KllPs.map(p =>
          s"(CAST($p AS DOUBLE), CAST(${probe.getRankLowerBound(p)} AS " +
            s"DOUBLE), CAST(${probe.getRankUpperBound(p)} AS DOUBLE))")
          .mkString(", ")
        s"""SELECT l_returnflag, p, rank_lb, rank_ub, TRUE AS kll_ok
           |FROM (SELECT DISTINCT l_returnflag FROM lineitem)
           |CROSS JOIN (VALUES $rows) AS t(p, rank_lb, rank_ub)
           |ORDER BY l_returnflag, p""".stripMargin
      },
      "KLL quantile-sketch partials: hashed rank envelope + self-check " +
        "verdict vs exact ranks"),

    // approximate percentiles: the bounded-memory path q_percentile's
    // scale note promises (exact percentile buffers whole groups;
    // approx_percentile holds a fixed-size sketch per group). accuracy=
    // 10000 → rank error ≤ n/10000. The sketch VALUES are
    // engine-specific (no DuckDB twin exists), so the verified output
    // is the CONTRACT, not the values: the query SELF-CHECKS (VERDICT
    // r3 #8) with the discrete form the guarantee actually states — the
    // returned value's rank interval [count(<v), count(<=v)] must
    // overlap [p*n - eps*n, p*n + eps*n] (+1 slack for the sketch's
    // boundary handling) — via one exact re-scan joined back by
    // broadcast, and emits (exact group count, *_ok booleans). The
    // DuckDB oracle recomputes the exact counts and asserts the
    // booleans literally TRUE, so the driver's rows+schema+hash gate
    // now verifies the envelope held (r14 VERDICT #3; previously
    // rows-only). The raw sketch values stay reachable through the
    // library call and ApproxPercentileSpec's order-statistics check.
    "q_approx_percentile" -> GQuery(
      (s, d) => {
        import s.implicits._
        val ap = Tables.load(s, d, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50_qty"),
            expr("approx_percentile(l_extendedprice, array(0.25, 0.9), 10000)")
              .as("p_price"),
            count(lit(1)).as("n"))
          // scalar columns only: the driver's compare crashes sorting
          // array-typed cells (ADVICE r2), and even its rows-only check
          // needs a sortable frame.
          .select($"l_returnflag", $"p50_qty",
            element_at($"p_price", 1).as("p25_price"),
            element_at($"p_price", 2).as("p90_price"), $"n")
        def rankOk(lt: Column, le: Column, p: Double): Column = {
          val slack = lit(p) * $"n" - (le + lit(1)) <= $"n" / lit(10000.0)
          val slack2 = lt - lit(1) - lit(p) * $"n" <= $"n" / lit(10000.0)
          slack && slack2
        }
        Tables.load(s, d, "lineitem")
          .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
          .join(broadcast(ap), "l_returnflag")
          .groupBy($"l_returnflag", $"p50_qty", $"p25_price",
            $"p90_price", $"n")
          .agg(
            sum(when($"l_quantity" < $"p50_qty", 1).otherwise(0)).as("lt50"),
            sum(when($"l_quantity" <= $"p50_qty", 1).otherwise(0)).as("le50"),
            sum(when($"l_extendedprice" < $"p25_price", 1).otherwise(0))
              .as("lt25"),
            sum(when($"l_extendedprice" <= $"p25_price", 1).otherwise(0))
              .as("le25"),
            sum(when($"l_extendedprice" < $"p90_price", 1).otherwise(0))
              .as("lt90"),
            sum(when($"l_extendedprice" <= $"p90_price", 1).otherwise(0))
              .as("le90"))
          .select($"l_returnflag", $"n",
            rankOk($"lt50", $"le50", 0.5).as("p50_ok"),
            rankOk($"lt25", $"le25", 0.25).as("p25_ok"),
            rankOk($"lt90", $"le90", 0.9).as("p90_ok"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  TRUE AS p50_ok, TRUE AS p25_ok, TRUE AS p90_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
      "approx_percentile — bounded-memory quantiles, rank-bound " +
        "envelope oracle-checked"),

    // 7-day rolling DISTINCT users — the query exact methods cannot do at
    // scale (distinct does not decompose over sliding frames; a 7-day
    // exact recount rescans 7× the data per day). Sketch partials make it
    // linear: one HLL per day, then hll_union_agg over a 7-row window —
    // each day's answer merges 7 tiny sketches, never re-reads events.
    // The daily partials are exactly what a streaming job materializes
    // (EventStream.sketchPartials) — batch and stream share this rollup.
    // The sketch ESTIMATE is engine-specific (DataSketches HLL has no
    // DuckDB twin), so the verified output is the accuracy CONTRACT
    // (r14 VERDICT #3; previously rows-only): est_ok compares the HLL
    // estimate against the exact windowed recount (the oracle-green
    // q_rolling_distinct_exact formulation, folded in here purely for
    // verification — production reads the sketch rollup alone) at the
    // 5%/±2 envelope SketchPartialsSpec has always asserted. HLL state
    // is a per-bucket max, so the estimate is set-deterministic: a
    // passing envelope cannot flake across reruns or partitionings.
    // The DuckDB oracle replays day/n_events exactly and asserts
    // est_ok literally TRUE.
    "q_rolling_distinct" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"day").rowsBetween(-6, 0)
        Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(hll_sketch_agg($"user_id").as("sk"),
            collect_set($"user_id").as("us"),
            count(lit(1)).as("n_events"))
          .withColumn("users_7d",
            hll_sketch_estimate(hll_union_agg($"sk").over(w)))
          .withColumn("exact_7d",
            size(array_distinct(flatten(collect_list($"us").over(w))))
              .cast("long"))
          .select($"day", $"n_events",
            (abs($"users_7d" - $"exact_7d") <=
              greatest(lit(2L), ($"exact_7d" * lit(0.05)).cast("long")))
              .as("est_ok"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT day, n_events, TRUE AS est_ok
        |FROM daily ORDER BY day""".stripMargin),
      "rolling 7-day distinct users from daily HLL partials, accuracy " +
        "envelope oracle-checked"),

    // The EXACT twin of q_rolling_distinct, oracle-checked (VERDICT r3
    // #8): daily distinct-user sets merged over the same 7-row window —
    // collect_set per day, flatten+distinct across the frame. Memory is
    // O(7-day distinct users) per row, which is exactly the cost the HLL
    // variant above exists to avoid at 100 TB; this formulation's job is
    // to pin the window/rollup SEMANTICS (frame bounds, day bucketing,
    // merge) against DuckDB, leaving only the sketch binary itself
    // outside the oracle gate. Both engines use a ROWS frame, so sparse
    // calendars (missing days) behave identically.
    "q_rolling_distinct_exact" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"day").rowsBetween(-6, 0)
        Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(collect_set($"user_id").as("us"),
            count(lit(1)).as("n_events"))
          .withColumn("users_7d",
            size(array_distinct(flatten(collect_list($"us").over(w))))
              .cast("long"))
          .select($"day", $"n_events", $"users_7d")
          .orderBy($"day")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         list(DISTINCT user_id) AS us,
        |         COUNT(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT day, n_events,
        |  CAST(len(list_distinct(flatten(list(us) OVER
        |    (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))))
        |    AS BIGINT) AS users_7d
        |FROM daily ORDER BY day""".stripMargin),
      "exact 7-day rolling distinct users (oracle twin of the HLL rollup)"),

    // 2-D skyline (Pareto front): orders not strictly dominated on BOTH
    // axes (another order with higher total AND later date). The naive
    // shapes are an all-pairs NOT EXISTS (quadratic) or one global
    // ORDER BY totalprice window (single-partition over n rows) — both
    // scale-killers. This implementation decomposes dominance by a
    // FIXED-WIDTH price bucketing: (a) dominators in strictly higher
    // buckets are summarized by a suffix-max-date over the bucket table —
    // whose cardinality is bounded by price-range/width, independent of
    // row count, so its tiny window + broadcast is the legitimate
    // small-side pattern, not a data-scale sort; (b) same-bucket
    // dominators reduce to a per-(bucket, price) max-date and a running
    // max over strictly higher prices WITHIN the bucket — a partitioned
    // window, fully distributed. Survivors check both summaries. The
    // oracle replays the same predicate with DuckDB's global window
    // (fine single-threaded; the point of the bucketed shape is that the
    // cluster plan never needs that global sort).
    "q_pareto_front" -> GQuery(
      (s, d) => {
        import s.implicits._
        val o = Tables.load(s, d, "orders")
          .withColumn("bkt", floor($"o_totalprice" / lit(1000.0)).cast("long"))
        val bmax = o.groupBy($"bkt").agg(max($"o_orderdate").as("bmx"))
        val wSuffix = Window.orderBy($"bkt".desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val suffix = bmax
          .withColumn("hi_mx", max($"bmx").over(wSuffix))
          .select($"bkt", $"hi_mx")
        val wInBkt = Window.partitionBy($"bkt")
          .orderBy($"o_totalprice".desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val inb = o.groupBy($"bkt", $"o_totalprice")
          .agg(max($"o_orderdate").as("pmx"))
          .withColumn("in_mx", max($"pmx").over(wInBkt))
          .select($"bkt", $"o_totalprice", $"in_mx")
        o.join(broadcast(suffix), Seq("bkt"), "left")
          .join(inb, Seq("bkt", "o_totalprice"))
          .filter(($"hi_mx".isNull || $"hi_mx" <= $"o_orderdate") &&
            ($"in_mx".isNull || $"in_mx" <= $"o_orderdate"))
          .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice")
          .orderBy($"o_orderkey")
      },
      Some("""WITH pm AS (
        |  SELECT o_totalprice AS p, MAX(o_orderdate) AS mxd
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT p, MAX(mxd) OVER (ORDER BY p DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS better
        |  FROM pm)
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice
        |FROM orders o JOIN r ON o.o_totalprice = r.p
        |WHERE better IS NULL OR better <= o.o_orderdate
        |ORDER BY o.o_orderkey""".stripMargin),
      "bucketed 2-D skyline / Pareto front over orders (price x recency)"),

    // Per-group OLS trend: the least-squares slope of monthly revenue
    // over a month index, one slope per customer market segment — the
    // "is this segment growing?" reporting primitive. The regression
    // inputs are EXACT integers (x = months since 1992-01, y = revenue
    // cents), so the five sufficient statistics (k, Σx, Σy, Σxx, Σxy)
    // are overflow-safe BIGINT sums over at most ~84 monthly points per
    // group and the slope is one IEEE double expression — the same
    // closed-form recipe q_zipf_slope proved, but grouped. Scale shape:
    // orders⋈customer is a key join (customer broadcast-able until it
    // isn't, then a co-partitioned shuffle), the monthly rollup is a
    // partial-agg shuffle on (segment, month), and the per-segment
    // regression reduces ~84 rows per group — nothing single-partition.
    "q_trend_slope" -> GQuery(
      (s, d) => {
        import s.implicits._
        val monthly = Tables.load(s, d, "orders")
          .join(Tables.load(s, d, "customer")
            .select($"c_custkey", $"c_mktsegment"),
            $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment",
            ((year($"o_orderdate") - 1992) * 12 + month($"o_orderdate") - 1)
              .cast("bigint").as("x"))
          .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint")).as("y"))
        monthly.groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("k"),
            sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
          .select($"c_mktsegment", $"k",
            round((($"k" * $"sxy" - $"sx" * $"sy").cast("double") /
              ($"k" * $"sxx" - $"sx" * $"sx").cast("double")) / 100.0, 6)
              .as("slope_monthly"))
          .orderBy($"c_mktsegment")
      },
      Some("""WITH m AS (
        |  SELECT c.c_mktsegment,
        |    CAST((year(o.o_orderdate) - 1992) * 12
        |      + month(o.o_orderdate) - 1 AS BIGINT) AS x,
        |    CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM m GROUP BY 1)
        |SELECT c_mktsegment, k,
        |  round((CAST(k * sxy - sx * sy AS DOUBLE)
        |    / CAST(k * sxx - sx * sx AS DOUBLE)) / 100.0, 6)
        |    AS slope_monthly
        |FROM st ORDER BY c_mktsegment""".stripMargin),
      "per-segment OLS slope of monthly revenue (exact integer sums)"),

    // Multiple linear regression by NORMAL EQUATIONS — the distributed
    // closed-form fit (y ~ b0 + b1*quantity + b2*discount over lineitem):
    // ONE pass of integer-exact sufficient statistics (n, Σx1, Σx2, Σy,
    // Σx1², Σx2², Σx1x2, Σx1y, Σx2y — all BIGINT on cent/unit-scaled
    // inputs, overflow-safe to ~1e9 rows at these magnitudes), then
    // the 3x3 solve by Cramer's rule as ONE double expression written
    // with the identical operation tree in Spark and DuckDB (same IEEE
    // ops in the same order -> bit-identical before the 6-dp round).
    // The shape every closed-form distributed ML fit takes at 100 TB:
    // map-side partial sums, one scalar row out, zero iterations —
    // the contrast to q_perceptron's 2-round iterative trainer; p
    // features need p(p+3)/2 sums and a driver-side p x p solve (p=2
    // here keeps the solve in-query, so the oracle can replay it).
    "q_ols_normal" -> GQuery(
      (s, d) => {
        import s.implicits._
        val st = Tables.load(s, d, "lineitem")
          .select(
            $"l_quantity".cast("bigint").as("x1"),
            round($"l_discount" * 100, 0).cast("bigint").as("x2"),
            round($"l_extendedprice" * 100, 0).cast("bigint").as("y"))
          .agg(
            count(lit(1)).as("n"),
            sum($"x1").as("s1"), sum($"x2").as("s2"), sum($"y").as("sy"),
            sum($"x1" * $"x1").as("s11"), sum($"x2" * $"x2").as("s22"),
            sum($"x1" * $"x2").as("s12"),
            sum($"x1" * $"y").as("s1y"), sum($"x2" * $"y").as("s2y"))
        st.selectExpr(
          "n",
          """round((
            |  (CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
            |   - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
            |   + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)))
            |  / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
            |   - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
            |   + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
            |) / 100.0, 6) AS b0""".stripMargin,
          """round((
            |  (CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
            |   - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
            |   + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)))
            |  / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
            |   - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
            |   + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
            |) / 100.0, 6) AS b1""".stripMargin,
          """round((
            |  (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE))
            |   - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))
            |   + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
            |  / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
            |   - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
            |   + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
            |) / 100.0, 6) AS b2""".stripMargin)
      },
      Some(s"""WITH st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
        |    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
        |    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
        |    CAST(SUM(x1 * y) AS BIGINT) AS s1y,
        |    CAST(SUM(x2 * y) AS BIGINT) AS s2y
        |  FROM (
        |    SELECT CAST(l_quantity AS BIGINT) AS x1,
        |      CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
        |      CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |    FROM lineitem))
        |SELECT n,
        |  round((
        |    (CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        |     - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
        |     + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)))
        |    / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        |     - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        |     + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
        |  ) / 100.0, 6) AS b0,
        |  round((
        |    (CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
        |     - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        |     + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)))
        |    / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        |     - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        |     + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
        |  ) / 100.0, 6) AS b1,
        |  round((
        |    (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE))
        |     - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))
        |     + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
        |    / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        |     - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        |     + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
        |  ) / 100.0, 6) AS b2
        |FROM st""".stripMargin),
      "multiple OLS by normal equations: one-pass exact sufficient " +
        "stats + in-query Cramer solve"),

    // Bucketed Lorenz curve / revenue-concentration report: how much of
    // purchase revenue the top spender bands hold (the "do 20% of users
    // drive 80% of revenue?" question; companion to q_gini's token-side
    // coefficient). The exact Lorenz curve needs a global sort by user
    // revenue; this is the BUCKETED formulation — users land in
    // half-decade log10 revenue bands (a per-row map), bands aggregate
    // exactly, and the cumulative shares run over the ~dozen band rows
    // only. Same scale decision as q_calibration vs ntile: the one
    // unpartitioned window touches O(bands) aggregate rows, never user
    // rows. Exactness: per-user revenue in micro-unit BIGINTs; band id =
    // floor(2·round9(log10(micro))) — log of an INTEGER argument (the
    // q_zipf_slope recipe); shares are one rounded double division each.
    "q_lorenz" -> GQuery(
      (s, d) => {
        import s.implicits._
        val ur = Tables.load(s, d, "events")
          .filter($"event_type" === "purchase")
          .groupBy($"user_id")
          .agg(sum(round($"value" * 1e6, 0).cast("bigint")).as("micro"))
          .filter($"micro" > 0)
        val bands = ur
          .groupBy(floor(round(log10($"micro".cast("double")), 9)
            * 2).cast("bigint").as("band"))
          .agg(count(lit(1)).as("n_users"), sum($"micro").as("band_micro"))
        val w = Window.orderBy($"band".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bands
          .withColumn("cum_users", sum($"n_users").over(w))
          .withColumn("cum_micro", sum($"band_micro").over(w))
          .crossJoin(broadcast(bands.agg(
            sum($"n_users").as("tot_users"),
            sum($"band_micro").as("tot_micro"))))
          .select($"band", $"n_users",
            round($"cum_users".cast("double") / $"tot_users".cast("double"),
              6).as("top_user_share"),
            round($"cum_micro".cast("double") / $"tot_micro".cast("double"),
              6).as("top_revenue_share"))
          .orderBy($"band".desc)
      },
      Some("""WITH ur AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(round(value * 1e6, 0) AS BIGINT)) AS BIGINT)
        |      AS micro
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1 HAVING micro > 0),
        |b AS (
        |  SELECT CAST(floor(round(log10(CAST(micro AS DOUBLE)), 9) * 2)
        |      AS BIGINT) AS band,
        |    CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(micro) AS BIGINT) AS band_micro
        |  FROM ur GROUP BY 1),
        |c AS (
        |  SELECT band, n_users,
        |    CAST(SUM(n_users) OVER (ORDER BY band DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
        |    CAST(SUM(band_micro) OVER (ORDER BY band DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_micro
        |  FROM b),
        |t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS tot_users,
        |             CAST(SUM(band_micro) AS BIGINT) AS tot_micro FROM b)
        |SELECT band, n_users,
        |  round(CAST(cum_users AS DOUBLE) / CAST(tot_users AS DOUBLE), 6)
        |    AS top_user_share,
        |  round(CAST(cum_micro AS DOUBLE) / CAST(tot_micro AS DOUBLE), 6)
        |    AS top_revenue_share
        |FROM c, t ORDER BY band DESC""".stripMargin),
      "bucketed Lorenz revenue-concentration curve (top-band shares)"),

    // Join-skew audit: the heavy-key statistics that decide whether a
    // planned join needs salting / AQE skew splitting BEFORE running it
    // (operators/Skew.saltedJoin and the as-of salted variant are the
    // consumers of exactly this decision). Per audited join key: row
    // count, distinct keys, the heaviest key's row count and share, the
    // median per-key count, and the max/median skew ratio. One partial-
    // agg shuffle per key to build the per-key count table; the summary
    // reduces it to one row (exact percentile over per-key counts —
    // bounded by distinct keys, the same contract as q_percentile's
    // group buffers; at extreme cardinality swap approx_percentile).
    "q_join_skew_audit" -> GQuery(
      (s, d) => {
        import s.implicits._
        // one labeled union of the three keyed count tables + ONE
        // grouped reduction, instead of three sequential global scalar
        // barriers (r13 audit: singlepart x3). Same partial-agg math —
        // percentile's merge state is a value->freq map over the tiny
        // count DOMAIN either way — but the three audits now reduce in
        // parallel as three groups of one hash exchange.
        def counts(df: org.apache.spark.sql.DataFrame, table: String,
            key: String) =
          df.groupBy(col(key).as("k"))
            .agg(count(lit(1)).as("c"))
            .select(lit(s"$table.$key").as("join_key"), $"c")
        val grouped = counts(Tables.load(s, d, "lineitem"), "lineitem",
            "l_orderkey")
          .unionAll(counts(Tables.load(s, d, "orders"), "orders",
            "o_custkey"))
          .unionAll(counts(Tables.load(s, d, "events"), "events",
            "user_id"))
          .groupBy($"join_key")
          .agg(
            sum($"c").as("n_rows"),
            count(lit(1)).as("n_keys"),
            max($"c").as("max_key_rows"),
            expr("percentile(c, 0.5)").as("p50"))
        // an EMPTY audited table groups away entirely, but the oracle's
        // per-table global aggs (a1/a2/a3) always emit one row each —
        // left-join the three expected labels so a degenerate corpus
        // still yields its NULL-stat row (n_keys = 0, matching the
        // oracle's COUNT(*) over the empty per-key subquery)
        val labels = Seq("events.user_id", "lineitem.l_orderkey",
          "orders.o_custkey").toDF("join_key")
        labels.join(grouped, Seq("join_key"), "left")
          .select($"join_key",
            $"n_rows", coalesce($"n_keys", lit(0L)).as("n_keys"),
            $"max_key_rows",
            round($"max_key_rows".cast("double") /
              $"n_rows".cast("double"), 6).as("max_key_share"),
            round($"max_key_rows".cast("double") / $"p50", 6)
              .as("skew_ratio"))
          .orderBy($"join_key")
      },
      Some("""WITH a1 AS (
        |  SELECT 'lineitem.l_orderkey' AS join_key,
        |    CAST(SUM(c) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(MAX(c) AS BIGINT) AS max_key_rows,
        |    quantile_cont(c, 0.5) AS p50
        |  FROM (SELECT l_orderkey, COUNT(*) AS c FROM lineitem
        |        GROUP BY 1)),
        |a2 AS (
        |  SELECT 'orders.o_custkey' AS join_key,
        |    CAST(SUM(c) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(MAX(c) AS BIGINT) AS max_key_rows,
        |    quantile_cont(c, 0.5) AS p50
        |  FROM (SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY 1)),
        |a3 AS (
        |  SELECT 'events.user_id' AS join_key,
        |    CAST(SUM(c) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(MAX(c) AS BIGINT) AS max_key_rows,
        |    quantile_cont(c, 0.5) AS p50
        |  FROM (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1)),
        |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |      UNION ALL SELECT * FROM a3)
        |SELECT join_key, n_rows, n_keys, max_key_rows,
        |  round(CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS max_key_share,
        |  round(CAST(max_key_rows AS DOUBLE) / p50, 6) AS skew_ratio
        |FROM u ORDER BY join_key""".stripMargin),
      "heavy-key join-skew audit (salting / AQE skew-split decision input)"),

    // Mutual information between two categorical columns (documents.lang
    // × documents.source) — the feature-selection / redundancy signal
    // behind "does source already tell me the language?". Computed in
    // the COUNT form MI = (1/N)·Σ n_xy·[ln N + ln n_xy − ln n_x − ln n_y]
    // so every transcendental takes an INTEGER argument (the proven
    // q_zipf_slope / q_char_entropy recipe — ln of ratios diverges
    // between engines' libms at rounding boundaries, ln of integers
    // round9'd does not). The n_xy·(...) products stay in DECIMAL until
    // the single final division. Scale shape: one (x,y) partial-agg
    // shuffle plus two broadcast marginal joins — the contingency table
    // is O(|lang|·|source|), never row-bound.
    "q_mutual_info" -> GQuery(
      (s, d) => {
        import s.implicits._
        val docs = Tables.load(s, d, "documents")
        val nxy = docs.groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_xy"))
        val nx = nxy.groupBy($"lang").agg(sum($"n_xy").as("n_x"))
        val ny = nxy.groupBy($"source").agg(sum($"n_xy").as("n_y"))
        val n = nxy.agg(sum($"n_xy").as("n"))
        def rln9(c: org.apache.spark.sql.Column) =
          round(log(c.cast("double")), 9).cast("decimal(12,9)")
        nxy.join(broadcast(nx), "lang").join(broadcast(ny), "source")
          .crossJoin(broadcast(n))
          .withColumn("term",
            ($"n_xy".cast("decimal(18,0)") *
              (rln9($"n") + rln9($"n_xy") - rln9($"n_x") - rln9($"n_y")))
              .cast("decimal(28,9)"))
          .agg(sum($"term").as("tsum"), max($"n").as("n_tot"))
          .select(
            round($"tsum".cast("double") / $"n_tot".cast("double"), 9)
              .as("mi_nats"))
      },
      Some("""WITH nxy AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
        |  FROM documents GROUP BY 1, 2),
        |nx AS (SELECT lang, CAST(SUM(n_xy) AS BIGINT) AS n_x
        |       FROM nxy GROUP BY 1),
        |ny AS (SELECT source, CAST(SUM(n_xy) AS BIGINT) AS n_y
        |       FROM nxy GROUP BY 1),
        |nt AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM nxy),
        |t AS (
        |  SELECT CAST(n_xy AS DECIMAL(18,0)) * (
        |      CAST(round(ln(CAST(n AS DOUBLE)), 9) AS DECIMAL(12,9))
        |    + CAST(round(ln(CAST(n_xy AS DOUBLE)), 9) AS DECIMAL(12,9))
        |    - CAST(round(ln(CAST(n_x AS DOUBLE)), 9) AS DECIMAL(12,9))
        |    - CAST(round(ln(CAST(n_y AS DOUBLE)), 9) AS DECIMAL(12,9)))
        |    AS term, n
        |  FROM nxy JOIN nx USING (lang) JOIN ny USING (source), nt)
        |SELECT round(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE)
        |  / CAST(MAX(n) AS DOUBLE), 9) AS mi_nats
        |FROM t""".stripMargin),
      "mutual information lang × source (integer-log exact form)"),

    // Winsorized per-group statistics: mean after clamping to the
    // group's [p05, p95] — the robust aggregate that tames heavy tails
    // without dropping rows (companion to q_robust_stats' MAD/IQR
    // fences). Percentile bounds come from the same exact interpolated
    // percentile q_percentile pins; the clamped values sum exactly in
    // DECIMAL(18,2) so aggregation order cannot drift the mean. Two
    // passes over the group (bounds, then clamp+sum) joined by the
    // broadcast 3-row bounds table — at scale swap approx_percentile
    // bounds in, the clamp pass is unchanged.
    "q_winsorize" -> GQuery(
      (s, d) => {
        import s.implicits._
        val li = Tables.load(s, d, "lineitem")
          .select($"l_returnflag", $"l_extendedprice")
        // single percentile buffer for both bounds (array form — one
        // per-group sort, not two; the q_percentile rationale)
        val bounds = li.groupBy($"l_returnflag")
          .agg(expr("percentile(l_extendedprice, array(0.05, 0.95))")
            .as("b"))
          .select($"l_returnflag",
            element_at($"b", 1).as("lo"), element_at($"b", 2).as("hi"))
        li.join(broadcast(bounds), "l_returnflag")
          .withColumn("w",
            when($"l_extendedprice" < $"lo", $"lo")
              .when($"l_extendedprice" > $"hi", $"hi")
              .otherwise($"l_extendedprice"))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(Fns.dsum2($"l_extendedprice") / count(lit(1)), 6)
              .as("raw_mean"),
            round(sum(round($"w", 2).cast(Fns.D18_2)).cast("double")
              / count(lit(1)), 6).as("winsor_mean"),
            sum(($"l_extendedprice" < $"lo" ||
              $"l_extendedprice" > $"hi").cast("long")).as("n_clamped"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / COUNT(*), 6) AS raw_mean,
        |  round(CAST(SUM(CAST(round(CASE
        |      WHEN l.l_extendedprice < b.lo THEN b.lo
        |      WHEN l.l_extendedprice > b.hi THEN b.hi
        |      ELSE l.l_extendedprice END, 2) AS DECIMAL(18,2)))
        |    AS DOUBLE) / COUNT(*), 6) AS winsor_mean,
        |  CAST(SUM(CASE WHEN l.l_extendedprice < b.lo
        |    OR l.l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1 ORDER BY l.l_returnflag""".stripMargin),
      "winsorized (p05/p95-clamped) robust group means"),

    // Benford first-digit audit: the distribution of leading digits of
    // order amounts vs Benford's law — the classic fabricated-data /
    // broken-generator detector a data-quality suite runs on money
    // columns. The digit comes from the CENTS INTEGER's decimal string
    // (no log/pow on the value itself — float first-digit extraction
    // has power-of-ten boundary bugs; Benford shares are scale-invariant
    // so cents vs dollars doesn't matter). One digit-keyed partial-agg
    // shuffle; expected shares are log10(1+1/d) doubles computed
    // identically on both engines and rounded at the edge.
    "q_benford" -> GQuery(
      (s, d) => {
        import s.implicits._
        val digits = Tables.load(s, d, "orders")
          .select(substring(round($"o_totalprice" * 100, 0)
            .cast("bigint").cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy($"digit").agg(count(lit(1)).as("n"))
        digits
          .crossJoin(broadcast(digits.agg(sum($"n").as("tot"))))
          .select($"digit", $"n",
            round($"n".cast("double") / $"tot".cast("double"), 6)
              .as("obs_share"),
            round(log10(lit(1.0) + lit(1.0) / $"digit".cast("double")), 6)
              .as("benford_share"),
            round(abs($"n".cast("double") / $"tot".cast("double") -
              log10(lit(1.0) + lit(1.0) / $"digit".cast("double"))), 6)
              .as("abs_dev"))
          .orderBy($"digit")
      },
      Some("""WITH dg AS (
        |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM dg)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS obs_share,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
        |    AS benford_share,
        |  round(abs(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
        |    - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 6) AS abs_dev
        |FROM dg, t ORDER BY digit""".stripMargin),
      "Benford first-digit distribution audit on order amounts"),

    // Hill tail-index estimator over the top-100 order values: α̂ =
    // k / Σ(ln x_(i) − ln x_(k+1)) — the standard heavy-tail exponent
    // behind "is this distribution Pareto-like, and how extreme will the
    // next record be?" (feeds the skew/salting decisions q_join_skew_audit
    // informs). Order statistics come from a TakeOrdered top-(k+1) with a
    // full tie-break (cents desc, orderkey) — no global sort; the k-row
    // tail fits one task by construction. Logs take INTEGER cent
    // arguments (round9 + DECIMAL sum — the exactness recipe), one final
    // double division.
    "q_hill_tail" -> GQuery(
      (s, d) => {
        import s.implicits._
        val k = 100
        val top = Tables.load(s, d, "orders")
          .select($"o_orderkey",
            round($"o_totalprice" * 100, 0).cast("bigint").as("cents"))
          .orderBy($"cents".desc, $"o_orderkey")
          .limit(k + 1)
        val w = Window.orderBy($"cents".desc, $"o_orderkey")
        val ranked = top.withColumn("rn", row_number().over(w))
        val xk1 = ranked.filter($"rn" === k + 1)
          .select($"cents".as("min_cents"))
        ranked.filter($"rn" <= k)
          .crossJoin(broadcast(xk1))
          .select(
            (round(log($"cents".cast("double")), 9).cast("decimal(12,9)") -
              round(log($"min_cents".cast("double")), 9)
                .cast("decimal(12,9)")).as("term"),
            $"min_cents")
          .agg(count(lit(1)).as("k"),
            sum($"term".cast("decimal(28,9)")).as("lsum"),
            max($"min_cents").as("min_cents"))
          .select($"k",
            round($"min_cents".cast("double") / 100.0, 2).as("x_min"),
            round($"k".cast("double") / $"lsum".cast("double"), 6)
              .as("hill_alpha"))
      },
      Some("""WITH top AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders ORDER BY cents DESC, o_orderkey LIMIT 101),
        |r AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents DESC,
        |    o_orderkey) AS rn FROM top),
        |k1 AS (SELECT cents AS min_cents FROM r WHERE rn = 101),
        |t AS (
        |  SELECT CAST(round(ln(CAST(cents AS DOUBLE)), 9)
        |      AS DECIMAL(12,9))
        |    - CAST(round(ln(CAST(min_cents AS DOUBLE)), 9)
        |      AS DECIMAL(12,9)) AS term, min_cents
        |  FROM r, k1 WHERE rn <= 100)
        |SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |  round(CAST(MAX(min_cents) AS DOUBLE) / 100.0, 2) AS x_min,
        |  round(CAST(COUNT(*) AS DOUBLE)
        |    / CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
        |    AS hill_alpha
        |FROM t""".stripMargin),
      "Hill heavy-tail index over top-100 order values (exact logs)"),

    // Rank-sum (Mann-Whitney) AUC: how well does a numeric score separate
    // a binary class — the one-number answer to "is this quality signal
    // worth gating on?" before a filter ships. Tie-correct via grouped
    // score counts: U2 = Σ_s pos_s·(2·neg_below_s + neg_at_s) stays in
    // BIGINT; AUC = U2 / (2·n1·n0) is the only double. The cumulative
    // neg-below is the SCALABLE two-phase form: a per-bucket window
    // (partitioned — parallel) plus a broadcast bucket-offset join; the
    // only unpartitioned window runs over the BUCKET table, whose row
    // count is bounded by score-domain/64, not by data volume.
    "q_auc" -> GQuery(
      (s, d) => {
        import s.implicits._
        val sc = Tables.load(s, d, "documents")
          .groupBy($"n_chars".as("score"))
          .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("pos"),
            sum(when($"lang" === "en", 0L).otherwise(1L)).as("neg"))
          .withColumn("bucket", floor($"score" / 64))
        val offsets = sc.groupBy($"bucket").agg(sum($"neg").as("bneg"))
          .withColumn("boff", coalesce(sum($"bneg").over(
            Window.orderBy($"bucket")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"bucket", $"boff")
        val wIn = Window.partitionBy($"bucket").orderBy($"score")
          .rowsBetween(Window.unboundedPreceding, -1)
        sc.join(broadcast(offsets), "bucket")
          .withColumn("cnb", $"boff" + coalesce(sum($"neg").over(wIn), lit(0L)))
          .agg(sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
            sum($"pos" * (lit(2L) * $"cnb" + $"neg")).as("u2"))
          .select($"n_pos", $"n_neg", $"u2",
            round($"u2".cast("double") /
              (lit(2.0) * $"n_pos" * $"n_neg"), 6).as("auc"))
      },
      Some("""WITH sc AS (
        |  SELECT n_chars AS score,
        |    CAST(SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(SUM(CASE WHEN lang='en' THEN 0 ELSE 1 END) AS BIGINT) AS neg
        |  FROM documents GROUP BY 1),
        |cum AS (
        |  SELECT score, pos, neg,
        |    COALESCE(SUM(neg) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
        |  FROM sc)
        |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
        |  CAST(SUM(neg) AS BIGINT) AS n_neg,
        |  CAST(SUM(pos*(2*cnb+neg)) AS BIGINT) AS u2,
        |  round(CAST(SUM(pos*(2*cnb+neg)) AS DOUBLE)
        |    / (2.0*SUM(pos)*SUM(neg)), 6) AS auc
        |FROM cum""".stripMargin),
      "tie-correct Mann-Whitney AUC of doc length vs lang=en (integer U)"),

    // Offline change-point detection on the daily event series: for each
    // candidate split t the standardized mean-shift statistic
    // |mean(≤t) − mean(>t)| · sqrt(t·(n−t)/n) (the CUSUM split form).
    // Day count is bounded by the calendar window, not data volume, so
    // the ordered window over the DAILY table is a constant-size stage at
    // any SF (same argument as the top-k windows); the per-event work is
    // one date-keyed partial-agg shuffle.
    "q_changepoint" -> GQuery(
      (s, d) => {
        import s.implicits._
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        val tot = daily.agg(sum($"n").as("tot"),
          count(lit(1)).as("nd"))
        val w = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.crossJoin(broadcast(tot))
          .withColumn("cum", sum($"n").over(w))
          .withColumn("t", row_number().over(Window.orderBy($"day")))
          .filter($"t" < $"nd")
          .select($"day",
            round(abs($"cum".cast("double") / $"t" -
              ($"tot" - $"cum").cast("double") / ($"nd" - $"t")) *
              sqrt($"t".cast("double") * ($"nd" - $"t") / $"nd"), 6)
              .as("cstat"))
          .orderBy($"cstat".desc, $"day").limit(5)
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT day, n,
        |    SUM(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum,
        |    row_number() OVER (ORDER BY day) AS t,
        |    CAST(SUM(n) OVER () AS BIGINT) AS tot,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nd
        |  FROM daily)
        |SELECT day,
        |  round(abs(CAST(cum AS DOUBLE)/t - CAST(tot-cum AS DOUBLE)/(nd-t))
        |    * sqrt(CAST(t AS DOUBLE)*(nd-t)/nd), 6) AS cstat
        |FROM c WHERE t < nd ORDER BY cstat DESC, day LIMIT 5""".stripMargin),
      "CUSUM-style change-point scan over the daily event series"),

    // Lag-k autocorrelation (k = 1..7) of the daily event count — the
    // weekly-seasonality probe run before any forecasting/anomaly model.
    // The lagged pairing is a SELF-JOIN on day = day + k (scale-safe and
    // gap-correct), not a positional lag() (the q_yoy_growth lesson:
    // positional offsets silently pair wrong rows across gaps). Pearson
    // terms stay in BIGINT sums until the final division.
    "q_autocorr" -> GQuery(
      (s, d) => {
        import s.implicits._
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        val lags = s.range(1, 8).select($"id".cast("int").as("lag"))
        val pairs = daily.as("a").crossJoin(broadcast(lags))
          .join(daily.as("b"),
            $"b.day" === date_add($"a.day", $"lag"))
          .select($"lag", $"a.n".as("x"), $"b.n".as("y"))
        pairs.groupBy($"lag")
          .agg(count(lit(1)).as("k"),
            sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"y").as("sxy"),
            sum($"x" * $"x").as("sxx"),
            sum($"y" * $"y").as("syy"))
          .select($"lag", $"k",
            round(($"k" * $"sxy" - $"sx" * $"sy").cast("double") /
              (sqrt(($"k" * $"sxx" - $"sx" * $"sx").cast("double")) *
                sqrt(($"k" * $"syy" - $"sy" * $"sy").cast("double"))), 6)
              .as("acf"))
          .orderBy($"lag")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |lags AS (SELECT unnest(generate_series(1,7)) AS lag),
        |p AS (
        |  SELECT l.lag, a.n AS x, b.n AS y
        |  FROM lags l JOIN daily a ON true
        |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT) * INTERVAL 1 DAY),
        |s AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM p GROUP BY 1)
        |SELECT lag, k,
        |  round((k*sxy - sx*sy) / (sqrt(CAST(k*sxx - sx*sx AS DOUBLE))
        |    * sqrt(CAST(k*syy - sy*sy AS DOUBLE))), 6) AS acf
        |FROM s ORDER BY lag""".stripMargin),
      "gap-correct lag-1..7 autocorrelation of daily events (self-join)"),

    // Chi-square independence test on the lang × source contingency table
    // (+ Cramér's V effect size) — "is language correlated with source?"
    // is the first question a corpus-mixing audit asks. Zero cells matter:
    // the full R×C grid comes from crossing the margins and left-joining
    // observed counts (a cell observed 0 still contributes its expected
    // mass). Margins, totals, and dimensions are broadcast one-row
    // scalars; terms follow the 9-dp-round → DECIMAL-sum recipe. Cell
    // count is bounded by the category domains, not data volume.
    "q_chi2" -> GQuery(
      (s, d) => {
        import s.implicits._
        // lang x source grid (bounded, <= ~100 cells) consumed by FOUR
        // passes (marginals x2, total, cell join) — checkpoint so the
        // corpus scan runs once; nr/nc fold into the final grid-side
        // reduction as countDistinct over the complete crossed grid
        // (identical values, two fewer 1-row barriers — r13 audit:
        // singlepart x3)
        val o = Tables.load(s, d, "documents")
          .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
        val rt = o.groupBy($"lang").agg(sum($"n").as("rn"))
        val ct = o.groupBy($"source").agg(sum($"n").as("cn"))
        val tot = o.agg(sum($"n").as("ntot"))
        val e = ($"rn" * $"cn").cast("double") / $"ntot"
        rt.crossJoin(ct)
          .join(o, Seq("lang", "source"), "left")
          .crossJoin(broadcast(tot))
          .select(round(pow(coalesce($"n", lit(0L)) - e, 2) / e, 9)
            .cast("decimal(24,9)").as("term"), $"ntot",
            $"lang", $"source")
          .groupBy($"ntot")
          .agg(sum($"term").as("tsum"),
            countDistinct($"lang").as("nr"),
            countDistinct($"source").as("nc"))
          .select(round($"tsum".cast("double"), 6).as("chi2"),
            (($"nr" - 1) * ($"nc" - 1)).as("dof"),
            round(sqrt($"tsum".cast("double") /
              ($"ntot".cast("double") * least($"nr" - 1, $"nc" - 1))), 6)
              .as("cramers_v"),
            $"ntot".as("n_docs"))
      },
      Some("""WITH o AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS rn FROM o GROUP BY 1),
        |ct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS cn FROM o GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS ntot FROM o),
        |cells AS (
        |  SELECT rt.rn, ct.cn, COALESCE(o.n, 0) AS obs
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source),
        |terms AS (
        |  SELECT CAST(round(pow(obs - CAST(rn*cn AS DOUBLE)/ntot, 2)
        |    / (CAST(rn*cn AS DOUBLE)/ntot), 9) AS DECIMAL(24,9)) AS term,
        |    ntot
        |  FROM cells, tot),
        |dims AS (SELECT
        |  CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS nr,
        |  CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS nc)
        |SELECT round(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
        |  (nr-1)*(nc-1) AS dof,
        |  round(sqrt(CAST(SUM(term) AS DOUBLE)
        |    / (CAST(ntot AS DOUBLE) * least(nr-1, nc-1))), 6) AS cramers_v,
        |  ntot AS n_docs
        |FROM terms, dims GROUP BY ntot, nr, nc""".stripMargin),
      "chi-square independence + Cramér's V on lang × source (full grid)"),

    // Per-event-type OLS trend of the daily count series: slope
    // (events/day), intercept, and R² from the closed-form normal
    // equations — all sums stay in BIGINT (day index × count products),
    // with doubles only in the final three divisions. The day index is
    // datediff from the global min day (broadcast one-row scalar), so the
    // regression is gap-correct. One date-keyed partial-agg shuffle, then
    // a 5-group aggregate.
    "q_trend" -> GQuery(
      (s, d) => {
        import s.implicits._
        val daily = Tables.load(s, d, "events")
          .groupBy($"event_type", to_date($"ts").as("day"))
          .agg(count(lit(1)).as("x"))
        val m = daily.agg(min($"day").as("d0"))
        val idx = daily.crossJoin(broadcast(m))
          .select($"event_type",
            datediff($"day", $"d0").cast("bigint").as("t"), $"x")
        idx.groupBy($"event_type")
          .agg(count(lit(1)).as("k"),
            sum($"t").as("st"), sum($"x").as("sx"),
            sum($"t" * $"x").as("stx"),
            sum($"t" * $"t").as("stt"),
            sum($"x" * $"x").as("sxx"))
          .select($"event_type", $"k",
            round(($"k" * $"stx" - $"st" * $"sx") /
              ($"k" * $"stt" - $"st" * $"st").cast("double"), 6)
              .as("slope"),
            round(($"sx".cast("double") * $"stt" - $"st" * $"stx") /
              ($"k" * $"stt" - $"st" * $"st").cast("double"), 6)
              .as("intercept"),
            round(pow($"k" * $"stx" - $"st" * $"sx", 2) /
              (($"k" * $"stt" - $"st" * $"st").cast("double") *
                ($"k" * $"sxx" - $"sx" * $"sx")), 6).as("r2"))
          .orderBy($"event_type")
      },
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT min(day) AS d0 FROM daily),
        |idx AS (SELECT event_type, CAST(day - d0 AS BIGINT) AS t, x
        |        FROM daily, m),
        |s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(t*x) AS BIGINT) AS stx,
        |    CAST(SUM(t*t) AS BIGINT) AS stt,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx
        |  FROM idx GROUP BY 1)
        |SELECT event_type, k,
        |  round((k*stx - st*sx) / CAST(k*stt - st*st AS DOUBLE), 6)
        |    AS slope,
        |  round((CAST(sx AS DOUBLE)*stt - st*stx)
        |    / CAST(k*stt - st*st AS DOUBLE), 6) AS intercept,
        |  round(pow(k*stx - st*sx, 2) / (CAST(k*stt - st*st AS DOUBLE)
        |    * (k*sxx - sx*sx)), 6) AS r2
        |FROM s ORDER BY event_type""".stripMargin),
      "per-event-type OLS trend (slope/intercept/R²) in integer sums"),

    // Two-sample Kolmogorov-Smirnov statistic comparing the doc-length
    // distributions of en vs non-en: D = max_s |F_en(s) − F_other(s)|.
    // Stays INTEGER all the way: the deviation is |ca·nb − cb·na| (cross-
    // multiplied CDFs), so the max is found on exact longs and only the
    // one reported D divides. The two cumulatives ride the SAME two-phase
    // bucket decomposition as q_auc (partitioned window + broadcast
    // offsets — no data-volume single-partition stage); argmax via
    // TakeOrdered(1) with a full tie-break.
    "q_ks_test" -> GQuery(
      (s, d) => {
        import s.implicits._
        val sc = Tables.load(s, d, "documents")
          .groupBy($"n_chars".as("score"))
          .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("a"),
            sum(when($"lang" === "en", 0L).otherwise(1L)).as("b"))
          .withColumn("bucket", floor($"score" / 64))
        val wOff = Window.orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = sc.groupBy($"bucket")
          .agg(sum($"a").as("ba"), sum($"b").as("bb"))
          .select($"bucket",
            coalesce(sum($"ba").over(wOff), lit(0L)).as("oa"),
            coalesce(sum($"bb").over(wOff), lit(0L)).as("ob"))
        val wIn = Window.partitionBy($"bucket").orderBy($"score")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = sc.agg(sum($"a").as("na"), sum($"b").as("nb"))
        sc.join(broadcast(off), "bucket").crossJoin(broadcast(tot))
          .select($"score",
            ($"oa" + sum($"a").over(wIn)).as("ca"),
            ($"ob" + sum($"b").over(wIn)).as("cb"), $"na", $"nb")
          .withColumn("dev_num", abs($"ca" * $"nb" - $"cb" * $"na"))
          .select($"score".as("argmax_score"), $"dev_num",
            $"na".as("n_en"), $"nb".as("n_other"),
            round($"dev_num".cast("double") / ($"na" * $"nb"), 6)
              .as("ks_d"))
          .orderBy($"dev_num".desc, $"argmax_score").limit(1)
      },
      Some("""WITH sc AS (
        |  SELECT n_chars AS score,
        |    CAST(SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN lang='en' THEN 0 ELSE 1 END) AS BIGINT) AS b
        |  FROM documents GROUP BY 1),
        |cum AS (
        |  SELECT score,
        |    SUM(a) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS ca,
        |    SUM(b) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cb,
        |    CAST(SUM(a) OVER () AS BIGINT) AS na,
        |    CAST(SUM(b) OVER () AS BIGINT) AS nb
        |  FROM sc)
        |SELECT score AS argmax_score,
        |  CAST(abs(ca*nb - cb*na) AS BIGINT) AS dev_num,
        |  na AS n_en, nb AS n_other,
        |  round(CAST(abs(ca*nb - cb*na) AS DOUBLE)/(na*nb), 6) AS ks_d
        |FROM cum ORDER BY dev_num DESC, argmax_score LIMIT 1""".stripMargin),
      "two-sample KS statistic (integer cross-CDF deviations, exact argmax)"),

    // Population Stability Index on the event-value distribution, first
    // 15 days vs the rest — THE production drift alarm for any scored /
    // monitored feature: PSI = Σ_bins (p−q)·ln(p/q) over 10 fixed-width
    // value bins, with Laplace smoothing (+0.5 per bin) so empty bins
    // are well-defined on both engines. The split day derives from the
    // data (min day + 14, one-row broadcast), not a calendar literal.
    // Per-event work is one (half, bin) partial-agg shuffle; everything
    // after is 10 bins.
    "q_psi" -> GQuery(
      (s, d) => {
        import s.implicits._
        val ev = Tables.load(s, d, "events").filter($"value".isNotNull)
          .select(to_date($"ts").as("day"), $"value")
        val m = ev.agg(min($"day").as("d0"))
        val e = ev.crossJoin(broadcast(m))
          .select(when($"day" <= date_add($"d0", 14), "p").otherwise("q")
            .as("half"),
            least(greatest(floor($"value" / 50.0).cast("bigint"), lit(0L)),
              lit(9L)).as("bin"))
        // half x bin grid (<= 20 rows) consumed by FOUR anchors below —
        // checkpoint so the corpus scan + min-day anchor + bin shuffle
        // run once, not per consumer (r13 audit: singlepart x7 from the
        // duplicated subtree; the ee746d2 recipe)
        val c = e.groupBy($"half", $"bin").agg(count(lit(1)).as("n"))
          // kept checkpointed (r16 re-measured the lazy form: a wash at
          // local[32]) — PlanSpec pins that the bin smoothing runs on
          // the materialized grid with no fact scan in the final plan
          .localCheckpoint()
        val bins = s.range(0, 10).select($"id".as("bin"))
        // np + nq folded into ONE conditional 1-row reduction (was two
        // separate filter+agg barriers over the same grid)
        val t = c.agg(sum(when($"half" === "p", $"n")).as("np"),
          sum(when($"half" === "q", $"n")).as("nq"))
        val j = broadcast(bins)
          .join(c.filter($"half" === "p").select($"bin", $"n".as("cp")),
            Seq("bin"), "left")
          .join(c.filter($"half" === "q").select($"bin", $"n".as("cq")),
            Seq("bin"), "left")
          .crossJoin(broadcast(t))
          .select(
            ((coalesce($"cp", lit(0L)) + 0.5) / ($"np" + 5.0)).as("pp"),
            ((coalesce($"cq", lit(0L)) + 0.5) / ($"nq" + 5.0)).as("qq"))
        j.select(round(($"pp" - $"qq") * log($"pp" / $"qq"), 9)
            .cast("decimal(20,9)").as("term"))
          .agg(count(lit(1)).as("n_bins"), sum($"term").as("tsum"))
          .select($"n_bins", round($"tsum".cast("double"), 6).as("psi"))
      },
      Some("""WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, value FROM events
        |  WHERE value IS NOT NULL),
        |m AS (SELECT min(day) AS d0 FROM ev),
        |e AS (
        |  SELECT CASE WHEN day <= d0 + 14 THEN 'p' ELSE 'q' END AS half,
        |    least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0), 9)
        |      AS bin
        |  FROM ev, m),
        |c AS (SELECT half, bin, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1, 2),
        |bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
        |tp AS (SELECT CAST(SUM(n) AS BIGINT) AS np FROM c WHERE half='p'),
        |tq AS (SELECT CAST(SUM(n) AS BIGINT) AS nq FROM c WHERE half='q'),
        |j AS (
        |  SELECT (COALESCE(p.n, 0) + 0.5) / (np + 5.0) AS pp,
        |    (COALESCE(q.n, 0) + 0.5) / (nq + 5.0) AS qq
        |  FROM bins b
        |  LEFT JOIN (SELECT bin, n FROM c WHERE half='p') p ON b.bin=p.bin
        |  LEFT JOIN (SELECT bin, n FROM c WHERE half='q') q ON b.bin=q.bin,
        |  tp, tq)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  round(CAST(SUM(CAST(round((pp-qq)*ln(pp/qq), 9)
        |    AS DECIMAL(20,9))) AS DOUBLE), 6) AS psi
        |FROM j""".stripMargin),
      "population stability index: event-value drift, first 15 days vs rest"),

    // Weight-of-evidence / information-value audit of a binned feature vs
    // a binary label — the standard credit-scoring / feature-selection
    // screen (IV < 0.02 = useless, > 0.3 = strong). Feature: n_chars in
    // 10 fixed-width bins; label: lang='en'. Laplace +0.5 per bin (the
    // q_psi recipe) keeps empty cells defined. Shapes: one (bin) keyed
    // partial-agg shuffle over the corpus; everything downstream is 10
    // rows (the window total is bounded-post-agg, q_auc's justification).
    // Exactness: smoothed shares are single IEEE divisions of exact
    // integers+0.5; ln rounds to 9 dp into DECIMAL; IV terms to 12 dp.
    "q_woe_iv" -> GQuery(
      (s, d) => {
        import s.implicits._
        val c = Tables.load(s, d, "documents")
          .select(least(greatest(floor($"n_chars" / 60.0).cast("bigint"),
            lit(0L)), lit(9L)).as("bin"),
            ($"lang" === "en").cast("long").as("is_pos"))
          .groupBy($"bin")
          .agg(sum($"is_pos").as("n_pos"),
            sum(lit(1L) - $"is_pos").as("n_neg"))
        val tot = c.agg(sum($"n_pos").as("tp"), sum($"n_neg").as("tn"))
        val bins = s.range(0, 10).select($"id".as("bin"))
        val sh = broadcast(bins)
          .join(c, Seq("bin"), "left")
          .crossJoin(broadcast(tot))
          .select($"bin",
            coalesce($"n_pos", lit(0L)).as("n_pos"),
            coalesce($"n_neg", lit(0L)).as("n_neg"),
            ((coalesce($"n_pos", lit(0L)) + 0.5) / ($"tp" + 5.0)).as("pp"),
            ((coalesce($"n_neg", lit(0L)) + 0.5) / ($"tn" + 5.0)).as("qq"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"bin")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        sh.select($"bin", $"n_pos", $"n_neg",
            round(log($"pp" / $"qq"), 6).as("woe"),
            round(($"pp" - $"qq") * round(log($"pp" / $"qq"), 9), 12)
              .cast("decimal(20,12)").as("term"))
          .withColumn("iv_total",
            round(sum($"term").over(w).cast("double"), 6))
          .select($"bin", $"n_pos", $"n_neg", $"woe",
            round($"term".cast("double"), 6).as("iv_term"), $"iv_total")
          .orderBy($"bin")
      },
      Some("""WITH c AS (
        |  SELECT least(greatest(CAST(floor(n_chars / 60.0) AS BIGINT), 0), 9)
        |      AS bin,
        |    CAST(SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos,
        |    CAST(SUM(CASE WHEN lang='en' THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_neg
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
        |               CAST(SUM(n_neg) AS BIGINT) AS tn FROM c),
        |bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
        |sh AS (
        |  SELECT b.bin,
        |    COALESCE(c.n_pos, 0) AS n_pos, COALESCE(c.n_neg, 0) AS n_neg,
        |    (COALESCE(c.n_pos, 0) + 0.5) / (tp + 5.0) AS pp,
        |    (COALESCE(c.n_neg, 0) + 0.5) / (tn + 5.0) AS qq
        |  FROM bins b LEFT JOIN c ON b.bin = c.bin, tot),
        |t AS (
        |  SELECT bin, n_pos, n_neg,
        |    round(ln(pp / qq), 6) AS woe,
        |    CAST(round((pp - qq) * round(ln(pp / qq), 9), 12)
        |      AS DECIMAL(20,12)) AS term
        |  FROM sh)
        |SELECT bin, n_pos, n_neg, woe,
        |  round(CAST(term AS DOUBLE), 6) AS iv_term,
        |  round(CAST(SUM(term) OVER () AS DOUBLE), 6) AS iv_total
        |FROM t ORDER BY bin""".stripMargin),
      "weight-of-evidence + information value of binned n_chars vs lang"),

    // Precision-recall curve at 20 descending score thresholds — the
    // classifier-eval companion to q_auc (which integrates one number;
    // this shows the operating points). Predict positive when the score
    // (n_chars) reaches the bin's lower edge: cumulative TP/FP from the
    // top bin down. One (bin) keyed partial-agg shuffle; the cumulative
    // window runs over ≤20 post-agg rows (bounded, q_auc's
    // justification). All counts integers; ratios are single IEEE
    // divisions rounded at the display edge.
    "q_pr_curve" -> GQuery(
      (s, d) => {
        import s.implicits._
        val c = Tables.load(s, d, "documents")
          .select(least(greatest(floor($"n_chars" / 30.0).cast("bigint"),
            lit(0L)), lit(19L)).as("bin"),
            ($"lang" === "en").cast("long").as("is_pos"))
          .groupBy($"bin")
          .agg(sum($"is_pos").as("pos"),
            sum(lit(1L) - $"is_pos").as("neg"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"bin".desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val wt = org.apache.spark.sql.expressions.Window
          .orderBy($"bin".desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        c.select($"bin", $"pos", $"neg",
            sum($"pos").over(w).as("cum_pos"),
            (sum($"pos").over(w) + sum($"neg").over(w)).as("cum_n"),
            sum($"pos").over(wt).as("tot_pos"))
          .select($"bin", ($"bin" * 30L).as("thr"), $"cum_pos", $"cum_n",
            round($"cum_pos".cast("double") / $"cum_n", 6).as("precision"),
            round($"cum_pos".cast("double") / $"tot_pos", 6).as("recall"))
          .orderBy($"bin".desc)
      },
      Some("""WITH c AS (
        |  SELECT least(greatest(CAST(floor(n_chars / 30.0) AS BIGINT), 0), 19)
        |      AS bin,
        |    CAST(SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pos,
        |    CAST(SUM(CASE WHEN lang='en' THEN 0 ELSE 1 END) AS BIGINT)
        |      AS neg
        |  FROM documents GROUP BY 1),
        |cum AS (
        |  SELECT bin, pos, neg,
        |    SUM(pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cum_pos,
        |    SUM(pos + neg) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cum_n,
        |    SUM(pos) OVER () AS tot_pos
        |  FROM c)
        |SELECT bin, bin * 30 AS thr,
        |  CAST(cum_pos AS BIGINT) AS cum_pos,
        |  CAST(cum_n AS BIGINT) AS cum_n,
        |  round(CAST(cum_pos AS DOUBLE) / cum_n, 6) AS precision,
        |  round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS recall
        |FROM cum ORDER BY bin DESC""".stripMargin),
      "precision-recall operating points at 20 descending score thresholds"),

    // Time-weighted average value per event type (TWAP) — the
    // irregular-sampling mean: each observation holds until the next
    // one, so its weight is its holding duration; a plain mean
    // over-counts bursts. Exactness recipe: timestamps as µs BIGINTs
    // (unix_micros ≡ epoch_us), values in micro-units, per-type lead()
    // for the holding interval with (ts, event_id) tie-break, and the
    // value×duration products summed in DECIMAL(38,0) (vm·Δt can pass
    // 2^63; the plain-mean Σvm rides the same decimal because a Spark
    // long sum past 2^63 throws ARITHMETIC_OVERFLOW under the ANSI mode
    // every graft session runs in, where DuckDB's HUGEINT sum widens
    // and succeeds) — both engines reduce exact
    // integers and perform ONE identical double division at the end.
    // The last observation per type has no successor and drops out
    // (standard left-closed TWAP). Scale shape: one type-keyed window
    // (partitioned — never global) + one grouped aggregation.
    "q_twap" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = Tables.load(s, d, "events")
          .select($"event_type", expr("unix_micros(ts)").as("us"),
            $"event_id",
            expr("CAST(round(value * 1e6) AS BIGINT)").as("vm"))
        val w = Window.partitionBy($"event_type")
          .orderBy($"us", $"event_id")
        val d2 = e
          .withColumn("dt", lead($"us", 1).over(w) - $"us")
          .filter($"dt".isNotNull)
        d2.groupBy($"event_type")
          .agg(count(lit(1)).as("n_intervals"),
            round((sum(($"vm".cast("decimal(38,0)") * $"dt"))
                .cast("double") / sum($"dt").cast("double")) / 1e6, 6)
              .as("twap"),
            round(sum($"vm".cast("decimal(38,0)")).cast("double")
                / count(lit(1)) / 1e6, 6)
              .as("plain_mean"))
          .orderBy($"event_type")
      },
      Some("""WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us, event_id,
        |    CAST(round(value * 1e6) AS BIGINT) AS vm
        |  FROM events),
        |iv AS (
        |  SELECT event_type, vm,
        |    lead(us) OVER (PARTITION BY event_type
        |      ORDER BY us, event_id) - us AS dt
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  round(CAST(SUM(CAST(vm AS DECIMAL(38,0)) * dt) AS DOUBLE)
        |    / CAST(SUM(dt) AS DOUBLE) / 1e6, 6) AS twap,
        |  round(CAST(SUM(CAST(vm AS DECIMAL(38,0))) AS DOUBLE)
        |    / COUNT(*) / 1e6, 6) AS plain_mean
        |FROM iv WHERE dt IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
      "time-weighted average value per event type (TWAP; exact integer " +
        "micro-unit x microsecond products in DECIMAL(38,0))"),

    // Exponentially weighted moving average of daily event volume — the
    // smoothing telemetry dashboards and drift monitors run before
    // thresholding. α = 0.5 over a 30-CALENDAR-DAY window, as a range
    // self-join on the day spine (not a positional lag: a gap day must
    // decay the average, not shift it — the q_yoy_growth lesson). The
    // dyadic α makes the whole query cross-engine EXACT: every term
    // n·0.5^δ (δ ≤ 29, n < 2^23) is a dyadic rational spanning < 53
    // mantissa bits, so the sums are exact doubles in ANY addition order
    // and the final division is one IEEE op both engines perform on
    // identical inputs. Scale shape: one date-keyed partial-agg shuffle
    // to the day spine (O(days) rows ≪ O(events)), then a banded
    // self-join the RangeJoinRewrite rule keeps off the BNLJ path.
    "q_ewma" -> GQuery(
      (s, d) => {
        import s.implicits._
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        val a = daily.select($"day", $"n")
        val b = daily.select($"day".as("bday"), $"n".as("bn"))
        a.join(b, $"bday" >= date_sub($"day", 29) && $"bday" <= $"day")
          .groupBy($"day", $"n")
          .agg(
            (sum($"bn" * pow(lit(0.5), datediff($"day", $"bday"))) /
              sum(pow(lit(0.5), datediff($"day", $"bday")))).as("ewma0"))
          .select($"day", $"n".as("n_events"),
            round($"ewma0", 6).as("ewma"),
            round($"n" / $"ewma0", 6).as("vs_trend"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |j AS (
        |  SELECT a.day, a.n,
        |    SUM(b.n * power(0.5, date_diff('day', b.day, a.day))) /
        |      SUM(power(0.5, date_diff('day', b.day, a.day))) AS ewma0
        |  FROM daily a JOIN daily b
        |    ON b.day >= a.day - INTERVAL 29 DAY AND b.day <= a.day
        |  GROUP BY a.day, a.n)
        |SELECT day, CAST(n AS BIGINT) AS n_events,
        |  round(ewma0, 6) AS ewma,
        |  round(n / ewma0, 6) AS vs_trend
        |FROM j ORDER BY day""".stripMargin),
      "calendar-window EWMA of daily volume (dyadic α, cross-engine exact)"),

    // Brown's double exponential smoothing (trend-aware forecast): the
    // EWMA-of-the-EWMA gives level = 2·s1 − s2 and, at α = 1/2, trend =
    // s1 − s2, so next-day forecast = 3·s1 − 2·s2 — the one-parameter
    // trend extension of q_ewma, composed from the SAME banded-window
    // closed form (explicit 30-day dyadic-weight sums, no recursion, so
    // both engines evaluate the identical expression tree; round 6
    // absorbs ~1e-15 double-sum drift). Scale shape: the only O(data)
    // work is the daily partial-agg; both band self-joins run over the
    // calendar-days table (bounded by the date span, not row count),
    // identical to q_ewma's shape plus one more tiny band join.
    "q_double_ewma" -> GQuery(
      (s, d) => {
        import s.implicits._
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        val b = daily.select($"day".as("bday"), $"n".as("bn"))
        val s1 = daily.join(b,
            $"bday" >= date_sub($"day", 29) && $"bday" <= $"day")
          .groupBy($"day", $"n")
          .agg((sum($"bn" * pow(lit(0.5), datediff($"day", $"bday"))) /
            sum(pow(lit(0.5), datediff($"day", $"bday")))).as("s1"))
        val s1b = s1.select($"day".as("bday"), $"s1".as("bs1"))
        s1.join(s1b,
            $"bday" >= date_sub($"day", 29) && $"bday" <= $"day")
          .groupBy($"day", $"n", $"s1")
          .agg((sum($"bs1" * pow(lit(0.5), datediff($"day", $"bday"))) /
            sum(pow(lit(0.5), datediff($"day", $"bday")))).as("s2"))
          .select($"day", $"n".as("n_events"),
            round($"s1", 6).as("s1"),
            round($"s2", 6).as("s2"),
            round(lit(2.0) * $"s1" - $"s2", 6).as("level"),
            round($"s1" - $"s2", 6).as("trend"),
            round(lit(3.0) * $"s1" - lit(2.0) * $"s2", 6)
              .as("forecast_next"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |s1 AS (
        |  SELECT a.day, a.n,
        |    SUM(b.n * power(0.5, date_diff('day', b.day, a.day))) /
        |      SUM(power(0.5, date_diff('day', b.day, a.day))) AS s1
        |  FROM daily a JOIN daily b
        |    ON b.day >= a.day - INTERVAL 29 DAY AND b.day <= a.day
        |  GROUP BY a.day, a.n),
        |s2 AS (
        |  SELECT a.day, a.n, a.s1,
        |    SUM(b.s1 * power(0.5, date_diff('day', b.day, a.day))) /
        |      SUM(power(0.5, date_diff('day', b.day, a.day))) AS s2
        |  FROM s1 a JOIN s1 b
        |    ON b.day >= a.day - INTERVAL 29 DAY AND b.day <= a.day
        |  GROUP BY a.day, a.n, a.s1)
        |SELECT day, CAST(n AS BIGINT) AS n_events,
        |  round(s1, 6) AS s1, round(s2, 6) AS s2,
        |  round(2.0 * s1 - s2, 6) AS level,
        |  round(s1 - s2, 6) AS trend,
        |  round(3.0 * s1 - 2.0 * s2, 6) AS forecast_next
        |FROM s2 ORDER BY day""".stripMargin),
      "Brown's double exponential smoothing: level/trend/one-step " +
        "forecast from the banded dyadic EWMA-of-EWMA (cross-engine)"),

    // k-anonymity / l-diversity audit over quasi-identifiers — the privacy
    // gate a training corpus passes before release: any combination of
    // QI values identifying fewer than k individuals is a re-identification
    // risk. QIs here are (nation, market segment); the sensitive attribute
    // is the account-balance band (floor/1000). Reports, per disclosure
    // threshold k ∈ {2,5,10,20}: how many equivalence classes and rows
    // fall below it, plus the dataset's actual k-anonymity (min class
    // size) and l-diversity (min distinct sensitive values per class).
    // Scale shape: one QI-keyed partial-agg shuffle to the class table
    // (bounded by the QI-cardinality product, not row count); thresholds
    // and the global minima ride as one-row/4-row broadcasts — integers
    // end to end except the final pct division.
    "q_k_anonymity" -> GQuery(
      (s, d) => {
        import s.implicits._
        val classes = Tables.load(s, d, "customer")
          .groupBy($"c_nationkey", $"c_mktsegment")
          .agg(count(lit(1)).as("cls_n"),
            countDistinct(floor($"c_acctbal" / 1000).cast("long"))
              .as("cls_l"))
        val global = classes.agg(
          min($"cls_n").as("k_anonymity"),
          min($"cls_l").as("l_diversity"),
          sum($"cls_n").as("n_rows"))
        val thresholds = s.range(0, 4).toDF("i")
          .select(element_at(array(lit(2L), lit(5L), lit(10L), lit(20L)),
            ($"i" + 1).cast("int")).as("k"))
        classes.crossJoin(broadcast(thresholds))
          .groupBy($"k")
          .agg(
            sum(when($"cls_n" < $"k", 1L).otherwise(0L))
              .as("n_classes_lt_k"),
            sum(when($"cls_n" < $"k", $"cls_n").otherwise(0L))
              .as("n_rows_lt_k"))
          .crossJoin(broadcast(global))
          .select($"k", $"n_classes_lt_k", $"n_rows_lt_k",
            round($"n_rows_lt_k".cast("double") / $"n_rows", 6)
              .as("pct_rows_lt_k"),
            $"k_anonymity", $"l_diversity")
          .orderBy($"k")
      },
      Some("""WITH classes AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cls_n,
        |    COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS cls_l
        |  FROM customer GROUP BY 1, 2),
        |g AS (
        |  SELECT CAST(MIN(cls_n) AS BIGINT) AS k_anonymity,
        |    CAST(MIN(cls_l) AS BIGINT) AS l_diversity,
        |    CAST(SUM(cls_n) AS BIGINT) AS n_rows
        |  FROM classes),
        |t AS (SELECT unnest([2, 5, 10, 20]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |  CAST(SUM(CASE WHEN cls_n < k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_classes_lt_k,
        |  CAST(SUM(CASE WHEN cls_n < k THEN cls_n ELSE 0 END) AS BIGINT)
        |    AS n_rows_lt_k,
        |  round(CAST(SUM(CASE WHEN cls_n < k THEN cls_n ELSE 0 END)
        |    AS DOUBLE) / any_value(n_rows), 6) AS pct_rows_lt_k,
        |  any_value(k_anonymity) AS k_anonymity,
        |  any_value(l_diversity) AS l_diversity
        |FROM classes CROSS JOIN t CROSS JOIN g
        |GROUP BY k ORDER BY k""".stripMargin),
      "k-anonymity / l-diversity audit over quasi-identifier classes"),

    // epsilon-differentially-private released counts per event type
    // (Laplace mechanism, eps = 1) — the privacy sibling of
    // q_k_anonymity: what a DP query interface would actually publish.
    // The Laplace draw is DETERMINISTIC (md5-seeded inverse CDF, the
    // house recipe — rand() would break both the oracle and
    // reproducible releases): u = (2h+1)/2e6 from the type's md5,
    // noise = -sign(u - 1/2) * ln(1 - 2|u - 1/2|). The ln argument
    // reduces to k/1e6 with k an exact INTEGER in [1, 1e6), so the
    // transcendental is a difference of 9-dp-frozen ln-of-integer
    // terms — the q_mutual_info determinism rule; (2h+1) is odd so the
    // CDF never hits the sign singularity. Scale: one category-keyed
    // partial-agg shuffle; the noise is per-GROUP arithmetic.
    "q_dp_count" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "events")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("h",
            pmod(conv(substring(md5(concat(lit("dp_"), $"event_type")),
              1, 8), 16, 10).cast("bigint"), lit(1000000L)))
          .withColumn("dev", lit(2L) * $"h" + 1L - 1000000L)
          .select($"event_type", $"n",
            expr(s"CAST(round($dpNoiseE * 1000000.0, 0) AS BIGINT)")
              .as("noise_micro"),
            expr(s"CAST(round((CAST(n AS DOUBLE) + $dpNoiseE) " +
              "* 1000000.0, 0) AS BIGINT)").as("released_micro"))
          .orderBy($"event_type")
      },
      Some(s"""WITH g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |h AS (
        |  SELECT event_type, n,
        |    ('0x' || substring(md5('dp_' || event_type), 1, 8))::BIGINT
        |      % 1000000 AS h
        |  FROM g),
        |dv AS (SELECT event_type, n, 2 * h + 1 - 1000000 AS dev FROM h)
        |SELECT event_type, n,
        |  CAST(round($dpNoiseE * 1000000.0, 0) AS BIGINT)
        |    AS noise_micro,
        |  CAST(round((CAST(n AS DOUBLE) + $dpNoiseE) * 1000000.0, 0)
        |    AS BIGINT) AS released_micro
        |FROM dv ORDER BY event_type""".stripMargin),
      "deterministic-Laplace differentially-private count release " +
        "per event type (eps = 1, md5-seeded inverse CDF)"),

    // Simpson's-paradox audit: the discount -> quantity OLS slope per
    // return-flag group NEXT TO the pooled slope, flagging groups whose
    // within-group trend points the other way — the aggregation-bias
    // check that should precede any pooled-correlation claim (the
    // classic admission/kidney-stone reversal detector). The pooled
    // moments are EXACTLY the column sums of the per-group moment
    // battery (raw power sums are additive), so the whole audit is ONE
    // corpus partial-agg + a 3-row checkpointed group table + one 1-row
    // anchor. Exactness: centi-frozen x/y, decimal products, identical
    // closed-form slope expressions both engines; degenerate groups
    // (zero x-variance) emit NULL slope/flag via CASE guards.
    "q_simpsons" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val g = Tables.load(s, d, "lineitem")
          .select($"l_returnflag",
            expr("CAST(round(l_discount * 100, 0) AS BIGINT)").as("x"),
            expr("CAST(round(l_quantity * 100, 0) AS BIGINT)").as("y"))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("ng"),
            sum($"x".cast(d19)).as("sxg"),
            sum($"y".cast(d19)).as("syg"),
            sum($"x".cast(d19) * $"x".cast(d19)).as("sxxg"),
            sum($"x".cast(d19) * $"y".cast(d19)).as("sxyg"))
          // 3-row group-moment table consumed by the pooled anchor AND
          // the readout
        val pooled = g.agg(sum($"ng").as("np"), sum($"sxg").as("sxp"),
          sum($"syg").as("syp"), sum($"sxxg").as("sxxp"),
          sum($"sxyg").as("sxyp"))
        g.crossJoin(broadcast(pooled))
          .select($"l_returnflag", $"ng".as("n"),
            expr(s"CASE WHEN ${simpDenE("g")} = 0.0 THEN " +
              s"CAST(NULL AS BIGINT) ELSE CAST(round(${simpSlopeE("g")}" +
              " * 1000000.0, 0) AS BIGINT) END").as("slope_micro"),
            expr(s"CASE WHEN ${simpDenE("p")} = 0.0 THEN " +
              s"CAST(NULL AS BIGINT) ELSE CAST(round(${simpSlopeE("p")}" +
              " * 1000000.0, 0) AS BIGINT) END").as("pooled_micro"),
            expr(s"CASE WHEN ${simpDenE("g")} = 0.0 OR " +
              s"${simpDenE("p")} = 0.0 THEN CAST(NULL AS BOOLEAN) " +
              s"ELSE ${simpSlopeE("g")} * ${simpSlopeE("p")} < 0.0 " +
              "END").as("sign_flip"))
          .orderBy($"l_returnflag")
      },
      Some(s"""WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS x,
        |    CAST(round(l_quantity * 100, 0) AS BIGINT) AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(x AS DECIMAL(19,0))) AS sxg,
        |    SUM(CAST(y AS DECIMAL(19,0))) AS syg,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |      AS sxxg,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS sxyg
        |  FROM li GROUP BY 1),
        |pl AS (
        |  SELECT CAST(SUM(ng) AS BIGINT) AS np, SUM(sxg) AS sxp,
        |    SUM(syg) AS syp, SUM(sxxg) AS sxxp, SUM(sxyg) AS sxyp
        |  FROM g)
        |SELECT l_returnflag, ng AS n,
        |  CASE WHEN ${simpDenE("g")} = 0.0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round(${simpSlopeE("g")} * 1000000.0, 0)
        |      AS BIGINT) END AS slope_micro,
        |  CASE WHEN ${simpDenE("p")} = 0.0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round(${simpSlopeE("p")} * 1000000.0, 0)
        |      AS BIGINT) END AS pooled_micro,
        |  CASE WHEN ${simpDenE("g")} = 0.0 OR ${simpDenE("p")} = 0.0
        |    THEN CAST(NULL AS BOOLEAN)
        |    ELSE ${simpSlopeE("g")} * ${simpSlopeE("p")} < 0.0
        |    END AS sign_flip
        |FROM g, pl ORDER BY l_returnflag""".stripMargin),
      "Simpson's-paradox audit: per-group vs pooled OLS slope with " +
        "sign-reversal flags (additive moment battery, one scan)"),

    // Welch two-sample A/B z-test on mean event value — the experiment
    // readout primitive (the PROPORTION variant degenerates on this data:
    // every user converts, pooled variance 0, z = 0/0). Cohorts from a
    // deterministic user_id parity split; per-cohort moments are EXACT —
    // values to integer micro-units, Σv and Σv² summed in decimal(38,0)
    // (the q_skew_moments power-sum recipe) — and the z statistic is a
    // fixed sequence of IEEE ops both engines apply to those identical
    // integers (decimal→double is correctly rounded, sqrt is correctly
    // rounded). nullif guards the zero-variance edge to NULL on both
    // engines. One cohort-keyed partial-agg shuffle; the ±1.96 verdict
    // rides along so a pipeline gates on the boolean.
    "q_ab_test" -> GQuery(
      (s, d) => {
        import s.implicits._
        val st = Tables.load(s, d, "events")
          .select(($"user_id" % 2 === 1).as("treat"),
            round($"value" * 1e6, 0)
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("v"))
          .groupBy($"treat")
          .agg(count(lit(1)).as("n"), sum($"v").as("s"),
            sum($"v" * $"v").as("ss"))
        val wide = st.groupBy().agg(
          sum(when(!$"treat", $"n")).as("n_c"),
          sum(when(!$"treat", $"s")).as("s_c"),
          sum(when(!$"treat", $"ss")).as("ss_c"),
          sum(when($"treat", $"n")).as("n_t"),
          sum(when($"treat", $"s")).as("s_t"),
          sum(when($"treat", $"ss")).as("ss_t"))
        // variance in micro² units; micro factors cancel inside z
        def variance(ss: Column, sm: Column, n: Column): Column =
          (ss.cast("double") - sm.cast("double") * sm.cast("double") / n) /
            (n - 1)
        val vc = variance($"ss_c", $"s_c", $"n_c")
        val vt = variance($"ss_t", $"s_t", $"n_t")
        val z = ($"s_t".cast("double") / $"n_t" -
          $"s_c".cast("double") / $"n_c") /
          nullif(sqrt(vc / $"n_c" + vt / $"n_t"), lit(0.0))
        wide.select($"n_c", $"n_t",
          round($"s_c".cast("double") / $"n_c" / 1e6, 6).as("mean_c"),
          round($"s_t".cast("double") / $"n_t" / 1e6, 6).as("mean_t"),
          round(z, 6).as("z"),
          (abs(z) > 1.96).as("significant"))
      },
      Some("""WITH st AS (
        |  SELECT user_id % 2 = 1 AS treat,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(round(value * 1000000, 0) AS DECIMAL(38,0))) AS s,
        |    SUM(CAST(round(value * 1000000, 0) AS DECIMAL(38,0))
        |      * CAST(round(value * 1000000, 0) AS DECIMAL(38,0))) AS ss
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN NOT treat THEN n END) AS BIGINT) AS n_c,
        |    SUM(CASE WHEN NOT treat THEN s END) AS s_c,
        |    SUM(CASE WHEN NOT treat THEN ss END) AS ss_c,
        |    CAST(SUM(CASE WHEN treat THEN n END) AS BIGINT) AS n_t,
        |    SUM(CASE WHEN treat THEN s END) AS s_t,
        |    SUM(CASE WHEN treat THEN ss END) AS ss_t
        |  FROM st)
        |SELECT n_c, n_t,
        |  round(CAST(s_c AS DOUBLE) / n_c / 1e6, 6) AS mean_c,
        |  round(CAST(s_t AS DOUBLE) / n_t / 1e6, 6) AS mean_t,
        |  round((CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)
        |    / nullif(sqrt(
        |      ((CAST(ss_c AS DOUBLE) - CAST(s_c AS DOUBLE)
        |          * CAST(s_c AS DOUBLE) / n_c) / (n_c - 1)) / n_c
        |      + ((CAST(ss_t AS DOUBLE) - CAST(s_t AS DOUBLE)
        |          * CAST(s_t AS DOUBLE) / n_t) / (n_t - 1)) / n_t), 0),
        |    6) AS z,
        |  abs((CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)
        |    / nullif(sqrt(
        |      ((CAST(ss_c AS DOUBLE) - CAST(s_c AS DOUBLE)
        |          * CAST(s_c AS DOUBLE) / n_c) / (n_c - 1)) / n_c
        |      + ((CAST(ss_t AS DOUBLE) - CAST(s_t AS DOUBLE)
        |          * CAST(s_t AS DOUBLE) / n_t) / (n_t - 1)) / n_t), 0))
        |    > 1.96 AS significant
        |FROM w""".stripMargin),
      "Welch two-sample A/B z-test on mean event value (exact moments)"),

    // Day-of-week seasonality profile: per-weekday event volume and its
    // seasonal index (weekday mean / overall daily mean) — the
    // normalization every ops dashboard and forecast baseline applies
    // before comparing days. Exact integer counts; the two means stay
    // integer-derived (day counts × 1 division each); the index is one
    // IEEE division rounded at the edge. One date-keyed partial agg to
    // the day spine, then a 7-group rollup — O(days) intermediate.
    "q_seasonality" -> GQuery(
      (s, d) => {
        import s.implicits._
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        val overall = daily.agg(
          (sum($"n").cast("double") / count(lit(1))).as("daily_mean"))
        daily
          .groupBy(dayofweek($"day").as("dow"))
          .agg(count(lit(1)).as("n_days"), sum($"n").as("n_events"),
            (sum($"n").cast("double") / count(lit(1))).as("dow_mean"))
          .crossJoin(broadcast(overall))
          .select($"dow", $"n_days", $"n_events",
            round($"dow_mean", 6).as("dow_mean"),
            round($"dow_mean" / $"daily_mean", 6).as("seasonal_index"))
          .orderBy($"dow")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |o AS (SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS daily_mean
        |      FROM daily)
        |SELECT dayofweek(day) + 1 AS dow,
        |  CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  round(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6) AS dow_mean,
        |  round((CAST(SUM(n) AS DOUBLE) / COUNT(*)) / any_value(daily_mean),
        |    6) AS seasonal_index
        |FROM daily CROSS JOIN o
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      "day-of-week seasonality profile with seasonal index"),

    // One-way ANOVA F-statistic for value by event type — the classical
    // "do the groups differ in mean" test beside q_chi2 (independence)
    // and q_ks_test (distribution). Sufficient statistics are EXACT:
    // per-group n, Σv (DECIMAL 18,6) and Σv² (the 18,6×18,6 product is
    // an exact 37,12 decimal), so SSB/SSW derive from integers and
    // exactly-cast doubles. The one order-sensitive float reduction —
    // summing the per-group S_g²/n_g terms — runs over micro-FROZEN
    // integers (each term is one IEEE square-and-divide on an
    // exact-decimal-sourced double, frozen to a BIGINT before the
    // 5-row sum), the house discipline for cross-engine float sums.
    // Scale: one scan, one 5-group partial agg, 1-row reduce.
    "q_anova" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "events")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("ng"),
            sum($"value".cast(Fns.D18_6)).as("sg"),
            sum($"value".cast(Fns.D18_6) * $"value".cast(Fns.D18_6))
              .as("qg"))
          .select($"ng", $"qg",
            expr("CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / " +
              "CAST(ng AS DOUBLE) * 1000000.0, 0) AS BIGINT)").as("tg"),
            $"sg")
          .agg(count(lit(1)).as("k"), sum($"ng").as("n"),
            sum($"sg").as("s"), sum($"qg").as("q"), sum($"tg").as("tb"))
          .select($"k", $"n",
            // ssb = Σ S_g²/n_g − S²/n ; ssw = Q − Σ S_g²/n_g (micros)
            ($"tb" - expr("CAST(round(CAST(s AS DOUBLE) * " +
              "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0, 0) " +
              "AS BIGINT)")).as("ssb_micro"),
            (expr("CAST(round(CAST(q AS DOUBLE) * 1000000.0, 0) " +
              "AS BIGINT)") - $"tb").as("ssw_micro"))
          .select($"k", $"n", $"ssb_micro", $"ssw_micro",
            expr("CAST(round((CAST(ssb_micro AS DOUBLE) / " +
              "CAST(k - 1 AS DOUBLE)) / (CAST(ssw_micro AS DOUBLE) / " +
              "CAST(n - k AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("f_micro"))
      },
      Some("""WITH g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sg,
        |    SUM(CAST(value AS DECIMAL(18,6)) *
        |      CAST(value AS DECIMAL(18,6))) AS qg
        |  FROM events GROUP BY event_type),
        |t AS (
        |  SELECT ng, qg, sg,
        |    CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) /
        |      CAST(ng AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS tg
        |  FROM g),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT)
        |      AS n,
        |    SUM(sg) AS s, SUM(qg) AS q, CAST(SUM(tg) AS BIGINT) AS tb
        |  FROM t),
        |b AS (
        |  SELECT k, n,
        |    tb - CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |      CAST(n AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ssb_micro,
        |    CAST(round(CAST(q AS DOUBLE) * 1000000.0, 0) AS BIGINT) - tb
        |      AS ssw_micro
        |  FROM a)
        |SELECT k, n, ssb_micro, ssw_micro,
        |  CAST(round((CAST(ssb_micro AS DOUBLE) / CAST(k - 1 AS DOUBLE))
        |    / (CAST(ssw_micro AS DOUBLE) / CAST(n - k AS DOUBLE))
        |    * 1000000.0, 0) AS BIGINT) AS f_micro
        |FROM b""".stripMargin),
      "one-way ANOVA F over exact group sufficient statistics " +
        "(micro-frozen between-group terms)"),

    // Mann-Whitney U (rank-sum) for l_quantity between return flags A
    // and R — the NONPARAMETRIC two-sample test beside q_welch_t's
    // parametric one. The scale trick: ranks are NEVER assigned per row
    // — quantities live on a fixed 0.01 grid (<= 4901 distinct values
    // at ANY corpus size), so the plan aggregates per-value group
    // counts (the one corpus-scale shuffle, key-bounded) and computes
    // average ranks on that bounded table with one running-sum window
    // (allowlisted in PlanAudit with this bound). Tie-aware throughout:
    // DOUBLED rank sums keep the .5 average ranks integral, so U and
    // the tie-corrected variance derive from exact integers formed AS
    // decimals — every product whose magnitude grows with corpus size
    // (na·rank ~ 2N², t³) casts its operands to DECIMAL before the
    // multiply (ADVICE r11; a BIGINT product throws under ANSI past
    // ~2e9 rows while DuckDB raises differently) — and the z-score is
    // one IEEE expression — sqrt is correctly rounded by IEEE 754,
    // unlike ln/exp, so it is cross-engine safe.
    "q_mannwhitney" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val d12 = org.apache.spark.sql.types.DecimalType(12, 0)
        val byQty = Window.orderBy($"qty")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, d, "lineitem")
          .filter($"l_returnflag".isin("A", "R"))
          .groupBy($"l_quantity".as("qty"))
          .agg(
            sum(when($"l_returnflag" === "A", 1L).otherwise(0L)).as("na"),
            sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("nb"))
          .withColumn("t", $"na" + $"nb")
          .withColumn("cum", sum($"t").over(byQty))
          // doubled average rank of value v: 2*(cum-t) + t + 1 (integer);
          // products formed in DECIMAL so no BIGINT can overflow
          .select($"na", $"nb", $"t",
            ($"na".cast(d19) *
              (lit(2L) * ($"cum" - $"t") + $"t" + lit(1L)).cast(d19))
              .as("r1_2term"),
            ($"t".cast(d12) * $"t".cast(d12) * $"t".cast(d12) -
              $"t".cast(d12)).as("tie3"))
          .agg(sum($"na").as("n1"), sum($"nb").as("n2"),
            sum($"r1_2term").as("r1_2"), sum($"tie3").as("ties"))
          // doubled U = 2*R1 - n1*(n1+1); exact decimal arithmetic
          .select($"n1", $"n2",
            ($"r1_2" - $"n1".cast(d19) * ($"n1" + lit(1L)).cast(d19))
              .cast(org.apache.spark.sql.types.DecimalType(38, 0))
              .as("u2"),
            $"ties")
          // output contract: NO decimal-typed columns (driver hashes
          // decimal outputs differently per engine — VERDICT r11). The
          // doubled U <= 2*n1*n2 fits BIGINT until n1*n2 ~ 4.6e18,
          // i.e. ~2.1e9 rows PER flag — decimal internals unchanged.
          .select($"n1", $"n2", $"u2".cast("bigint").as("u2"),
            expr("CAST(round((CAST(u2 - CAST(n1 AS DECIMAL(19,0)) * " +
              "CAST(n2 AS DECIMAL(19,0)) AS DOUBLE) / 2.0) / " +
              "sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 * " +
              "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties AS DOUBLE) / " +
              "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))) " +
              "* 1000000.0, 0) AS BIGINT)").as("z_micro"))
      },
      Some("""WITH vg AS (
        |  SELECT l_quantity AS qty,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |  GROUP BY l_quantity),
        |w AS (
        |  SELECT na, nb, na + nb AS t,
        |    SUM(na + nb) OVER (ORDER BY qty
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM vg),
        |a AS (
        |  SELECT CAST(SUM(na) AS BIGINT) AS n1,
        |    CAST(SUM(nb) AS BIGINT) AS n2,
        |    SUM(CAST(na AS DECIMAL(19,0)) *
        |      CAST(2 * (cum - t) + t + 1 AS DECIMAL(19,0))) AS r1_2,
        |    SUM(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0)) *
        |      CAST(t AS DECIMAL(12,0)) - CAST(t AS DECIMAL(12,0)))
        |      AS ties
        |  FROM w),
        |b AS (
        |  SELECT n1, n2,
        |    CAST(r1_2 - CAST(n1 AS DECIMAL(19,0)) *
        |      CAST(n1 + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS u2,
        |    ties FROM a)
        |SELECT n1, n2, CAST(u2 AS BIGINT) AS u2,
        |  CAST(round((CAST(u2 - CAST(n1 AS DECIMAL(19,0)) *
        |    CAST(n2 AS DECIMAL(19,0)) AS DOUBLE) / 2.0) /
        |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |    (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties AS DOUBLE) /
        |    (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))
        |    * 1000000.0, 0) AS BIGINT) AS z_micro
        |FROM b""".stripMargin),
      "Mann-Whitney U with tie correction over the bounded value-grain " +
        "rank table (never a per-row global sort)"),

    // Welch's t — the unequal-variance two-sample mean test (the
    // 2-group member beside q_anova's k-group F): exact decimal group
    // sums of v and v² make the means and variances doubles derived
    // from exact values through one identical expression tree; t and
    // the Welch-Satterthwaite df are emitted in micro-units. One scan,
    // two conditional partial sums, 1-row reduce.
    "q_welch_t" -> GQuery(
      (s, d) => {
        import s.implicits._
        def cnt(tp: String) =
          sum(when($"event_type" === tp, 1L).otherwise(0L))
        def sv(tp: String) =
          sum(when($"event_type" === tp, $"value".cast(Fns.D18_6)))
        def sq(tp: String) =
          sum(when($"event_type" === tp,
            $"value".cast(Fns.D18_6) * $"value".cast(Fns.D18_6)))
        Tables.load(s, d, "events")
          .filter($"event_type".isin("click", "error"))
          .agg(cnt("click").as("n1"), cnt("error").as("n2"),
            sv("click").as("s1"), sv("error").as("s2"),
            sq("click").as("q1"), sq("error").as("q2"))
          // named standard-error components: one identical expression
          // tree per engine, squares written as x*x (pow is libm and
          // NOT correctly rounded; * and sqrt are)
          .select($"n1", $"n2",
            expr("(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - " +
              "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))").as("md"),
            expr("((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
              "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / " +
              "CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)").as("se1"),
            expr("((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * " +
              "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / " +
              "CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE)").as("se2"))
          .select($"n1", $"n2",
            expr("CAST(round(md / sqrt(se1 + se2) * 1000000.0, 0) " +
              "AS BIGINT)").as("t_micro"),
            expr("CAST(round((se1 + se2) * (se1 + se2) / " +
              "(se1 * se1 / CAST(n1 - 1 AS DOUBLE) + " +
              "se2 * se2 / CAST(n2 - 1 AS DOUBLE)) * 1000000.0, 0) " +
              "AS BIGINT)").as("df_micro"))
      },
      Some("""WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS s1,
        |    SUM(CASE WHEN event_type = 'error'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS s2,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) END) AS q1,
        |    SUM(CASE WHEN event_type = 'error'
        |      THEN CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) END) AS q2
        |  FROM events WHERE event_type IN ('click', 'error')),
        |b AS (
        |  SELECT n1, n2,
        |    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS md,
        |    ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |      CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE) AS se1,
        |    ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) *
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
        |      CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE) AS se2
        |  FROM a)
        |SELECT n1, n2,
        |  CAST(round(md / sqrt(se1 + se2) * 1000000.0, 0) AS BIGINT)
        |    AS t_micro,
        |  CAST(round((se1 + se2) * (se1 + se2) /
        |    (se1 * se1 / CAST(n1 - 1 AS DOUBLE) +
        |     se2 * se2 / CAST(n2 - 1 AS DOUBLE)) * 1000000.0, 0)
        |    AS BIGINT) AS df_micro
        |FROM b""".stripMargin),
      "Welch's unequal-variance t and Satterthwaite df from exact " +
        "decimal group moments"),

    // Spearman rank correlation between quantity and discount — the
    // rank-based sibling of q_covar_corr's Pearson, built on the
    // q_mannwhitney value-grain machinery: BOTH variables live on tiny
    // fixed grids (50 quantities, 11 discounts), so tie-aware DOUBLED
    // average ranks come from two bounded rank maps (one running-sum
    // window each, allowlisted) that BROADCAST back onto the fact rows
    // — ranks are never assigned by sorting the corpus. The Pearson
    // moments over doubled ranks accumulate as exact DECIMAL(38,0)
    // with the row products formed AS decimals — (19,0)x(19,0)
    // operand casts, so no BIGINT intermediate can overflow at any
    // corpus size — and the classic cancellation trap —
    // n·Σxy − Σx·Σy with both terms ~1e23 — is computed IN decimal,
    // exactly, before the one cast-to-double and sqrt. Expected ~0
    // here (the generator draws the columns independently); the value
    // is the machinery, proven by the direct-ranking golden spec.
    "q_spearman" -> GQuery(
      (s, d) => {
        import s.implicits._
        val li = Tables.load(s, d, "lineitem")
          .select($"l_quantity".as("x"), $"l_discount".as("y"))
        def rankMap(c: String) = {
          val w = Window.orderBy(col(c))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          li.groupBy(col(c)).agg(count(lit(1)).as("t"))
            .withColumn("cum", sum($"t").over(w))
            .select(col(c), (lit(2L) * ($"cum" - $"t") + $"t" + lit(1L))
              .as(s"dr$c"))
            // value-grain (<= 4901 / <= 11 rows at any corpus size)
        }
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        // operands cast to decimal BEFORE the product (ADVICE r11): a
        // BIGINT drx*drx wraps/throws past ~1.5e9 rows; (19,0)x(19,0)
        // products stay exact in both engines' (38,0) result type
        li.join(broadcast(rankMap("x")), "x")
          .join(broadcast(rankMap("y")), "y")
          .agg(count(lit(1)).as("n"),
            sum($"drx".cast(d38)).as("sx"),
            sum($"dry".cast(d38)).as("sy"),
            sum($"drx".cast(d19) * $"drx".cast(d19)).as("sxx"),
            sum($"dry".cast(d19) * $"dry".cast(d19)).as("syy"),
            sum($"drx".cast(d19) * $"dry".cast(d19)).as("sxy"))
          .select($"n",
            expr("CAST(round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - " +
              "sx * sy AS DOUBLE) / sqrt(CAST(CAST(n AS DECIMAL(38,0)) " +
              "* sxx - sx * sx AS DOUBLE)) / " +
              "sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy " +
              "AS DOUBLE)) * 1000000.0, 0) AS BIGINT)").as("rho_micro"))
      },
      Some("""WITH li AS (
        |  SELECT l_quantity AS x, l_discount AS y FROM lineitem),
        |rx AS (
        |  SELECT x, 2 * (cum - t) + t + 1 AS drx FROM (
        |    SELECT x, t, SUM(t) OVER (ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS t
        |      FROM li GROUP BY x))),
        |ry AS (
        |  SELECT y, 2 * (cum - t) + t + 1 AS dry FROM (
        |    SELECT y, t, SUM(t) OVER (ORDER BY y
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS t
        |      FROM li GROUP BY y))),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(drx AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(dry AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(drx AS DECIMAL(19,0)) * CAST(drx AS DECIMAL(19,0)))
        |      AS sxx,
        |    SUM(CAST(dry AS DECIMAL(19,0)) * CAST(dry AS DECIMAL(19,0)))
        |      AS syy,
        |    SUM(CAST(drx AS DECIMAL(19,0)) * CAST(dry AS DECIMAL(19,0)))
        |      AS sxy
        |  FROM li JOIN rx USING (x) JOIN ry USING (y))
        |SELECT n,
        |  CAST(round(CAST(CAST(n AS DECIMAL(38,0)) * sxy -
        |    sx * sy AS DOUBLE) / sqrt(CAST(CAST(n AS DECIMAL(38,0))
        |    * sxx - sx * sx AS DOUBLE)) /
        |    sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
        |    AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS rho_micro
        |FROM m""".stripMargin),
      "Spearman rank correlation via broadcast value-grain rank maps " +
        "and exact-decimal moments (cancellation computed in decimal)"),

    // Kendall's tau-b between quantity and discount — the third rank
    // correlation beside q_spearman/q_covar_corr, and the one whose
    // naive form is O(N²) row pairs. The scale trick: both variables
    // live on tiny fixed grids, so ALL pair counting happens on the
    // ≤ 550-cell contingency GRID (memoized one corpus shuffle) — a
    // grid-cell pair (a, b) with a.x < b.x contributes n_a·n_b
    // concordant or discordant pairs wholesale, and the tie terms are
    // marginal sums. The cell-pair join is grid² ≈ 150k combinations
    // at ANY corpus size (broadcast nested loop over the checkpointed
    // 550-row table, never the fact). DOUBLED tie-form denominators
    // (n0d = n(n-1) etc.) keep everything integer; products form in
    // DECIMAL so nothing overflows; tau = 2(C-D)/sqrt((n0d-n1d)(n0d-
    // n2d)) is one IEEE expression (sqrt is correctly rounded).
    "q_kendall_tau" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val g = kendallGrid(s, d)
        val a = g.select($"x".as("xa"), $"y".as("ya"), $"n".as("na"))
        val b = g.select($"x".as("xb"), $"y".as("yb"), $"n".as("nb"))
        val zero = lit(0L).cast(d19)
        val pairs = a.join(b, $"xa" < $"xb")
          .agg(
            coalesce(sum(when($"ya" < $"yb",
              $"na".cast(d19) * $"nb".cast(d19)).otherwise(zero)), zero)
              .cast(d38).as("conc"),
            coalesce(sum(when($"ya" > $"yb",
              $"na".cast(d19) * $"nb".cast(d19)).otherwise(zero)), zero)
              .cast(d38).as("disc"))
        // n / n1d / n2d folded into ONE reduction (was three separate
        // 1-row barriers over the same checkpointed grid — r13 audit:
        // singlepart x4): with t_x = marginal count via a partitioned
        // window, SUM_x t(t-1) = SUM_cells n*(t_x - 1) — identical exact
        // integers, one pass
        val gw = g
          .withColumn("mtx", sum($"n").over(Window.partitionBy($"x")))
          .withColumn("mty", sum($"n").over(Window.partitionBy($"y")))
        val moments = gw.agg(sum($"n").as("n"),
          sum($"n".cast(d19) * ($"mtx" - lit(1L)).cast(d19)).as("n1d"),
          sum($"n".cast(d19) * ($"mty" - lit(1L)).cast(d19)).as("n2d"))
        pairs.crossJoin(broadcast(moments))
          // output contract: NO decimal-typed columns (driver hashes
          // decimal outputs differently per engine — VERDICT r11). Pair
          // counts <= n(n-1)/2 fit BIGINT until n ~ 4.3e9 rows — the
          // decimal internals (where products form) are unchanged.
          .select($"n", $"conc".cast("bigint").as("conc"),
            $"disc".cast("bigint").as("disc"),
            expr("CAST(round(2.0 * CAST(conc - disc AS DOUBLE) / " +
              "sqrt(CAST(CAST(n AS DECIMAL(19,0)) * " +
              "CAST(n - 1 AS DECIMAL(19,0)) - n1d AS DOUBLE) * " +
              "CAST(CAST(n AS DECIMAL(19,0)) * " +
              "CAST(n - 1 AS DECIMAL(19,0)) - n2d AS DOUBLE)) " +
              "* 1000000.0, 0) AS BIGINT)").as("tau_micro"))
      },
      Some("""WITH g AS (
        |  SELECT l_quantity AS x, l_discount AS y,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (
        |  SELECT
        |    CAST(COALESCE(SUM(CASE WHEN a.y < b.y
        |      THEN CAST(a.n AS DECIMAL(19,0)) * CAST(b.n AS DECIMAL(19,0))
        |      ELSE CAST(0 AS DECIMAL(19,0)) END), 0) AS DECIMAL(38,0))
        |      AS conc,
        |    CAST(COALESCE(SUM(CASE WHEN a.y > b.y
        |      THEN CAST(a.n AS DECIMAL(19,0)) * CAST(b.n AS DECIMAL(19,0))
        |      ELSE CAST(0 AS DECIMAL(19,0)) END), 0) AS DECIMAL(38,0))
        |      AS disc
        |  FROM g a JOIN g b ON a.x < b.x),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM g),
        |mx AS (
        |  SELECT SUM(CAST(t AS DECIMAL(19,0)) *
        |    CAST(t - 1 AS DECIMAL(19,0))) AS n1d
        |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g GROUP BY x)),
        |my AS (
        |  SELECT SUM(CAST(t AS DECIMAL(19,0)) *
        |    CAST(t - 1 AS DECIMAL(19,0))) AS n2d
        |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g GROUP BY y))
        |SELECT n, CAST(conc AS BIGINT) AS conc,
        |  CAST(disc AS BIGINT) AS disc,
        |  CAST(round(2.0 * CAST(conc - disc AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS DECIMAL(19,0)) *
        |    CAST(n - 1 AS DECIMAL(19,0)) - n1d AS DOUBLE) *
        |    CAST(CAST(n AS DECIMAL(19,0)) *
        |    CAST(n - 1 AS DECIMAL(19,0)) - n2d AS DOUBLE))
        |    * 1000000.0, 0) AS BIGINT) AS tau_micro
        |FROM p, tot, mx, my""".stripMargin),
      "Kendall's tau-b via wholesale pair counting on the bounded " +
        "value-grain contingency grid (never row pairs)"),

    // Kruskal-Wallis H across the three return-flag groups — the
    // k-group generalization of q_mannwhitney (one-way ANOVA on ranks,
    // the nonparametric sibling of q_anova), on the same value-grain
    // machinery: per-quantity conditional group counts, one bounded
    // running-sum window for DOUBLED average ranks (allowlisted,
    // ≤ 4901 rows at any corpus size), doubled rank sums per group as
    // exact decimals, then H = 3/(N(N+1))·Σ R2_g²/n_g − 3(N+1) with
    // the tie correction 1 − Σ(t³−t)/(N³−N) — one identical double
    // expression tree over exact integers in both engines.
    "q_kruskal_wallis" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val d12 = org.apache.spark.sql.types.DecimalType(12, 0)
        val byQty = Window.orderBy($"qty")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def cnt(f: String) =
          sum(when($"l_returnflag" === f, 1L).otherwise(0L))
        Tables.load(s, d, "lineitem")
          .groupBy($"l_quantity".as("qty"))
          .agg(cnt("A").as("na"), cnt("N").as("nn"), cnt("R").as("nr"))
          .withColumn("t", $"na" + $"nn" + $"nr")
          .withColumn("cum", sum($"t").over(byQty))
          .withColumn("dr",
            (lit(2L) * ($"cum" - $"t") + $"t" + lit(1L)).cast(d19))
          .agg(sum($"t").as("n"),
            sum($"na").as("n1"), sum($"nn").as("n2"), sum($"nr").as("n3"),
            sum($"na".cast(d19) * $"dr").as("r1"),
            sum($"nn".cast(d19) * $"dr").as("r2"),
            sum($"nr".cast(d19) * $"dr").as("r3"),
            sum($"t".cast(d12) * $"t".cast(d12) * $"t".cast(d12) -
              $"t".cast(d12)).as("ties"))
          .select($"n", $"n1", $"n2", $"n3",
            expr("CAST(round((3.0 / (CAST(n AS DOUBLE) * " +
              "CAST(n + 1 AS DOUBLE)) * " +
              "(CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE) / " +
              "CAST(n1 AS DOUBLE) + " +
              "CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / " +
              "CAST(n2 AS DOUBLE) + " +
              "CAST(r3 AS DOUBLE) * CAST(r3 AS DOUBLE) / " +
              "CAST(n3 AS DOUBLE)) - 3.0 * CAST(n + 1 AS DOUBLE)) / " +
              "(1.0 - CAST(ties AS DOUBLE) / " +
              "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * " +
              "CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) " +
              "* 1000000.0, 0) AS BIGINT)").as("h_micro"))
      },
      Some("""WITH vg AS (
        |  SELECT l_quantity AS qty,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nr
        |  FROM lineitem GROUP BY l_quantity),
        |w AS (
        |  SELECT na, nn, nr, na + nn + nr AS t,
        |    SUM(na + nn + nr) OVER (ORDER BY qty
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM vg),
        |w2 AS (
        |  SELECT na, nn, nr, t,
        |    CAST(2 * (cum - t) + t + 1 AS DECIMAL(19,0)) AS dr
        |  FROM w),
        |a AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(na) AS BIGINT) AS n1,
        |    CAST(SUM(nn) AS BIGINT) AS n2,
        |    CAST(SUM(nr) AS BIGINT) AS n3,
        |    SUM(CAST(na AS DECIMAL(19,0)) * dr) AS r1,
        |    SUM(CAST(nn AS DECIMAL(19,0)) * dr) AS r2,
        |    SUM(CAST(nr AS DECIMAL(19,0)) * dr) AS r3,
        |    SUM(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0)) *
        |      CAST(t AS DECIMAL(12,0)) - CAST(t AS DECIMAL(12,0)))
        |      AS ties
        |  FROM w2)
        |SELECT n, n1, n2, n3,
        |  CAST(round((3.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) *
        |    (CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE) /
        |    CAST(n1 AS DOUBLE) +
        |    CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) /
        |    CAST(n2 AS DOUBLE) +
        |    CAST(r3 AS DOUBLE) * CAST(r3 AS DOUBLE) /
        |    CAST(n3 AS DOUBLE)) - 3.0 * CAST(n + 1 AS DOUBLE)) /
        |    (1.0 - CAST(ties AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
        |    CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
        |    * 1000000.0, 0) AS BIGINT) AS h_micro
        |FROM a""".stripMargin),
      "Kruskal-Wallis H with tie correction over the bounded " +
        "value-grain rank table (k-group rank test, never a corpus sort)"),

    // Kaplan-Meier survival for time-to-first-qualifying-purchase —
    // the product-limit estimator a growth team runs where
    // q_retention's fixed cohorts stop: per user, the clock starts at
    // the first observed event and "death" is the first purchase with
    // value > 100 (the synthetic value distribution is right-skewed,
    // median ~35 — the cut keeps ~10% of purchases qualifying); users
    // who never make one are CENSORED at their last
    // observed day (the right-censoring KM exists for — a fixed-cohort
    // rate would silently treat them as failures). The qualifying rate
    // makes BOTH classes bind at every SF. The curve
    // lives on the bounded duration-day table (≤ observation window
    // days at any corpus size): deaths and at-risk counts from one
    // user-grain agg + one reverse running sum (allowlisted), and each
    // day's survival probability is a FIXED LEFT-TO-RIGHT product fold
    // over the day-ordered factor array (the q_bigram_lm ln-sum
    // precedent: identical fold order ⇒ identical doubles in both
    // engines; ≤ 31 factors, micro-rounded at the end).
    "q_kaplan_meier" -> GQuery(
      (s, d) => {
        import s.implicits._
        val dayIdx = datediff(to_date($"ts"), lit("2024-01-01"))
        val byDayDesc = Window.orderBy($"day".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val dt = Tables.load(s, d, "events")
          .select($"user_id", dayIdx.as("day"),
            ($"event_type" === "purchase" && $"value" > 100.0).as("q"))
          .groupBy($"user_id")
          .agg(min($"day").as("fd"), max($"day").as("ld"),
            min(when($"q", $"day")).as("dd"))
          .select((coalesce($"dd", $"ld") - $"fd").as("dur"),
            $"dd".isNotNull.cast("long").as("event"))
          .groupBy($"dur".as("day"))
          .agg(sum($"event").as("deaths"), count(lit(1)).as("cnt"))
          .withColumn("at_risk", sum($"cnt").over(byDayDesc))
          .select($"day", $"at_risk", $"deaths",
            (lit(1.0) - $"deaths".cast("double") /
              $"at_risk".cast("double")).as("f"))
        val arr = dt.agg(
          sort_array(collect_list(struct($"day", $"f"))).as("arr"))
        dt.crossJoin(broadcast(arr))
          .select($"day", $"at_risk", $"deaths",
            expr("CAST(round(aggregate(filter(arr, e -> e.day <= day), " +
              "CAST(1.0 AS DOUBLE), (acc, e) -> acc * e.f) " +
              "* 1000000.0, 0) AS BIGINT)").as("surv_micro"))
          .orderBy($"day")
      },
      Some("""WITH ud AS (
        |  SELECT user_id,
        |    min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
        |      AS fd,
        |    max(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
        |      AS ld,
        |    min(CASE WHEN event_type = 'purchase' AND value > 100.0
        |      THEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      END) AS dd
        |  FROM events GROUP BY user_id),
        |dt AS (
        |  SELECT COALESCE(dd, ld) - fd AS day,
        |    CAST(SUM(CASE WHEN dd IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS deaths,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ud GROUP BY 1),
        |dt2 AS (
        |  SELECT day, deaths,
        |    CAST(SUM(cnt) OVER (ORDER BY day DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk
        |  FROM dt),
        |dt3 AS (
        |  SELECT day, at_risk, deaths,
        |    1.0 - CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE) AS f
        |  FROM dt2),
        |ar AS (
        |  SELECT list(struct_pack(day := day, f := f) ORDER BY day)
        |    AS arr FROM dt3)
        |SELECT day, at_risk, deaths,
        |  CAST(round(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |    list_transform(list_filter(arr, e -> e.day <= day),
        |      e -> e.f)),
        |    (acc, x) -> acc * x) * 1000000.0, 0) AS BIGINT)
        |    AS surv_micro
        |FROM dt3, ar ORDER BY day""".stripMargin),
      "Kaplan-Meier product-limit survival with 7-day censoring over " +
        "the bounded duration-day table (fixed-order product fold)"),

    // Friedman test — the BLOCKED nonparametric k-treatment test that
    // completes the rank-test family (q_mannwhitney two-sample,
    // q_kruskal_wallis k-group, q_spearman/q_kendall_tau correlation):
    // blocks are users, treatments the three interaction types, the
    // measurement each block×treatment's EXACT DECIMAL value sum (sums,
    // not means — decimal sums compare identically in both engines,
    // while mean ratios would need cross-multiplied comparisons). Only
    // complete blocks (all 3 treatments) rank; ranks 1..3 come from a
    // BLOCK-partitioned window ordered by (sum, treatment) — the
    // treatment tie-break makes exact-decimal ties deterministic, and
    // continuous value sums make real ties measure-zero, so the
    // strict-rank Friedman form applies. chi2_F = sum(Rj^2)/n - 12n for
    // k=3, exact integers until one final double expression. Scale:
    // one (user, type) partial agg, block-bounded windows, 3-row reduce.
    "q_friedman" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val byUser = Window.partitionBy($"user_id")
        val su = Tables.load(s, d, "events")
          .filter($"event_type".isin("click", "view", "error"))
          .groupBy($"user_id", $"event_type")
          .agg(sum($"value".cast(D18_6)).as("sv"))
          .withColumn("kk", count(lit(1)).over(byUser))
          .filter($"kk" === 3)
          .withColumn("rnk", row_number().over(
            byUser.orderBy($"sv", $"event_type")).cast("long"))
        def rsum(tp: String) =
          sum(when($"event_type" === tp, $"rnk").otherwise(0L))
        su.agg((count(lit(1)) / 3).cast("long").as("n_blocks"),
            rsum("click").as("r1"), rsum("view").as("r2"),
            rsum("error").as("r3"))
          .select($"n_blocks", $"r1", $"r2", $"r3",
            expr("CAST(round((CAST(CAST(r1 AS DECIMAL(19,0)) * " +
              "CAST(r1 AS DECIMAL(19,0)) + CAST(r2 AS DECIMAL(19,0)) * " +
              "CAST(r2 AS DECIMAL(19,0)) + CAST(r3 AS DECIMAL(19,0)) * " +
              "CAST(r3 AS DECIMAL(19,0)) AS DOUBLE) / " +
              "CAST(n_blocks AS DOUBLE) - 12.0 * " +
              "CAST(n_blocks AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("chi2_micro"))
      },
      Some("""WITH su AS (
        |  SELECT user_id, event_type,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sv
        |  FROM events WHERE event_type IN ('click', 'view', 'error')
        |  GROUP BY 1, 2),
        |cb AS (
        |  SELECT user_id, event_type, sv,
        |    COUNT(*) OVER (PARTITION BY user_id) AS kk
        |  FROM su),
        |r AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY sv, event_type) AS BIGINT) AS rnk
        |  FROM cb WHERE kk = 3),
        |a AS (
        |  SELECT CAST(COUNT(*) / 3 AS BIGINT) AS n_blocks,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN rnk ELSE 0 END)
        |      AS BIGINT) AS r1,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN rnk ELSE 0 END)
        |      AS BIGINT) AS r2,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN rnk ELSE 0 END)
        |      AS BIGINT) AS r3
        |  FROM r)
        |SELECT n_blocks, r1, r2, r3,
        |  CAST(round((CAST(CAST(r1 AS DECIMAL(19,0)) *
        |    CAST(r1 AS DECIMAL(19,0)) + CAST(r2 AS DECIMAL(19,0)) *
        |    CAST(r2 AS DECIMAL(19,0)) + CAST(r3 AS DECIMAL(19,0)) *
        |    CAST(r3 AS DECIMAL(19,0)) AS DOUBLE) /
        |    CAST(n_blocks AS DOUBLE) - 12.0 *
        |    CAST(n_blocks AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS chi2_micro
        |FROM a""".stripMargin),
      "Friedman blocked rank test over complete user blocks (exact " +
        "decimal measurements, block-bounded rank windows)"),

    // t-closeness — the third privacy metric beside q_k_anonymity's
    // k/l pair: a small equivalence class can be l-diverse yet still
    // leak if its sensitive-value DISTRIBUTION diverges from the
    // population's. Per QI class, total-variation distance between the
    // class's account-band distribution and the global one, computed
    // EXACTLY: TVD_c = sum_b |n_cb*N - n_b*n_c| / (2*n_c*N), with the
    // numerator summed as exact decimals (operand casts before the
    // products) and ONE double division at the end. Reports the 10
    // worst classes. Scale: one (class, band) partial-agg shuffle
    // (bounded by QI x band cardinality); margins ride as broadcasts.
    "q_t_closeness" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val cb = Tables.load(s, d, "customer")
          .groupBy($"c_nationkey", $"c_mktsegment",
            floor($"c_acctbal" / 1000).cast("long").as("band"))
          .agg(count(lit(1)).as("n_cb"))
        val cls = cb.groupBy($"c_nationkey", $"c_mktsegment")
          .agg(sum($"n_cb").as("n_c"))
        val bands = cb.groupBy($"band").agg(sum($"n_cb").as("n_b"))
        val tot = cb.agg(sum($"n_cb").as("nn"))
        // every (class, band) combination, including class-absent bands
        // (they contribute |0 - n_b*n_c|)
        cls.crossJoin(broadcast(bands))
          .join(cb, Seq("c_nationkey", "c_mktsegment", "band"), "left")
          .withColumn("n_cb", coalesce($"n_cb", lit(0L)))
          .crossJoin(broadcast(tot))
          .groupBy($"c_nationkey", $"c_mktsegment", $"n_c", $"nn")
          .agg(sum(abs($"n_cb".cast(d19) * $"nn".cast(d19) -
            $"n_b".cast(d19) * $"n_c".cast(d19))).as("num"))
          .select($"c_nationkey", $"c_mktsegment", $"n_c".as("n"),
            expr("CAST(round(CAST(num AS DOUBLE) / (2.0 * " +
              "CAST(n_c AS DOUBLE) * CAST(nn AS DOUBLE)) * 1000000.0, " +
              "0) AS BIGINT)").as("t_micro"))
          .orderBy($"t_micro".desc, $"c_nationkey", $"c_mktsegment")
          .limit(10)
      },
      Some("""WITH cb AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
        |    CAST(COUNT(*) AS BIGINT) AS n_cb
        |  FROM customer GROUP BY 1, 2, 3),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(SUM(n_cb) AS BIGINT)
        |    AS n_c
        |  FROM cb GROUP BY 1, 2),
        |bands AS (
        |  SELECT band, CAST(SUM(n_cb) AS BIGINT) AS n_b
        |  FROM cb GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_cb) AS BIGINT) AS nn FROM cb),
        |x AS (
        |  SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_c, nn,
        |    COALESCE(cb.n_cb, 0) AS n_cb, bands.n_b
        |  FROM cls CROSS JOIN bands CROSS JOIN tot
        |  LEFT JOIN cb ON cb.c_nationkey = cls.c_nationkey
        |    AND cb.c_mktsegment = cls.c_mktsegment
        |    AND cb.band = bands.band)
        |SELECT c_nationkey, c_mktsegment, any_value(n_c) AS n,
        |  CAST(round(CAST(SUM(ABS(CAST(n_cb AS DECIMAL(19,0)) *
        |    CAST(nn AS DECIMAL(19,0)) - CAST(n_b AS DECIMAL(19,0)) *
        |    CAST(n_c AS DECIMAL(19,0)))) AS DOUBLE) / (2.0 *
        |    CAST(any_value(n_c) AS DOUBLE) * CAST(any_value(nn) AS DOUBLE))
        |    * 1000000.0, 0) AS BIGINT)
        |    AS t_micro
        |FROM x GROUP BY 1, 2
        |ORDER BY t_micro DESC, c_nationkey, c_mktsegment
        |LIMIT 10""".stripMargin),
      "t-closeness: exact integer cross-multiplied TVD between class " +
        "and global sensitive distributions; 10 worst classes"),

    // Wilcoxon signed-rank — the PAIRED member of the rank-test family
    // (q_mannwhitney is the unpaired two-sample, q_friedman the blocked
    // k-treatment): per order, the paired measurements are the odd-
    // linenumber and even-linenumber quantity sums (orders with both);
    // the signed difference lives EXACTLY on the 0.01 quantity grid —
    // per-item cents (round once per bounded grid value) summed as
    // BIGINT, so engines can never disagree on a boundary round of a
    // float sum. Zero diffs drop (standard signed-rank), |d| midranks
    // come from the bounded value-grain table (grid step 0.01, |d| <=
    // max-lines-per-order x qty range — domain-bounded at any corpus
    // size) via the doubled-midrank running sum (q_mannwhitney
    // precedent: 2*midrank stays integral), W+ doubled likewise, and
    // the tie-corrected normal z is one identical double expression.
    // Scale: one order-grain partial agg, a grid-bounded window, 1-row
    // reduce. BIGINT horizon: w2_plus <= n*(2n+1) overflows past n ~
    // 1.5e9 pairs, and both engines raise (same documented horizon as
    // q_mannwhitney's rank sums).
    "q_wilcoxon" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val d12 = org.apache.spark.sql.types.DecimalType(12, 0)
        val od = Tables.load(s, d, "lineitem")
          .select($"l_orderkey", ($"l_linenumber" % 2 === 1).as("odd"),
            expr("CAST(round(l_quantity * 100, 0) AS BIGINT)").as("qc"))
          .groupBy($"l_orderkey")
          .agg(sum(when($"odd", $"qc").otherwise(0L)).as("so"),
            sum(when(!$"odd", $"qc").otherwise(0L)).as("se"),
            sum(when($"odd", 1L).otherwise(0L)).as("no_"),
            sum(when(!$"odd", 1L).otherwise(0L)).as("ne_"))
          .filter($"no_" >= 1 && $"ne_" >= 1 && $"so" =!= $"se")
          .select(($"so" - $"se").as("cents"))
        val g2 = od.groupBy($"cents").agg(count(lit(1)).as("cnt"))
          .groupBy(abs($"cents").as("ac"))
          .agg(sum(when($"cents" > 0, $"cnt").otherwise(0L)).as("np"),
            sum($"cnt").as("t"))
        val w = Window.orderBy($"ac")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        g2.withColumn("cum", sum($"t").over(w))
          .agg(sum($"t").as("n"),
            sum($"np".cast(d19) *
              (lit(2L) * ($"cum" - $"t") + $"t" + lit(1L)).cast(d19))
              .as("w2p"),
            sum($"t".cast(d12) * $"t".cast(d12) * $"t".cast(d12) -
              $"t".cast(d12)).as("tie3"))
          .select($"n", $"w2p".cast("long").as("w2_plus"),
            expr("CAST(round((CAST(w2p * 2 - CAST(n AS DECIMAL(19,0)) * " +
              "CAST(n + 1 AS DECIMAL(19,0)) AS DOUBLE) / 4.0) / " +
              "sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) * " +
              "CAST(2 * n + 1 AS DOUBLE) / 24.0 - " +
              "CAST(tie3 AS DOUBLE) / 48.0) * 1000000.0, 0) AS BIGINT)")
              .as("z_micro"))
      },
      Some("""WITH od AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CASE WHEN l_linenumber % 2 = 1
        |      THEN CAST(round(l_quantity * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS so,
        |    CAST(SUM(CASE WHEN l_linenumber % 2 = 0
        |      THEN CAST(round(l_quantity * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS se,
        |    CAST(SUM(CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS no_,
        |    CAST(SUM(CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ne_
        |  FROM lineitem GROUP BY 1),
        |vg AS (
        |  SELECT so - se AS cents, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM od WHERE no_ >= 1 AND ne_ >= 1 AND so <> se GROUP BY 1),
        |g2 AS (
        |  SELECT abs(cents) AS ac,
        |    CAST(SUM(CASE WHEN cents > 0 THEN cnt ELSE 0 END) AS BIGINT)
        |      AS np,
        |    CAST(SUM(cnt) AS BIGINT) AS t
        |  FROM vg GROUP BY 1),
        |w AS (
        |  SELECT np, t,
        |    SUM(t) OVER (ORDER BY ac ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM g2),
        |a AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n,
        |    SUM(CAST(np AS DECIMAL(19,0)) *
        |      CAST(2 * (cum - t) + t + 1 AS DECIMAL(19,0))) AS w2p,
        |    SUM(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0)) *
        |      CAST(t AS DECIMAL(12,0)) - CAST(t AS DECIMAL(12,0)))
        |      AS tie3
        |  FROM w)
        |SELECT n, CAST(w2p AS BIGINT) AS w2_plus,
        |  CAST(round((CAST(w2p * 2 - CAST(n AS DECIMAL(19,0)) *
        |    CAST(n + 1 AS DECIMAL(19,0)) AS DOUBLE) / 4.0) /
        |    sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) *
        |    CAST(2 * n + 1 AS DOUBLE) / 24.0 -
        |    CAST(tie3 AS DOUBLE) / 48.0) * 1000000.0, 0) AS BIGINT)
        |    AS z_micro
        |FROM a""".stripMargin),
      "Wilcoxon signed-rank (paired, tie-corrected) over the grid-" +
        "bounded |diff| value-grain midrank table"),

    // Brown-Forsythe Levene test — variance-homogeneity across the
    // three return-flag groups, the assumption check that sits beside
    // q_anova (which assumes it) and q_welch_t (which drops it):
    // W = ((N-k)/(k-1)) * sum_i n_i(zbar_i - zbar)^2 / sum_ij (z_ij -
    // zbar_i)^2 with z = |x - median_i| (the median form — robust, the
    // recommended default). Medians are exact interpolated percentiles
    // (engine-identical per the q_percentile contract); each |x - med|
    // freezes to micro-units ONCE per row (deterministic double ->
    // BIGINT), so the group sums of z and z^2 are exact decimals and W
    // is one identical expression tree over them. Scale: one
    // percentile pass + one conditional-agg pass, both partial-agg
    // shuffles on the 3-value flag; the z^2 DECIMAL(38,0) sums carry
    // ~1e32 at 100 TB row counts — no overflow.
    "q_levene" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val li = Tables.load(s, d, "lineitem")
          .select($"l_returnflag".as("f"), $"l_extendedprice".as("x"))
        val med = li.groupBy($"f")
          .agg(expr("percentile(x, 0.5)").as("med"))
        def n(fl: String) = sum(when($"f" === fl, 1L).otherwise(0L))
        def sz(fl: String) = sum(when($"f" === fl, $"zm".cast(d19)))
        def qz(fl: String) =
          sum(when($"f" === fl, $"zm".cast(d19) * $"zm".cast(d19)))
        li.join(broadcast(med), "f")
          .select($"f",
            expr("CAST(round(abs(x - med) * 1000000.0, 0) AS BIGINT)")
              .as("zm"))
          .agg(n("A").as("n1"), n("N").as("n2"), n("R").as("n3"),
            sz("A").as("s1"), sz("N").as("s2"), sz("R").as("s3"),
            qz("A").as("q1"), qz("N").as("q2"), qz("R").as("q3"))
          .select($"n1", $"n2", $"n3",
            expr("CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)").as("m1"),
            expr("CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)").as("m2"),
            expr("CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE)").as("m3"),
            expr("CAST(s1 + s2 + s3 AS DOUBLE) / " +
              "CAST(n1 + n2 + n3 AS DOUBLE)").as("g"),
            expr("(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
              "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) + " +
              "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * " +
              "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) + " +
              "(CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * " +
              "CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE))").as("den"))
          .select($"n1", $"n2", $"n3",
            expr("CAST(round((CAST(n1 + n2 + n3 - 3 AS DOUBLE) / 2.0) " +
              "* (CAST(n1 AS DOUBLE) * (m1 - g) * (m1 - g) + " +
              "CAST(n2 AS DOUBLE) * (m2 - g) * (m2 - g) + " +
              "CAST(n3 AS DOUBLE) * (m3 - g) * (m3 - g)) / den " +
              "* 1000000.0, 0) AS BIGINT)").as("w_micro"))
      },
      Some("""WITH med AS (
        |  SELECT l_returnflag AS f, quantile_cont(l_extendedprice, 0.5)
        |    AS med
        |  FROM lineitem GROUP BY 1),
        |z AS (
        |  SELECT l.l_returnflag AS f,
        |    CAST(round(abs(l.l_extendedprice - m.med) * 1000000.0, 0)
        |      AS BIGINT) AS zm
        |  FROM lineitem l JOIN med m ON l.l_returnflag = m.f),
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n3,
        |    SUM(CASE WHEN f = 'A' THEN CAST(zm AS DECIMAL(19,0)) END)
        |      AS s1,
        |    SUM(CASE WHEN f = 'N' THEN CAST(zm AS DECIMAL(19,0)) END)
        |      AS s2,
        |    SUM(CASE WHEN f = 'R' THEN CAST(zm AS DECIMAL(19,0)) END)
        |      AS s3,
        |    SUM(CASE WHEN f = 'A' THEN CAST(zm AS DECIMAL(19,0)) *
        |      CAST(zm AS DECIMAL(19,0)) END) AS q1,
        |    SUM(CASE WHEN f = 'N' THEN CAST(zm AS DECIMAL(19,0)) *
        |      CAST(zm AS DECIMAL(19,0)) END) AS q2,
        |    SUM(CASE WHEN f = 'R' THEN CAST(zm AS DECIMAL(19,0)) *
        |      CAST(zm AS DECIMAL(19,0)) END) AS q3
        |  FROM z),
        |b AS (
        |  SELECT n1, n2, n3,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
        |    CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE) AS m3,
        |    CAST(s1 + s2 + s3 AS DOUBLE) / CAST(n1 + n2 + n3 AS DOUBLE)
        |      AS g,
        |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) +
        |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) *
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) +
        |    (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) *
        |      CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE)) AS den
        |  FROM a)
        |SELECT n1, n2, n3,
        |  CAST(round((CAST(n1 + n2 + n3 - 3 AS DOUBLE) / 2.0)
        |    * (CAST(n1 AS DOUBLE) * (m1 - g) * (m1 - g) +
        |    CAST(n2 AS DOUBLE) * (m2 - g) * (m2 - g) +
        |    CAST(n3 AS DOUBLE) * (m3 - g) * (m3 - g)) / den
        |    * 1000000.0, 0) AS BIGINT) AS w_micro
        |FROM b""".stripMargin),
      "Brown-Forsythe Levene variance-homogeneity W over micro-frozen " +
        "|x - group median| (exact decimal z and z^2 sums)"),

    // Cliff's delta — the ordinal effect size that partners
    // q_mannwhitney (same comparison structure, but reports HOW
    // SEPARATED the samples are instead of whether the separation is
    // significant): delta = (#{a > r} - #{a < r}) / (n1*n2), computed
    // EXACTLY from the bounded value-grain table — gt = sum_v
    // na(v)*cum_nb(<v) and the tie mass via one running sum, never the
    // n1 x n2 pair materialization. lt falls out as n1*n2 - gt - ties,
    // so delta = (2*gt + ties - n1*n2)/(n1*n2) with every operand an
    // exact DECIMAL(38,0). Scale: one value-grain partial agg (<= 4901
    // rows at any corpus size) + grid-bounded window + 1-row reduce;
    // the products carry ~4e18 at 2e9-row groups — the same documented
    // BIGINT horizon as q_mannwhitney, raised to DECIMAL(38,0) here.
    "q_cliff_delta" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val vg = Tables.load(s, d, "lineitem")
          .filter($"l_returnflag".isin("A", "R"))
          .groupBy($"l_quantity".as("qty"))
          .agg(sum(when($"l_returnflag" === "A", 1L).otherwise(0L))
              .as("na"),
            sum(when($"l_returnflag" === "R", 1L).otherwise(0L))
              .as("nb"))
        val w = Window.orderBy($"qty")
          .rowsBetween(Window.unboundedPreceding, -1)
        vg.withColumn("cb", coalesce(sum($"nb").over(w), lit(0L)))
          .agg(sum($"na").as("n1"), sum($"nb").as("n2"),
            sum($"na".cast(d19) * $"cb".cast(d19)).as("gt"),
            sum($"na".cast(d19) * $"nb".cast(d19)).as("ties"))
          .select($"n1", $"n2",
            expr("CAST(round((2.0 * CAST(gt AS DOUBLE) + " +
              "CAST(ties AS DOUBLE) - CAST(n1 AS DOUBLE) * " +
              "CAST(n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * " +
              "CAST(n2 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("delta_micro"))
      },
      Some("""WITH vg AS (
        |  SELECT l_quantity AS qty,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
        |w AS (
        |  SELECT na, nb,
        |    COALESCE(SUM(nb) OVER (ORDER BY qty
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cb
        |  FROM vg),
        |a AS (
        |  SELECT CAST(SUM(na) AS BIGINT) AS n1,
        |    CAST(SUM(nb) AS BIGINT) AS n2,
        |    SUM(CAST(na AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0)))
        |      AS gt,
        |    SUM(CAST(na AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0)))
        |      AS ties
        |  FROM w)
        |SELECT n1, n2,
        |  CAST(round((2.0 * CAST(gt AS DOUBLE) +
        |    CAST(ties AS DOUBLE) - CAST(n1 AS DOUBLE) *
        |    CAST(n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) *
        |    CAST(n2 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS delta_micro
        |FROM a""".stripMargin),
      "Cliff's delta ordinal effect size from the bounded value-grain " +
        "dominance counts (exact integers, no pair materialization)"),

    // Cohen's d / Hedges' g — the standardized mean-difference effect
    // sizes that partner q_welch_t exactly as q_cliff_delta partners
    // q_mannwhitney: a significant t at 100 TB row counts is near-
    // guaranteed, so the EFFECT SIZE is the number that decides whether
    // a difference matters. Pooled-SD d from the same exact DECIMAL
    // sums of v and v^2 as q_welch_t (one scan, conditional partials),
    // Hedges' g = d * (1 - 3/(4N - 9)) — the small-sample bias
    // correction — in the same expression tree. 1-row reduce; micro
    // outputs.
    "q_cohens_d" -> GQuery(
      (s, d) => {
        import s.implicits._
        def cnt(tp: String) =
          sum(when($"event_type" === tp, 1L).otherwise(0L))
        def sv(tp: String) =
          sum(when($"event_type" === tp, $"value".cast(Fns.D18_6)))
        def sq(tp: String) =
          sum(when($"event_type" === tp,
            $"value".cast(Fns.D18_6) * $"value".cast(Fns.D18_6)))
        Tables.load(s, d, "events")
          .filter($"event_type".isin("click", "error"))
          .agg(cnt("click").as("n1"), cnt("error").as("n2"),
            sv("click").as("s1"), sv("error").as("s2"),
            sq("click").as("q1"), sq("error").as("q2"))
          .select($"n1", $"n2",
            expr("(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - " +
              "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))").as("md"),
            expr("((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
              "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) + " +
              "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * " +
              "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) / " +
              "CAST(n1 + n2 - 2 AS DOUBLE)").as("sp2"))
          .select($"n1", $"n2",
            expr("CAST(round(md / sqrt(sp2) * 1000000.0, 0) AS BIGINT)")
              .as("d_micro"),
            expr("CAST(round(md / sqrt(sp2) * (1.0 - 3.0 / " +
              "(4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)) * 1000000.0, 0) " +
              "AS BIGINT)").as("g_micro"))
      },
      Some("""WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS s1,
        |    SUM(CASE WHEN event_type = 'error'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS s2,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) END) AS q1,
        |    SUM(CASE WHEN event_type = 'error'
        |      THEN CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) END) AS q2
        |  FROM events WHERE event_type IN ('click', 'error')),
        |b AS (
        |  SELECT n1, n2,
        |    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS md,
        |    ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) +
        |      (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) *
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
        |      CAST(n1 + n2 - 2 AS DOUBLE) AS sp2
        |  FROM a)
        |SELECT n1, n2,
        |  CAST(round(md / sqrt(sp2) * 1000000.0, 0) AS BIGINT)
        |    AS d_micro,
        |  CAST(round(md / sqrt(sp2) * (1.0 - 3.0 /
        |    (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)) * 1000000.0, 0)
        |    AS BIGINT) AS g_micro
        |FROM b""".stripMargin),
      "Cohen's d and Hedges' g pooled-SD effect sizes from exact " +
        "decimal conditional sums (one scan, 1-row reduce)"),

    // Log-rank test — the two-group survival comparison that gives
    // q_kaplan_meier its hypothesis test: do even- and odd-id user
    // cohorts reach a qualifying purchase at the same rate, with the
    // same right-censoring discipline as the KM curve? Per event day j:
    // observed group-1 deaths d1j vs expected e1j = dj*n1j/nj under the
    // null, hypergeometric variance vj; chi2 = (sum(O-E))^2 / sum(V).
    // The day-grain table is bounded by the observation window, and
    // each day's (O-E) and V freeze to nano-units (deterministic
    // double -> BIGINT per day), so the cross-day sums are exact
    // integers — engines cannot disagree on summation order. Scale:
    // one user-grain partial agg, two reverse running sums over the
    // bounded day table, 1-row reduce.
    "q_logrank" -> GQuery(
      (s, d) => {
        import s.implicits._
        val dayIdx = datediff(to_date($"ts"), lit("2024-01-01"))
        val byDayDesc = Window.orderBy($"day".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ud = Tables.load(s, d, "events")
          .select($"user_id", dayIdx.as("day"),
            ($"event_type" === "purchase" && $"value" > 100.0).as("q"))
          .groupBy($"user_id")
          .agg(min($"day").as("fd"), max($"day").as("ld"),
            min(when($"q", $"day")).as("dd"))
          .select(pmod($"user_id", lit(2L)).as("grp"),
            (coalesce($"dd", $"ld") - $"fd").as("dur"),
            $"dd".isNotNull.cast("long").as("event"))
        val dg = ud.groupBy($"dur".as("day"))
          .agg(sum(when($"grp" === 0L, $"event").otherwise(0L)).as("d1"),
            sum($"event").as("dj"),
            sum(when($"grp" === 0L, 1L).otherwise(0L)).as("c1"),
            count(lit(1)).as("ct"))
          .withColumn("n1", sum($"c1").over(byDayDesc))
          .withColumn("nn", sum($"ct").over(byDayDesc))
          .filter($"dj" > 0 && $"nn" > 1)
          .select($"d1",
            expr("CAST(round((CAST(d1 AS DOUBLE) - CAST(dj AS DOUBLE) * " +
              "CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE)) * " +
              "1000000000.0, 0) AS BIGINT)").as("ome_nano"),
            expr("CAST(round(CAST(dj AS DOUBLE) * (CAST(n1 AS DOUBLE) / " +
              "CAST(nn AS DOUBLE)) * (1.0 - CAST(n1 AS DOUBLE) / " +
              "CAST(nn AS DOUBLE)) * (CAST(nn AS DOUBLE) - " +
              "CAST(dj AS DOUBLE)) / CAST(nn - 1 AS DOUBLE) * " +
              "1000000000.0, 0) AS BIGINT)").as("v_nano"))
        dg.agg(count(lit(1)).as("n_days"), sum($"d1").as("o1"),
            sum($"ome_nano").as("soe"), sum($"v_nano").as("sv"))
          .select($"n_days", $"o1",
            expr("CAST(round((CAST(soe AS DOUBLE) / 1000000000.0) * " +
              "(CAST(soe AS DOUBLE) / 1000000000.0) / " +
              "(CAST(sv AS DOUBLE) / 1000000000.0) * 1000000.0, 0) " +
              "AS BIGINT)").as("chi2_micro"))
      },
      Some("""WITH ud AS (
        |  SELECT user_id,
        |    min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
        |      AS fd,
        |    max(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
        |      AS ld,
        |    min(CASE WHEN event_type = 'purchase' AND value > 100.0
        |      THEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      END) AS dd
        |  FROM events GROUP BY user_id),
        |ug AS (
        |  SELECT user_id % 2 AS grp, COALESCE(dd, ld) - fd AS dur,
        |    CASE WHEN dd IS NOT NULL THEN 1 ELSE 0 END AS event
        |  FROM ud),
        |dg AS (
        |  SELECT dur AS day,
        |    CAST(SUM(CASE WHEN grp = 0 THEN event ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(SUM(event) AS BIGINT) AS dj,
        |    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM ug GROUP BY 1),
        |rr AS (
        |  SELECT day, d1, dj,
        |    CAST(SUM(c1) OVER (ORDER BY day DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1,
        |    CAST(SUM(ct) OVER (ORDER BY day DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nn
        |  FROM dg),
        |t AS (
        |  SELECT d1,
        |    CAST(round((CAST(d1 AS DOUBLE) - CAST(dj AS DOUBLE) *
        |      CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |      1000000000.0, 0) AS BIGINT) AS ome_nano,
        |    CAST(round(CAST(dj AS DOUBLE) * (CAST(n1 AS DOUBLE) /
        |      CAST(nn AS DOUBLE)) * (1.0 - CAST(n1 AS DOUBLE) /
        |      CAST(nn AS DOUBLE)) * (CAST(nn AS DOUBLE) -
        |      CAST(dj AS DOUBLE)) / CAST(nn - 1 AS DOUBLE) *
        |      1000000000.0, 0) AS BIGINT) AS v_nano
        |  FROM rr WHERE dj > 0 AND nn > 1),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(SUM(ome_nano) AS BIGINT) AS soe,
        |    CAST(SUM(v_nano) AS BIGINT) AS sv
        |  FROM t)
        |SELECT n_days, o1,
        |  CAST(round((CAST(soe AS DOUBLE) / 1000000000.0) *
        |    (CAST(soe AS DOUBLE) / 1000000000.0) /
        |    (CAST(sv AS DOUBLE) / 1000000000.0) * 1000000.0, 0)
        |    AS BIGINT) AS chi2_micro
        |FROM a""".stripMargin),
      "log-rank two-cohort survival test over the bounded day table " +
        "(nano-frozen per-day O-E and V, exact integer cross-day sums)"),

    // Durbin-Watson — serial-correlation diagnostic on the residuals of
    // the daily-revenue OLS trend (the q_trend fit family's assumption
    // check: a DW far from 2 says the trend's error bars are wrong).
    // The daily series is exact (per-order cents frozen per row, BIGINT
    // day sums); the OLS slope/intercept come from exact decimal normal-
    // equation sums (the q_trend recipe); each day's residual freezes
    // to hundredth-cents ONCE (deterministic double -> BIGINT), and
    // DW = sum((e_t - e_{t-1})^2) / sum(e_t^2) is then EXACT decimal
    // arithmetic — no order-sensitive double sums anywhere. Scale: one
    // date-keyed partial agg; everything after lives on the bounded
    // day table (lag window included).
    "q_durbin_watson" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val daily = Tables.load(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("yc"))
        val m = daily.agg(min($"day").as("d0"))
        // day-grain (calendar-bounded) and consumed by the OLS moment
        // anchor AND the residual pass — checkpoint so the orders scan +
        // min-day barrier run once (r13 audit: singlepart x4)
        val idx = daily.crossJoin(broadcast(m))
          .select(datediff($"day", $"d0").cast("long").as("t"), $"yc")
        val st = idx.agg(count(lit(1)).as("n"), sum($"t").as("sx"),
          sum($"yc").as("sy"),
          sum($"t".cast(d19) * $"t".cast(d19)).as("sxx"),
          sum($"t".cast(d19) * $"yc".cast(d19)).as("sxy"))
        val w = Window.orderBy($"t")
        idx.crossJoin(broadcast(st))
          .withColumn("b1",
            expr("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
              "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
              "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
              "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"))
          .select($"t",
            expr("CAST(round((CAST(yc AS DOUBLE) - " +
              "((CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE)) / " +
              "CAST(n AS DOUBLE) + b1 * CAST(t AS DOUBLE))) * 100.0, " +
              "0) AS BIGINT)").as("em"))
          .withColumn("ep", lag($"em", 1).over(w))
          .agg(count(lit(1)).as("n_days"),
            sum(when($"ep".isNotNull,
              ($"em".cast(d19) - $"ep".cast(d19)) *
                ($"em".cast(d19) - $"ep".cast(d19)))).as("num"),
            sum($"em".cast(d19) * $"em".cast(d19)).as("den"))
          .select($"n_days",
            expr("CAST(round(CAST(num AS DOUBLE) / " +
              "CAST(den AS DOUBLE) * 1000000.0, 0) AS BIGINT)")
              .as("dw_micro"))
      },
      Some("""WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS yc
        |  FROM orders GROUP BY 1),
        |m AS (SELECT MIN(day) AS d0 FROM daily),
        |idx AS (
        |  SELECT CAST(date_diff('day', d0, day) AS BIGINT) AS t, yc
        |  FROM daily, m),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(t) AS BIGINT) AS sx, CAST(SUM(yc) AS BIGINT) AS sy,
        |    SUM(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
        |      AS sxx,
        |    SUM(CAST(t AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))
        |      AS sxy
        |  FROM idx),
        |f AS (
        |  SELECT t, yc,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b1,
        |    n, sx, sy
        |  FROM idx, st),
        |e AS (
        |  SELECT t,
        |    CAST(round((CAST(yc AS DOUBLE) -
        |      ((CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE)) /
        |      CAST(n AS DOUBLE) + b1 * CAST(t AS DOUBLE))) * 100.0, 0)
        |      AS BIGINT) AS em
        |  FROM f),
        |l AS (
        |  SELECT em, lag(em) OVER (ORDER BY t) AS ep FROM e)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(round(CAST(SUM(CASE WHEN ep IS NOT NULL THEN
        |    (CAST(em AS DECIMAL(19,0)) - CAST(ep AS DECIMAL(19,0))) *
        |    (CAST(em AS DECIMAL(19,0)) - CAST(ep AS DECIMAL(19,0)))
        |    END) AS DOUBLE) /
        |    CAST(SUM(CAST(em AS DECIMAL(19,0)) *
        |    CAST(em AS DECIMAL(19,0))) AS DOUBLE) * 1000000.0, 0)
        |    AS BIGINT) AS dw_micro
        |FROM l""".stripMargin),
      "Durbin-Watson serial-correlation statistic on daily-revenue OLS " +
        "residuals (exact decimal sums over the bounded day table)"),

    // Holt-Winters additive triple smoothing — the seasonal member that
    // completes the smoothing ladder (q_ewma level, q_double_ewma
    // level+trend, this one level+trend+weekly season) and yields the
    // 7-day forecast a capacity dashboard actually wants. The recursion
    // is inherently sequential, but the state walk runs over the
    // BOUNDED day table (the q_kaplan_meier fold argument): per-day
    // counts are exact integers, init is a literal first/second-week
    // expression, and the level/trend/season update is a FIXED
    // LEFT-TO-RIGHT fold whose state is a PLAIN 9-double array
    // [l, b, s1..s7] — Spark `aggregate` ≡ DuckDB `list_reduce`,
    // identical IEEE sequence, so the folded doubles match bit-for-bit
    // and freeze to micro-units at the end. The array state is
    // deliberate: DuckDB 1.0's list_reduce MIS-EVALUATES a repeated
    // subexpression inside a STRUCT-state lambda (the 'b' field read a
    // corrupted acc.s[1] from step 2 on — reproduced minimally during
    // this build), while the flat-list form is correct and was pinned
    // against an independent sequential recount. alpha/beta/gamma
    // fixed at 0.3/0.1/0.2. Scale: one date-keyed partial-agg shuffle;
    // everything after is O(days).
    "q_holt_winters" -> GQuery(
      (s, d) => {
        import s.implicits._
        val lnew = "0.3 * (yv - element_at(acc, 3)) + " +
          "0.7 * (element_at(acc, 1) + element_at(acc, 2))"
        Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).cast("double").as("y"))
          .agg(sort_array(collect_list(struct($"day", $"y"))).as("dy"))
          .select(expr("transform(dy, e -> e.y)").as("ys"))
          .select($"ys",
            expr("(element_at(ys,1)+element_at(ys,2)+element_at(ys,3)+" +
              "element_at(ys,4)+element_at(ys,5)+element_at(ys,6)+" +
              "element_at(ys,7)) / 7.0").as("l0"))
          .select($"ys", $"l0",
            expr("((element_at(ys,8)+element_at(ys,9)+element_at(ys,10)+" +
              "element_at(ys,11)+element_at(ys,12)+element_at(ys,13)+" +
              "element_at(ys,14)) / 7.0 - l0) / 7.0").as("b0"),
            expr("transform(slice(ys, 1, 7), v -> v - l0)").as("s0"))
          .select(expr(
            "aggregate(slice(ys, 8, size(ys) - 7), " +
              "concat(array(l0, b0), s0), " +
              "(acc, yv) -> concat(" +
              s"array($lnew, " +
              s"0.1 * (($lnew) - element_at(acc, 1)) + " +
              "0.9 * element_at(acc, 2)), " +
              "slice(acc, 4, 6), " +
              s"array(0.2 * (yv - ($lnew)) + " +
              "0.8 * element_at(acc, 3))))").as("fin"))
          .select(explode(expr("sequence(1, 7)")).as("h"), $"fin")
          .select($"h".cast("long").as("h"),
            expr("CAST(round((element_at(fin, 1) + CAST(h AS DOUBLE) * " +
              "element_at(fin, 2) + element_at(fin, 2 + h)) " +
              "* 1000000.0, 0) AS BIGINT)").as("fc_micro"),
            expr("CAST(round(element_at(fin, 1) * 1000000.0, 0) " +
              "AS BIGINT)").as("level_micro"),
            expr("CAST(round(element_at(fin, 2) * 1000000.0, 0) " +
              "AS BIGINT)").as("trend_micro"))
          .orderBy($"h")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |a AS (SELECT list(y ORDER BY day) AS ys FROM daily),
        |i AS (
        |  SELECT ys,
        |    (ys[1]+ys[2]+ys[3]+ys[4]+ys[5]+ys[6]+ys[7])/7.0 AS l0
        |  FROM a),
        |i2 AS (
        |  SELECT ys, l0,
        |    ((ys[8]+ys[9]+ys[10]+ys[11]+ys[12]+ys[13]+ys[14])/7.0
        |      - l0)/7.0 AS b0,
        |    list_transform(ys[1:7], v -> v - l0) AS s0
        |  FROM i),
        |f AS (
        |  SELECT list_reduce(
        |    list_prepend(list_concat([l0, b0], s0),
        |      list_transform(ys[8:len(ys)],
        |        yv -> [yv, 0, 0, 0, 0, 0, 0, 0, 0])),
        |    (acc, e) -> list_concat(list_concat(
        |      [0.3 * (e[1] - acc[3]) + 0.7 * (acc[1] + acc[2]),
        |       0.1 * ((0.3 * (e[1] - acc[3]) + 0.7 * (acc[1] +
        |         acc[2])) - acc[1]) + 0.9 * acc[2]],
        |      acc[4:9]),
        |      [0.2 * (e[1] - (0.3 * (e[1] - acc[3]) + 0.7 * (acc[1] +
        |        acc[2]))) + 0.8 * acc[3]])) AS fin
        |  FROM i2)
        |SELECT CAST(h AS BIGINT) AS h,
        |  CAST(round((fin[1] + h * fin[2] + fin[2 + h]) * 1000000.0, 0)
        |    AS BIGINT) AS fc_micro,
        |  CAST(round(fin[1] * 1000000.0, 0) AS BIGINT) AS level_micro,
        |  CAST(round(fin[2] * 1000000.0, 0) AS BIGINT) AS trend_micro
        |FROM f, (SELECT unnest(generate_series(1, 7)) AS h)
        |ORDER BY h""".stripMargin),
      "Holt-Winters additive level/trend/weekly-season smoothing with " +
        "7-day forecast (fixed struct-state fold over the day table)"),

    // Tukey-Kramer HSD — the post-hoc that answers what q_anova's
    // significant F leaves open: WHICH group pairs differ. Studentized-
    // range statistic per pair, q_pq = |m_p - m_q| /
    // sqrt(MSE/2 * (1/n_p + 1/n_q)) (the Kramer form for unequal n),
    // with MSE from the same exact decimal conditional sums as q_anova
    // — one scan, one 1-row reduce, then the three pair rows unfold
    // from literal structs (no join). All doubles derive from exact
    // decimals through one identical expression tree per pair.
    "q_tukey_hsd" -> GQuery(
      (s, d) => {
        import s.implicits._
        def cnt(tp: String) =
          sum(when($"event_type" === tp, 1L).otherwise(0L))
        def sv(tp: String) =
          sum(when($"event_type" === tp, $"value".cast(Fns.D18_6)))
        def sq(tp: String) =
          sum(when($"event_type" === tp,
            $"value".cast(Fns.D18_6) * $"value".cast(Fns.D18_6)))
        def qexpr(i: Int, j: Int) =
          s"CAST(round(abs(CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) - " +
            s"CAST(s$j AS DOUBLE) / CAST(n$j AS DOUBLE)) / " +
            "sqrt(mse / 2.0 * " +
            s"(1.0 / CAST(n$i AS DOUBLE) + 1.0 / CAST(n$j AS DOUBLE))) " +
            "* 1000000.0, 0) AS BIGINT)"
        Tables.load(s, d, "events")
          .filter($"event_type".isin("click", "error", "view"))
          .agg(cnt("click").as("n1"), cnt("error").as("n2"),
            cnt("view").as("n3"),
            sv("click").as("s1"), sv("error").as("s2"),
            sv("view").as("s3"),
            sq("click").as("q1"), sq("error").as("q2"),
            sq("view").as("q3"))
          .withColumn("mse",
            expr("((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
              "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) + " +
              "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * " +
              "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) + " +
              "(CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * " +
              "CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE))) / " +
              "CAST(n1 + n2 + n3 - 3 AS DOUBLE)"))
          .select(explode(array(
            struct(lit("click").as("g1"), lit("error").as("g2"),
              expr(qexpr(1, 2)).as("q_micro")),
            struct(lit("click").as("g1"), lit("view").as("g2"),
              expr(qexpr(1, 3)).as("q_micro")),
            struct(lit("error").as("g1"), lit("view").as("g2"),
              expr(qexpr(2, 3)).as("q_micro")))).as("p"))
          .select($"p.g1".as("g1"), $"p.g2".as("g2"),
            $"p.q_micro".as("q_micro"))
          .orderBy($"g1", $"g2")
      },
      Some("""WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n3,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS s1,
        |    SUM(CASE WHEN event_type = 'error'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS s2,
        |    SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS s3,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) END) AS q1,
        |    SUM(CASE WHEN event_type = 'error'
        |      THEN CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) END) AS q2,
        |    SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) END) AS q3
        |  FROM events WHERE event_type IN ('click', 'error', 'view')),
        |m AS (
        |  SELECT *,
        |    ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) +
        |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) *
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) +
        |    (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) *
        |      CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE))) /
        |      CAST(n1 + n2 + n3 - 3 AS DOUBLE) AS mse
        |  FROM a)
        |SELECT g1, g2, q_micro FROM (
        |  SELECT 'click' AS g1, 'error' AS g2,
        |    CAST(round(abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
        |      sqrt(mse / 2.0 * (1.0 / CAST(n1 AS DOUBLE) +
        |      1.0 / CAST(n2 AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
        |      AS q_micro
        |  FROM m
        |  UNION ALL
        |  SELECT 'click' AS g1, 'view' AS g2,
        |    CAST(round(abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE)) /
        |      sqrt(mse / 2.0 * (1.0 / CAST(n1 AS DOUBLE) +
        |      1.0 / CAST(n3 AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
        |      AS q_micro
        |  FROM m
        |  UNION ALL
        |  SELECT 'error' AS g1, 'view' AS g2,
        |    CAST(round(abs(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) -
        |      CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE)) /
        |      sqrt(mse / 2.0 * (1.0 / CAST(n2 AS DOUBLE) +
        |      1.0 / CAST(n3 AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
        |      AS q_micro
        |  FROM m)
        |ORDER BY g1, g2""".stripMargin),
      "Tukey-Kramer HSD pairwise studentized-range statistics from the " +
        "ANOVA sufficient statistics (one scan, three literal pair rows)"),

    // Permutation test — the distribution-free member of the two-sample
    // family (q_welch_t assumes normal-ish tails, q_mannwhitney only
    // ranks; this one tests the MEAN DIFFERENCE itself with no
    // distributional assumption): 32 deterministic label permutations
    // via the md5 recipe (each row re-assigned to pseudo-group 1 when
    // h(event_id, b) falls under the group-1 rate — the Monte-Carlo
    // binomial variant of label shuffling, stated: pseudo-group sizes
    // vary binomially around n1 rather than being exactly n1), p =
    // (#{|stat_b| >= |obs|} + 1)/(B + 1). Values freeze to micro-units
    // per row, so every permutation's sums are exact integers and the
    // >= comparisons happen between micro-frozen BIGINTs — replay-
    // stable on both engines. Scale: one scan with a 32-way explode
    // into a 32-cell partial agg (map-side combine keeps the shuffle at
    // 32 x partitions rows), one broadcast 1-row observed anchor.
    "q_permutation_test" -> GQuery(
      (s, d) => {
        import s.implicits._
        val ev = Tables.load(s, d, "events")
          .filter($"event_type".isin("click", "error"))
          .select(($"event_type" === "click").as("g1"), $"event_id",
            expr("CAST(round(value * 1000000.0, 0) AS BIGINT)").as("v6"))
        val obs = ev.agg(
          sum(when($"g1", 1L).otherwise(0L)).as("n1"),
          count(lit(1)).as("nn"),
          sum(when($"g1", $"v6")).as("s1"), sum($"v6").as("st"))
          .select($"n1", $"nn",
            expr("n1 * 1000000 DIV nn").as("thr"),
            expr("CAST(round(abs(CAST(s1 AS DOUBLE) / " +
              "CAST(n1 AS DOUBLE) - CAST(st - s1 AS DOUBLE) / " +
              "CAST(nn - n1 AS DOUBLE)), 0) AS BIGINT)").as("obs_micro"))
        val stats = ev.select($"event_id", $"v6",
            explode(expr("sequence(0, 31)")).as("b"))
          .crossJoin(broadcast(obs))
          .withColumn("a",
            expr("pmod(CAST(conv(substring(md5(concat(" +
              "CAST(event_id AS STRING), '_p', CAST(b AS STRING))), " +
              "1, 8), 16, 10) AS BIGINT), 1000000) < thr"))
          .groupBy($"b")
          .agg(sum(when($"a", 1L).otherwise(0L)).as("n1b"),
            count(lit(1)).as("nb"),
            sum(when($"a", $"v6")).as("s1b"), sum($"v6").as("sb"))
          .select(expr("CAST(round(abs(CAST(s1b AS DOUBLE) / " +
            "CAST(n1b AS DOUBLE) - CAST(sb - s1b AS DOUBLE) / " +
            "CAST(nb - n1b AS DOUBLE)), 0) AS BIGINT)").as("stat_micro"))
        stats.crossJoin(broadcast(obs))
          .agg(max($"n1").as("n1"), (max($"nn") - max($"n1")).as("n2"),
            max($"obs_micro").as("obs_micro"),
            sum(($"stat_micro" >= $"obs_micro").cast("long")).as("n_ge"))
          .select($"n1", $"n2", $"obs_micro", $"n_ge",
            expr("CAST(round(CAST(n_ge + 1 AS DOUBLE) / 33.0 " +
              "* 1000000.0, 0) AS BIGINT)").as("p_micro"))
      },
      Some("""WITH ev AS (
        |  SELECT event_type = 'click' AS g1, event_id,
        |    CAST(round(value * 1000000.0, 0) AS BIGINT) AS v6
        |  FROM events WHERE event_type IN ('click', 'error')),
        |o AS (
        |  SELECT CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(COUNT(*) AS BIGINT) AS nn,
        |    CAST(SUM(CASE WHEN g1 THEN v6 END) AS BIGINT) AS s1,
        |    CAST(SUM(v6) AS BIGINT) AS st
        |  FROM ev),
        |ob AS (
        |  SELECT n1, nn, n1 * 1000000 // nn AS thr,
        |    CAST(round(abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(st - s1 AS DOUBLE) / CAST(nn - n1 AS DOUBLE)), 0)
        |      AS BIGINT) AS obs_micro
        |  FROM o),
        |p AS (
        |  SELECT b.b, ev.v6,
        |    ('0x' || substring(md5(CAST(ev.event_id AS VARCHAR) || '_p'
        |      || CAST(b.b AS VARCHAR)), 1, 8))::BIGINT % 1000000
        |      < ob.thr AS a
        |  FROM ev CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)
        |    b CROSS JOIN ob),
        |g AS (
        |  SELECT b,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1b,
        |    CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN a THEN v6 END) AS BIGINT) AS s1b,
        |    CAST(SUM(v6) AS BIGINT) AS sb
        |  FROM p GROUP BY 1),
        |st AS (
        |  SELECT CAST(round(abs(CAST(s1b AS DOUBLE) /
        |    CAST(n1b AS DOUBLE) - CAST(sb - s1b AS DOUBLE) /
        |    CAST(nb - n1b AS DOUBLE)), 0) AS BIGINT) AS stat_micro
        |  FROM g)
        |SELECT MAX(n1) AS n1, MAX(nn) - MAX(n1) AS n2,
        |  MAX(obs_micro) AS obs_micro,
        |  CAST(SUM(CASE WHEN stat_micro >= obs_micro THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_ge,
        |  CAST(round(CAST(SUM(CASE WHEN stat_micro >= obs_micro
        |    THEN 1 ELSE 0 END) + 1 AS DOUBLE) / 33.0 * 1000000.0, 0)
        |    AS BIGINT) AS p_micro
        |FROM st CROSS JOIN ob""".stripMargin),
      "Monte-Carlo permutation test of the mean difference (32 md5 " +
        "label permutations, exact micro sums, integer comparisons)"),

    // Theil-Sen robust slope — the median-of-pairwise-slopes twin of
    // q_trend's OLS (one wild week cannot drag it, unlike least
    // squares; the robust default for monitoring trends): slopes over
    // ALL week pairs of the weekly-revenue series. O(weeks^2) pairs is
    // the deliberate cost and it is BOUNDED by the calendar window
    // (~59k pairs for the ~345-week synthetic range) at any corpus
    // size — the q_ewma banded self-join argument; the corpus-scale
    // work is one date-keyed partial agg. The WEEK grain is itself a
    // measured choice: the day-grain first draft made 2.9M pairs from
    // the 2405-day range and spent 12.8 s inside Spark's
    // TypedImperativeAggregate percentile buffer — calendar-bounded
    // but a silly constant (SCALE.md round 11). Each pairwise slope is
    // a double from exact integer cents (identical division both
    // engines); the median is the exact interpolated percentile (the
    // q_percentile contract), applied twice: once for the slope, once
    // for the per-week intercepts against it.
    "q_theil_sen" -> GQuery(
      (s, d) => {
        import s.implicits._
        val daily = Tables.load(s, d, "orders")
          .groupBy(date_trunc("week", $"o_orderdate").cast("date")
            .as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("yc"))
        val m = daily.agg(min($"day").as("d0"))
        // week-grain (calendar-bounded, <= ~350 rows) and consumed
        // THREE times (both pair sides + the intercept pass) —
        // checkpoint so the orders scan + min-day barrier run once
        // (r13 audit: singlepart x4 from the duplicated subtree)
        val idx = daily.crossJoin(broadcast(m))
          .select(datediff($"day", $"d0").cast("long").as("t"), $"yc")
        val a = idx.select($"t".as("ta"), $"yc".as("ya"))
        val b = idx.select($"t".as("tb"), $"yc".as("yb"))
        val sl = a.join(b, $"tb" > $"ta")
          .select(expr("CAST(yb - ya AS DOUBLE) / CAST(tb - ta AS DOUBLE)")
            .as("slope"))
          .agg(expr("percentile(slope, 0.5)").as("ms"),
            count(lit(1)).as("n_pairs"))
        idx.crossJoin(broadcast(sl))
          .select($"ms", $"n_pairs",
            expr("CAST(yc AS DOUBLE) - ms * CAST(t AS DOUBLE)")
              .as("ic"))
          .groupBy($"ms", $"n_pairs")
          .agg(count(lit(1)).as("n_days"),
            expr("percentile(ic, 0.5)").as("mi"))
          .select($"n_days", $"n_pairs",
            expr("CAST(round(ms * 1000000.0, 0) AS BIGINT)")
              .as("slope_micro"),
            // mi is in CENTS, so microdollars = mi * 1e4 (ADVICE r11
            // fixed a 100x unit mislabel). BIGINT horizon: fits until
            // the weekly-revenue intercept reaches ~$9.2e12 (~sf 1e4);
            // past that, re-emit at cent grain.
            expr("CAST(round(mi * 10000.0, 0) AS BIGINT)")
              .as("intercept_microdollar"))
      },
      Some("""WITH daily AS (
        |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS yc
        |  FROM orders GROUP BY 1),
        |m AS (SELECT MIN(day) AS d0 FROM daily),
        |idx AS (
        |  SELECT CAST(date_diff('day', d0, day) AS BIGINT) AS t, yc
        |  FROM daily, m),
        |sl AS (
        |  SELECT quantile_cont(CAST(b.yc - a.yc AS DOUBLE) /
        |      CAST(b.t - a.t AS DOUBLE), 0.5) AS ms,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM idx a JOIN idx b ON b.t > a.t),
        |ic AS (
        |  SELECT ms, n_pairs,
        |    CAST(COUNT(*) AS BIGINT) AS n_days,
        |    quantile_cont(CAST(yc AS DOUBLE) - ms * CAST(t AS DOUBLE),
        |      0.5) AS mi
        |  FROM idx, sl GROUP BY 1, 2)
        |SELECT n_days, n_pairs,
        |  CAST(round(ms * 1000000.0, 0) AS BIGINT) AS slope_micro,
        |  CAST(round(mi * 10000.0, 0) AS BIGINT) AS intercept_microdollar
        |FROM ic""".stripMargin),
      "Theil-Sen robust slope + intercept: exact interpolated medians " +
        "of bounded week-pair slopes (the OLS trend's robust twin)"),

    // CUSUM chart — the ONLINE change detector beside q_changepoint's
    // offline split scan: S_t = max(0, S_{t-1} + (x_t - mu - k*sigma))
    // over the daily count series, alarm when S_t clears h*sigma
    // (k=0.5, h=4 — the textbook defaults). The recursion dissolves
    // into TWO running aggregates via the reflection identity
    // S_t = P_t - min(0, min_{j<=t} P_j) with P the prefix sum of the
    // micro-frozen deviations — so the whole chart is integer running
    // sums over the bounded day table, no fold, no state. mu/sigma
    // come from exact decimal day-count moments. Scale: one date-keyed
    // partial agg; two windows over O(days) rows.
    "q_cusum" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("x"))
        val mo = daily.agg(count(lit(1)).as("nd"), sum($"x").as("sx"),
          sum($"x".cast(d19) * $"x".cast(d19)).as("sxx"))
          .select(
            expr("CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)").as("mu"),
            expr("sqrt(CAST(sxx AS DOUBLE) / CAST(nd AS DOUBLE) - " +
              "(CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)) * " +
              "(CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)))").as("sg"))
        val w = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.crossJoin(broadcast(mo))
          .select($"day", $"x",
            expr("CAST(round((CAST(x AS DOUBLE) - mu - 0.5 * sg) " +
              "* 1000000.0, 0) AS BIGINT)").as("dm"),
            expr("CAST(round(4.0 * sg * 1000000.0, 0) AS BIGINT)")
              .as("hm"))
          .withColumn("p", sum($"dm").over(w))
          .withColumn("s_micro",
            $"p" - least(lit(0L), min($"p").over(w)))
          .select($"day", $"x", $"s_micro",
            ($"s_micro" > $"hm").as("alarm"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |mo AS (
        |  SELECT CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      AS mu,
        |    sqrt(CAST(SUM(CAST(x AS DECIMAL(19,0)) *
        |      CAST(x AS DECIMAL(19,0))) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE) -
        |      (CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) *
        |      (CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)))
        |      AS sg
        |  FROM daily),
        |f AS (
        |  SELECT day, x,
        |    CAST(round((CAST(x AS DOUBLE) - mu - 0.5 * sg)
        |      * 1000000.0, 0) AS BIGINT) AS dm,
        |    CAST(round(4.0 * sg * 1000000.0, 0) AS BIGINT) AS hm
        |  FROM daily, mo),
        |c AS (
        |  SELECT day, x, hm,
        |    CAST(SUM(dm) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS p
        |  FROM f),
        |r AS (
        |  SELECT day, x, hm, p,
        |    LEAST(CAST(0 AS BIGINT), CAST(MIN(p) OVER (ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS mn
        |  FROM c)
        |SELECT day, x, p - mn AS s_micro, p - mn > hm AS alarm
        |FROM r ORDER BY day""".stripMargin),
      "one-sided CUSUM chart via the reflection identity (two integer " +
        "running sums over the bounded day table, no recursion)"),

    // Difference-in-differences — the quasi-experimental estimator for
    // when you CANNOT randomize (a feature shipped to one cohort on a
    // date): treated = odd-id users, post = second half of the
    // observation window, outcome = mean event value; the DiD estimate
    // (m_t1 - m_t0) - (m_c1 - m_c0) removes both the cohort's level
    // difference and the common time trend. All four cell moments are
    // exact decimal conditional sums (the q_welch_t battery doubled),
    // the estimate and its pooled standard error one expression tree.
    // One scan, 1-row reduce.
    "q_did" -> GQuery(
      (s, d) => {
        import s.implicits._
        val base = Tables.load(s, d, "events")
          .select(
            (pmod($"user_id", lit(2L)) === 1L).as("t"),
            (datediff(to_date($"ts"), lit("2024-01-01")) >= 15).as("po"),
            $"value".cast(Fns.D18_6).as("v"))
        def cell(t: Boolean, po: Boolean) = {
          val c = $"t" === t && $"po" === po
          (sum(when(c, 1L).otherwise(0L)),
            sum(when(c, $"v")),
            sum(when(c, $"v" * $"v")))
        }
        val Seq(c00, c01, c10, c11) = Seq((false, false), (false, true),
          (true, false), (true, true)).map { case (t, po) => cell(t, po) }
        base.agg(
          c00._1.as("n00"), c00._2.as("s00"), c00._3.as("q00"),
          c01._1.as("n01"), c01._2.as("s01"), c01._3.as("q01"),
          c10._1.as("n10"), c10._2.as("s10"), c10._3.as("q10"),
          c11._1.as("n11"), c11._2.as("s11"), c11._3.as("q11"))
          .select($"n00", $"n01", $"n10", $"n11",
            expr("CAST(round(((CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)" +
              " - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) - " +
              "(CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) - " +
              "CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE))) " +
              "* 1000000.0, 0) AS BIGINT)").as("did_micro"),
            expr("CAST(round(sqrt(" +
              "(CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) * " +
              "CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) / " +
              "(CAST(n00 - 1 AS DOUBLE) * CAST(n00 AS DOUBLE)) + " +
              "(CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) * " +
              "CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)) / " +
              "(CAST(n01 - 1 AS DOUBLE) * CAST(n01 AS DOUBLE)) + " +
              "(CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) * " +
              "CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) / " +
              "(CAST(n10 - 1 AS DOUBLE) * CAST(n10 AS DOUBLE)) + " +
              "(CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) * " +
              "CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)) / " +
              "(CAST(n11 - 1 AS DOUBLE) * CAST(n11 AS DOUBLE))) " +
              "* 1000000.0, 0) AS BIGINT)").as("se_micro"))
      },
      Some("""WITH b AS (
        |  SELECT user_id % 2 = 1 AS t,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15
        |      AS po,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events),
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN NOT t AND NOT po THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00,
        |    SUM(CASE WHEN NOT t AND NOT po THEN v END) AS s00,
        |    SUM(CASE WHEN NOT t AND NOT po THEN v * v END) AS q00,
        |    CAST(SUM(CASE WHEN NOT t AND po THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    SUM(CASE WHEN NOT t AND po THEN v END) AS s01,
        |    SUM(CASE WHEN NOT t AND po THEN v * v END) AS q01,
        |    CAST(SUM(CASE WHEN t AND NOT po THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    SUM(CASE WHEN t AND NOT po THEN v END) AS s10,
        |    SUM(CASE WHEN t AND NOT po THEN v * v END) AS q10,
        |    CAST(SUM(CASE WHEN t AND po THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    SUM(CASE WHEN t AND po THEN v END) AS s11,
        |    SUM(CASE WHEN t AND po THEN v * v END) AS q11
        |  FROM b)
        |SELECT n00, n01, n10, n11,
        |  CAST(round(((CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)
        |    - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) -
        |    (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) -
        |    CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)))
        |    * 1000000.0, 0) AS BIGINT) AS did_micro,
        |  CAST(round(sqrt(
        |    (CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) *
        |    CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) /
        |    (CAST(n00 - 1 AS DOUBLE) * CAST(n00 AS DOUBLE)) +
        |    (CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) *
        |    CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)) /
        |    (CAST(n01 - 1 AS DOUBLE) * CAST(n01 AS DOUBLE)) +
        |    (CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) *
        |    CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) /
        |    (CAST(n10 - 1 AS DOUBLE) * CAST(n10 AS DOUBLE)) +
        |    (CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) *
        |    CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)) /
        |    (CAST(n11 - 1 AS DOUBLE) * CAST(n11 AS DOUBLE)))
        |    * 1000000.0, 0) AS BIGINT) AS se_micro
        |FROM a""".stripMargin),
      "difference-in-differences estimate + pooled SE from four exact " +
        "decimal cell moments (one scan, 1-row reduce)"),

    // Experiment-readout capstone — the statistics tier's q_eval_funnel:
    // EVERY number an A/B readout reports (Welch t + Satterthwaite df,
    // Cohen's d + Hedges' g, the raw mean difference, and the DiD
    // estimate + SE for the parallel-trends view), from ONE events scan
    // and ONE conditional-agg reduce (18 exact decimal sufficient
    // statistics), unfolded into (metric, value_micro) rows from
    // literal structs. Each metric expression is IDENTICAL to its
    // standalone query's (q_welch_t / q_cohens_d / q_did) — pinned
    // row-equal by ExperimentReportSpec, so the capstone can never
    // drift from the parts. The DuckDB oracle replays the whole
    // composition. Scale: one scan, 1-row reduce, 7-row unfold.
    "q_experiment_report" -> GQuery(
      (s, d) => {
        import s.implicits._
        def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
        def sv(c: Column) = sum(when(c, $"v"))
        def sq(c: Column) = sum(when(c, $"v" * $"v"))
        val g1 = $"et" === "click"
        val g2 = $"et" === "error"
        // no scan filter: the DiD cells cover ALL events (exactly
        // q_did's basis), while the two-sample metrics select their
        // groups in the conditions
        val base = Tables.load(s, d, "events")
          .select($"event_type".as("et"),
            (pmod($"user_id", lit(2L)) === 1L).as("t"),
            (datediff(to_date($"ts"), lit("2024-01-01")) >= 15).as("po"),
            $"value".cast(Fns.D18_6).as("v"))
        def cell(t: Boolean, po: Boolean) = $"t" === t && $"po" === po
        val agg = base.agg(
          cnt(g1).as("n1"), sv(g1).as("s1"), sq(g1).as("q1"),
          cnt(g2).as("n2"), sv(g2).as("s2"), sq(g2).as("q2"),
          cnt(cell(false, false)).as("n00"), sv(cell(false, false)).as("s00"),
          sq(cell(false, false)).as("q00"),
          cnt(cell(false, true)).as("n01"), sv(cell(false, true)).as("s01"),
          sq(cell(false, true)).as("q01"),
          cnt(cell(true, false)).as("n10"), sv(cell(true, false)).as("s10"),
          sq(cell(true, false)).as("q10"),
          cnt(cell(true, true)).as("n11"), sv(cell(true, true)).as("s11"),
          sq(cell(true, true)).as("q11"))
        val mid = agg.select($"n1", $"n2",
          expr("(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - " +
            "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))").as("md"),
          expr("((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
            "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / " +
            "CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)").as("se1"),
          expr("((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * " +
            "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / " +
            "CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE)").as("se2"),
          expr("((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
            "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) + " +
            "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * " +
            "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) / " +
            "CAST(n1 + n2 - 2 AS DOUBLE)").as("sp2"),
          expr("((CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) - " +
            "CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) - " +
            "(CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) - " +
            "CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)))").as("did"),
          expr("sqrt(" +
            "(CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) * " +
            "CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) / " +
            "(CAST(n00 - 1 AS DOUBLE) * CAST(n00 AS DOUBLE)) + " +
            "(CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) * " +
            "CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)) / " +
            "(CAST(n01 - 1 AS DOUBLE) * CAST(n01 AS DOUBLE)) + " +
            "(CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) * " +
            "CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) / " +
            "(CAST(n10 - 1 AS DOUBLE) * CAST(n10 AS DOUBLE)) + " +
            "(CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) * " +
            "CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)) / " +
            "(CAST(n11 - 1 AS DOUBLE) * CAST(n11 AS DOUBLE)))").as("dse"))
        def m(name: String, v: String) =
          struct(lit(name).as("metric"),
            expr(s"CAST(round($v * 1000000.0, 0) AS BIGINT)")
              .as("value_micro"))
        mid.select(explode(array(
            m("cohens_d", "md / sqrt(sp2)"),
            m("did", "did"),
            m("did_se", "dse"),
            m("hedges_g", "md / sqrt(sp2) * (1.0 - 3.0 / " +
              "(4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0))"),
            m("mean_diff", "md"),
            m("welch_df", "(se1 + se2) * (se1 + se2) / " +
              "(se1 * se1 / CAST(n1 - 1 AS DOUBLE) + " +
              "se2 * se2 / CAST(n2 - 1 AS DOUBLE))"),
            m("welch_t", "md / sqrt(se1 + se2)"))).as("r"))
          .select($"r.metric".as("metric"),
            $"r.value_micro".as("value_micro"))
          .orderBy($"metric")
      },
      Some("""WITH b AS (
        |  SELECT event_type AS et, user_id % 2 = 1 AS t,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15
        |      AS po,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events),
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN et = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    SUM(CASE WHEN et = 'click' THEN v END) AS s1,
        |    SUM(CASE WHEN et = 'click' THEN v * v END) AS q1,
        |    CAST(SUM(CASE WHEN et = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    SUM(CASE WHEN et = 'error' THEN v END) AS s2,
        |    SUM(CASE WHEN et = 'error' THEN v * v END) AS q2,
        |    CAST(SUM(CASE WHEN NOT t AND NOT po THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00,
        |    SUM(CASE WHEN NOT t AND NOT po THEN v END) AS s00,
        |    SUM(CASE WHEN NOT t AND NOT po THEN v * v END) AS q00,
        |    CAST(SUM(CASE WHEN NOT t AND po THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    SUM(CASE WHEN NOT t AND po THEN v END) AS s01,
        |    SUM(CASE WHEN NOT t AND po THEN v * v END) AS q01,
        |    CAST(SUM(CASE WHEN t AND NOT po THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    SUM(CASE WHEN t AND NOT po THEN v END) AS s10,
        |    SUM(CASE WHEN t AND NOT po THEN v * v END) AS q10,
        |    CAST(SUM(CASE WHEN t AND po THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    SUM(CASE WHEN t AND po THEN v END) AS s11,
        |    SUM(CASE WHEN t AND po THEN v * v END) AS q11
        |  FROM b),
        |mid AS (
        |  SELECT n1, n2,
        |    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS md,
        |    ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |      CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE) AS se1,
        |    ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) *
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
        |      CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE) AS se2,
        |    ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) +
        |      (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) *
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
        |      CAST(n1 + n2 - 2 AS DOUBLE) AS sp2,
        |    ((CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) -
        |      CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) -
        |      (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) -
        |      CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE))) AS did,
        |    sqrt(
        |      (CAST(q00 AS DOUBLE) - CAST(s00 AS DOUBLE) *
        |      CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) /
        |      (CAST(n00 - 1 AS DOUBLE) * CAST(n00 AS DOUBLE)) +
        |      (CAST(q01 AS DOUBLE) - CAST(s01 AS DOUBLE) *
        |      CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)) /
        |      (CAST(n01 - 1 AS DOUBLE) * CAST(n01 AS DOUBLE)) +
        |      (CAST(q10 AS DOUBLE) - CAST(s10 AS DOUBLE) *
        |      CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) /
        |      (CAST(n10 - 1 AS DOUBLE) * CAST(n10 AS DOUBLE)) +
        |      (CAST(q11 AS DOUBLE) - CAST(s11 AS DOUBLE) *
        |      CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)) /
        |      (CAST(n11 - 1 AS DOUBLE) * CAST(n11 AS DOUBLE))) AS dse
        |  FROM a)
        |SELECT metric, value_micro FROM (
        |  SELECT 'cohens_d' AS metric,
        |    CAST(round(md / sqrt(sp2) * 1000000.0, 0) AS BIGINT)
        |      AS value_micro FROM mid
        |  UNION ALL SELECT 'did',
        |    CAST(round(did * 1000000.0, 0) AS BIGINT) FROM mid
        |  UNION ALL SELECT 'did_se',
        |    CAST(round(dse * 1000000.0, 0) AS BIGINT) FROM mid
        |  UNION ALL SELECT 'hedges_g',
        |    CAST(round(md / sqrt(sp2) * (1.0 - 3.0 /
        |      (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)) * 1000000.0, 0)
        |      AS BIGINT) FROM mid
        |  UNION ALL SELECT 'mean_diff',
        |    CAST(round(md * 1000000.0, 0) AS BIGINT) FROM mid
        |  UNION ALL SELECT 'welch_df',
        |    CAST(round((se1 + se2) * (se1 + se2) /
        |      (se1 * se1 / CAST(n1 - 1 AS DOUBLE) +
        |      se2 * se2 / CAST(n2 - 1 AS DOUBLE)) * 1000000.0, 0)
        |      AS BIGINT) FROM mid
        |  UNION ALL SELECT 'welch_t',
        |    CAST(round(md / sqrt(se1 + se2) * 1000000.0, 0) AS BIGINT)
        |      FROM mid)
        |ORDER BY metric""".stripMargin),
      "experiment-readout capstone: Welch t/df, Cohen's d/Hedges' g, " +
        "mean diff, DiD + SE — one scan, one reduce, 7 metric rows"),

    // Jarque-Bera normality test over l_quantity — the TEST companion
    // to q_skew_moments' descriptive moments (JB = n/6·(S² + K²/4),
    // chi²(2) under H0): quantities live on a 0.01 grid, so q100 =
    // round(q·100) is an exact integer and the four power sums are
    // exact decimals (skewness/kurtosis are scale-invariant, so the
    // ×100 changes nothing). The only floating point is ONE identical
    // final expression over the exact sums in both engines. Shape: one
    // scan, 1-row reduce (5 numbers per partition). jb_micro grows
    // ~linearly with n at fixed shape — BIGINT-safe past 1e12 rows.
    "q_jarque_bera" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d4 = org.apache.spark.sql.types.DecimalType(4, 0)
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        Tables.load(s, d, "lineitem")
          .select(expr("CAST(round(l_quantity * 100, 0) AS BIGINT)")
            .as("q"))
          .agg(count(lit(1)).as("n"), sum($"q").as("s1"),
            sum($"q".cast(d19) * $"q".cast(d19)).as("s2"),
            sum($"q".cast(d4) * $"q".cast(d4) * $"q".cast(d4))
              .as("s3"),
            sum(($"q".cast(d4) * $"q".cast(d4)) *
              ($"q".cast(d4) * $"q".cast(d4))).as("s4"))
          .select($"n",
            expr("CAST(round(" + jbExpr("skew") +
              " * 1000000.0, 0) AS BIGINT)").as("skew_micro"),
            expr("CAST(round(" + jbExpr("exkurt") +
              " * 1000000.0, 0) AS BIGINT)").as("exkurt_micro"),
            expr("CAST(round(CAST(n AS DOUBLE) / 6.0 * (" +
              jbExpr("skew") + " * " + jbExpr("skew") + " + " +
              jbExpr("exkurt") + " * " + jbExpr("exkurt") +
              " / 4.0) * 1000000.0, 0) AS BIGINT)").as("jb_micro"))
      },
      Some(s"""WITH p AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT))
        |      AS BIGINT) AS s1,
        |    SUM(CAST(round(l_quantity * 100, 0) AS DECIMAL(19,0)) *
        |        CAST(round(l_quantity * 100, 0) AS DECIMAL(19,0)))
        |      AS s2,
        |    SUM(CAST(round(l_quantity * 100, 0) AS DECIMAL(4,0)) *
        |        CAST(round(l_quantity * 100, 0) AS DECIMAL(4,0)) *
        |        CAST(round(l_quantity * 100, 0) AS DECIMAL(4,0)))
        |      AS s3,
        |    SUM((CAST(round(l_quantity * 100, 0) AS DECIMAL(4,0)) *
        |         CAST(round(l_quantity * 100, 0) AS DECIMAL(4,0))) *
        |        (CAST(round(l_quantity * 100, 0) AS DECIMAL(4,0)) *
        |         CAST(round(l_quantity * 100, 0) AS DECIMAL(4,0))))
        |      AS s4
        |  FROM lineitem)
        |SELECT n,
        |  CAST(round(${jbExpr("skew")} * 1000000.0, 0) AS BIGINT)
        |    AS skew_micro,
        |  CAST(round(${jbExpr("exkurt")} * 1000000.0, 0) AS BIGINT)
        |    AS exkurt_micro,
        |  CAST(round(CAST(n AS DOUBLE) / 6.0 * (${jbExpr("skew")} *
        |    ${jbExpr("skew")} + ${jbExpr("exkurt")} *
        |    ${jbExpr("exkurt")} / 4.0) * 1000000.0, 0) AS BIGINT)
        |    AS jb_micro
        |FROM p""".stripMargin),
      "Jarque-Bera normality test from exact integer power sums " +
        "(one scan, 1-row reduce, one shared IEEE expression)"),

    // Ljung-Box portmanteau test on the daily event-count series —
    // "is there ANY autocorrelation in the first 7 lags?", the test
    // q_autocorr's per-lag ACF values feed in textbooks: Q = n(n+2)·
    // Σ_{k=1..7} r_k²/(n−k), chi²(7) under H0. Same gap-correct
    // self-join pairing as q_autocorr (never positional lag); products
    // form in DECIMAL so day counts past ~3e9/day cannot overflow; the
    // seven per-lag terms freeze to 9 dp (the q_chi2 recipe) so the
    // 7-row sum is exact and order-free. The 14.0671 significance
    // fence is the frozen chi²(7, 0.95) literal compared in integers.
    "q_ljung_box" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        val nd = daily.agg(count(lit(1)).as("nd"))
        val lags = s.range(1, 8).select($"id".cast("int").as("lag"))
        val pairs = daily.as("a").crossJoin(broadcast(lags))
          .join(daily.as("b"), $"b.day" === date_add($"a.day", $"lag"))
          .select($"lag", $"a.n".as("x"), $"b.n".as("y"))
        val rk = pairs.groupBy($"lag")
          .agg(count(lit(1)).as("k"),
            sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x".cast(d19) * $"y".cast(d19)).as("sxy"),
            sum($"x".cast(d19) * $"x".cast(d19)).as("sxx"),
            sum($"y".cast(d19) * $"y".cast(d19)).as("syy"))
          .crossJoin(broadcast(nd))
          .select($"nd",
            expr("CAST(round(pow((CAST(k AS DECIMAL(19,0)) * sxy - " +
              "CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)))" +
              " / (sqrt(CAST(CAST(k AS DECIMAL(19,0)) * sxx - " +
              "CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) " +
              "AS DOUBLE)) * sqrt(CAST(CAST(k AS DECIMAL(19,0)) * syy" +
              " - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0" +
              ")) AS DOUBLE))), 2) / CAST(nd - lag AS DOUBLE), 9) " +
              "AS DECIMAL(20,9))").as("term"))
        rk.groupBy($"nd")
          .agg(count(lit(1)).as("n_lags"), sum($"term").as("tsum"))
          .select($"nd".as("n_days"), $"n_lags",
            expr("CAST(round(CAST(nd AS DOUBLE) * " +
              "CAST(nd + 2 AS DOUBLE) * CAST(tsum AS DOUBLE) * " +
              "1000000.0, 0) AS BIGINT)").as("q_micro"))
          .withColumn("significant", $"q_micro" > 14067140L)
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM daily),
        |lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
        |p AS (
        |  SELECT l.lag, a.n AS x, b.n AS y
        |  FROM lags l JOIN daily a ON true
        |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
        |    * INTERVAL 1 DAY),
        |s AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS sxy,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |      AS sxx,
        |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS syy
        |  FROM p GROUP BY 1),
        |t AS (
        |  SELECT nd, CAST(round(pow((CAST(k AS DECIMAL(19,0)) * sxy -
        |    CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))) /
        |    (sqrt(CAST(CAST(k AS DECIMAL(19,0)) * sxx -
        |    CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0))
        |    AS DOUBLE)) * sqrt(CAST(CAST(k AS DECIMAL(19,0)) * syy -
        |    CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
        |    AS DOUBLE))), 2) / CAST(nd - lag AS DOUBLE), 9)
        |    AS DECIMAL(20,9)) AS term
        |  FROM s, nd)
        |SELECT nd AS n_days, CAST(COUNT(*) AS BIGINT) AS n_lags,
        |  CAST(round(CAST(nd AS DOUBLE) * CAST(nd + 2 AS DOUBLE) *
        |    CAST(SUM(term) AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS q_micro,
        |  CAST(round(CAST(nd AS DOUBLE) * CAST(nd + 2 AS DOUBLE) *
        |    CAST(SUM(term) AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    > 14067140 AS significant
        |FROM t GROUP BY nd""".stripMargin),
      "Ljung-Box portmanteau test (7 gap-correct lags, 9-dp frozen " +
        "per-lag terms, frozen chi-square fence)"),

    // Page-Hinkley change detector over the daily event series — the
    // third member beside q_cusum (global-mean baseline) and
    // q_changepoint (retrospective scan): PH subtracts the RUNNING
    // mean, so it adapts to slow drift and fires only on abrupt level
    // shifts. m_t = Σ_{i<=t}(x_i − mean_i − δ) with mean_i = cum_i/i;
    // PH_t = m_t − min_{k<=t} m_k, alarm when PH > λ. δ = 0.5σ and
    // λ = 4σ mirror q_cusum's k/h so the two charts are comparable.
    // Each per-day term freezes to micro-units (one IEEE division of
    // exact integers), so the two running aggregates are exact integer
    // windows over the BOUNDED day table (allowlisted) — the same
    // no-recursion dissolution as q_cusum.
    "q_page_hinkley" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("x"))
        val mo = daily.agg(count(lit(1)).as("nd"), sum($"x").as("sx"),
          sum($"x".cast(d19) * $"x".cast(d19)).as("sxx"))
          .select(
            expr("sqrt(CAST(sxx AS DOUBLE) / CAST(nd AS DOUBLE) - " +
              "(CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)) * " +
              "(CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)))").as("sg"))
        val w = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.crossJoin(broadcast(mo))
          .withColumn("cum", sum($"x").over(w))
          .withColumn("t", row_number().over(Window.orderBy($"day")))
          .select($"day", $"x",
            expr("CAST(round((CAST(x AS DOUBLE) - CAST(cum AS DOUBLE)" +
              " / CAST(t AS DOUBLE) - 0.5 * sg) * 1000000.0, 0) " +
              "AS BIGINT)").as("dm"),
            expr("CAST(round(4.0 * sg * 1000000.0, 0) AS BIGINT)")
              .as("hm"))
          .withColumn("m", sum($"dm").over(w))
          .withColumn("ph_micro", $"m" - min($"m").over(w))
          .select($"day", $"x", $"ph_micro",
            ($"ph_micro" > $"hm").as("alarm"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |mo AS (
        |  SELECT sqrt(CAST(SUM(CAST(x AS DECIMAL(19,0)) *
        |      CAST(x AS DECIMAL(19,0))) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE) -
        |      (CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) *
        |      (CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)))
        |      AS sg
        |  FROM daily),
        |c AS (
        |  SELECT day, x, sg,
        |    CAST(SUM(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |  FROM daily, mo),
        |f AS (
        |  SELECT day, x,
        |    CAST(round((CAST(x AS DOUBLE) - CAST(cum AS DOUBLE) /
        |      CAST(t AS DOUBLE) - 0.5 * sg) * 1000000.0, 0) AS BIGINT)
        |      AS dm,
        |    CAST(round(4.0 * sg * 1000000.0, 0) AS BIGINT) AS hm
        |  FROM c),
        |r AS (
        |  SELECT day, x, hm,
        |    CAST(SUM(dm) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS m
        |  FROM f)
        |SELECT day, x,
        |  m - CAST(MIN(m) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS ph_micro,
        |  m - CAST(MIN(m) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) > hm AS alarm
        |FROM r ORDER BY day""".stripMargin),
      "Page-Hinkley chart (running-mean baseline, micro-frozen terms, " +
        "two integer running windows over the bounded day table)"),

    // Mann-Kendall trend test over the weekly-revenue series — the
    // SIGNIFICANCE companion to q_theil_sen's robust slope (the pair is
    // the standard nonparametric trend kit): S = Σ_{i<j} sign(y_j−y_i)
    // over all week pairs, Var(S) with the tie correction, z from the
    // continuity-corrected S. Week pairs are CALENDAR-bounded (the
    // q_theil_sen argument: ~59k pairs at any corpus size); S and
    // 18·Var are exact BIGINTs; z is one IEEE expression. Corpus-scale
    // work is one date-keyed partial agg.
    "q_mann_kendall" -> GQuery(
      (s, d) => {
        import s.implicits._
        val weekly = Tables.load(s, d, "orders")
          .groupBy(date_trunc("week", $"o_orderdate").cast("date")
            .as("wk"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("yc"))
          // week-grain (calendar-bounded) and consumed by both pair
          // sides AND the n/tie moments
        val a = weekly.select($"wk".as("wa"), $"yc".as("ya"))
        val b = weekly.select($"wk".as("wb"), $"yc".as("yb"))
        val sStat = a.join(b, $"wb" > $"wa")
          .agg(coalesce(sum(when($"yb" > $"ya", 1L)
            .when($"yb" < $"ya", -1L).otherwise(0L)), lit(0L)).as("s"))
        // n + tie term folded into ONE reduction (was two 1-row
        // barriers): with t = the week's yc-tie group size via a
        // partitioned window, SUM_groups t(t-1)(2t+5) =
        // SUM_rows (t-1)(2t+5) — identical exact integers, one pass
        val moments = weekly
          .withColumn("mt", count(lit(1)).over(Window.partitionBy($"yc")))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(($"mt" - 1L) * (lit(2L) * $"mt" + 5L)),
              lit(0L)).as("tt"))
        sStat.crossJoin(broadcast(moments))
          .select($"n".as("n_weeks"), $"s".as("s_stat"),
            ($"n" * ($"n" - 1L) * (lit(2L) * $"n" + 5L) - $"tt")
              .as("var18"),
            expr("CAST(round(CASE WHEN s > 0 THEN " +
              "CAST(s - 1 AS DOUBLE) / sqrt(CAST(n * (n - 1) * " +
              "(2 * n + 5) - tt AS DOUBLE) / 18.0) WHEN s < 0 THEN " +
              "CAST(s + 1 AS DOUBLE) / sqrt(CAST(n * (n - 1) * " +
              "(2 * n + 5) - tt AS DOUBLE) / 18.0) ELSE 0.0 END " +
              "* 1000000.0, 0) AS BIGINT)").as("z_micro"))
      },
      Some("""WITH weekly AS (
        |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS yc
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN b.yc > a.yc THEN 1
        |    WHEN b.yc < a.yc THEN -1 ELSE 0 END), 0) AS BIGINT) AS s
        |  FROM weekly a JOIN weekly b ON b.wk > a.wk),
        |nw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM weekly),
        |tg AS (
        |  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
        |    AS BIGINT) AS tt
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM weekly
        |        GROUP BY yc))
        |SELECT n AS n_weeks, s AS s_stat,
        |  n * (n - 1) * (2 * n + 5) - tt AS var18,
        |  CAST(round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) /
        |    sqrt(CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE)
        |    / 18.0) WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) /
        |    sqrt(CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE)
        |    / 18.0) ELSE 0.0 END * 1000000.0, 0) AS BIGINT) AS z_micro
        |FROM p, nw, tg""".stripMargin),
      "Mann-Kendall trend test over calendar-bounded week pairs " +
        "(exact S and 18·Var integers, tie-corrected, one IEEE z)"),

    // Herfindahl-Hirschman concentration index of customer revenue
    // within each nation — the market-concentration number beside
    // q_lorenz/q_gini's inequality curves (HHI > 0.25 = "highly
    // concentrated" in the DOJ convention): HHI = Σ_i share_i² where
    // share_i is customer i's fraction of the nation's revenue. Exact:
    // per-customer revenue in cents (BIGINT), Σx and Σx² as decimals,
    // HHI = Σx²/(Σx)² one IEEE division. Shapes: one custkey-keyed
    // partial agg (the corpus shuffle), one nation-grain rollup, a
    // broadcast name join — no windows, no per-nation sort.
    "q_hhi" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val rev = Tables.load(s, d, "orders")
          .join(Tables.load(s, d, "customer")
            .select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .groupBy($"c_nationkey", $"c_custkey")
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("xc"))
        rev.groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n_cust"), sum($"xc").as("sx"),
            sum($"xc".cast(d19) * $"xc".cast(d19)).as("sxx"))
          .join(broadcast(Tables.load(s, d, "nation")
            .select($"n_nationkey", $"n_name")),
            $"c_nationkey" === $"n_nationkey")
          .select($"n_name", $"n_cust",
            expr("CAST(round(CAST(sxx AS DOUBLE) / " +
              "(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) " +
              "* 1000000.0, 0) AS BIGINT)").as("hhi_micro"))
          .orderBy($"n_name")
      },
      Some("""WITH rev AS (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS xc
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |g AS (
        |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(xc) AS BIGINT) AS sx,
        |    SUM(CAST(xc AS DECIMAL(19,0)) * CAST(xc AS DECIMAL(19,0)))
        |      AS sxx
        |  FROM rev GROUP BY 1)
        |SELECT n_name, n_cust,
        |  CAST(round(CAST(sxx AS DOUBLE) /
        |    (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000.0, 0)
        |    AS BIGINT) AS hhi_micro
        |FROM g JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin),
      "Herfindahl-Hirschman revenue concentration per nation (exact " +
        "cent sums, one corpus shuffle + nation rollup)"),

    // Sample-ratio mismatch check for the A/B assignment every
    // experiment query shares (treated = odd user_id) — the FIRST
    // validity gate a real experimentation platform runs before any
    // readout: a 50/50 split whose realized arm sizes chi-square-fail
    // means the assignment (not the metric) is broken. Counts are
    // exact DISTINCT users per arm; the chi-square GOF against 50/50
    // reduces to (n0−n1)²/(n0+n1), and the 3.8415 (chi²(1, .95))
    // fence compares in EXACT integers — no floating point in the
    // verdict at all. One distinct shuffle, 1-row reduce.
    "q_srm" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        Tables.load(s, d, "events")
          .select(pmod($"user_id", lit(2L)).as("arm"), $"user_id")
          .distinct()
          .agg(sum(when($"arm" === 0L, 1L).otherwise(0L)).as("n0"),
            sum(when($"arm" === 1L, 1L).otherwise(0L)).as("n1"))
          .select($"n0", $"n1",
            expr("CAST(round(CAST(CAST(n0 - n1 AS DECIMAL(19,0)) * " +
              "CAST(n0 - n1 AS DECIMAL(19,0)) AS DOUBLE) / " +
              "CAST(n0 + n1 AS DOUBLE) * 1000000.0, 0) AS BIGINT)")
              .as("chi2_micro"),
            expr("CAST(n0 - n1 AS DECIMAL(19,0)) * " +
              "CAST(n0 - n1 AS DECIMAL(19,0)) * 1000000 > " +
              "CAST(n0 + n1 AS DECIMAL(19,0)) * 3841459")
              .as("srm"))
      },
      Some("""WITH u AS (
        |  SELECT DISTINCT user_id % 2 AS arm, user_id FROM events),
        |c AS (
        |  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1
        |  FROM u)
        |SELECT n0, n1,
        |  CAST(round(CAST(CAST(n0 - n1 AS DECIMAL(19,0)) *
        |    CAST(n0 - n1 AS DECIMAL(19,0)) AS DOUBLE) /
        |    CAST(n0 + n1 AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS chi2_micro,
        |  CAST(n0 - n1 AS DECIMAL(19,0)) *
        |    CAST(n0 - n1 AS DECIMAL(19,0)) * 1000000 >
        |    CAST(n0 + n1 AS DECIMAL(19,0)) * 3841459 AS srm
        |FROM c""".stripMargin),
      "sample-ratio-mismatch gate for the shared A/B assignment " +
        "(exact distinct arm counts, integer chi-square verdict)"),

    // UCB1 bandit scores per event-type arm — the exploration-
    // exploitation readout a serving system computes from exactly the
    // sufficient statistics the experiment tier already stores (pulls
    // + reward sums per arm): score = mean + sqrt(2·ln(N)/n) over
    // rewards min-max-normalized to [0,1] (the UCB1 contract). Rewards
    // freeze to normalized micro-units per row (exact BIGINT sums);
    // ln(N) rounds to 9 dp (the q_log_loss recipe) so the one
    // exploration term is cross-engine identical. One scan + broadcast
    // bounds; the arm table is category-bounded.
    "q_ucb" -> GQuery(
      (s, d) => {
        import s.implicits._
        val ev = Tables.load(s, d, "events").filter($"value".isNotNull)
        val bounds = ev.agg(min($"value").as("mn"), max($"value").as("mx"))
        val arms = ev.crossJoin(broadcast(bounds))
          .select($"event_type",
            expr("CAST(round((value - mn) / (mx - mn) * 1000000.0, 0)" +
              " AS BIGINT)").as("r6"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"r6").as("s6"))
          // arm table (category-bounded, ~5 rows) consumed by the total
          // anchor AND the readout
        val tot = arms.agg(sum($"n").as("nt"))
        arms.crossJoin(broadcast(tot))
          .select($"event_type", $"n",
            expr("CAST(round(CAST(s6 AS DOUBLE) / CAST(n AS DOUBLE), " +
              "0) AS BIGINT)").as("mean_micro"),
            expr("CAST(round(CAST(s6 AS DOUBLE) / CAST(n AS DOUBLE) + " +
              "sqrt(2.0 * round(ln(CAST(nt AS DOUBLE)), 9) / " +
              "CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("ucb_micro"))
          .orderBy($"event_type")
      },
      Some("""WITH ev AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
        |arms AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round((value - mn) / (mx - mn) * 1000000.0,
        |      0) AS BIGINT)) AS BIGINT) AS s6
        |  FROM ev, b GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM arms)
        |SELECT event_type, n,
        |  CAST(round(CAST(s6 AS DOUBLE) / CAST(n AS DOUBLE), 0)
        |    AS BIGINT) AS mean_micro,
        |  CAST(round(CAST(s6 AS DOUBLE) / CAST(n AS DOUBLE) +
        |    sqrt(2.0 * round(ln(CAST(nt AS DOUBLE)), 9) /
        |    CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS ucb_micro
        |FROM arms, t ORDER BY event_type""".stripMargin),
      "UCB1 bandit scores per arm (normalized micro rewards, 9-dp " +
        "frozen ln, category-bounded arm table)"),

    // CUPED variance reduction for the shared A/B readout — THE
    // standard experimentation-platform sensitivity trick (Deng et al.
    // 2013: regress the experiment metric on a pre-period covariate,
    // analyze the residual): per user, x = mean pre-period value,
    // y = mean post-period value (micro-frozen per-user means, the
    // AnomalyStream recipe, so every downstream moment is an exact
    // integer sum); θ = cov(x,y)/var(x) pooled; the adjusted treatment
    // effect is diff_adj = diff_y − θ·diff_x, and the variance
    // reduction equals ρ²(x,y). Users present in only one period are
    // excluded (stated contract — CUPED needs the covariate). Shapes:
    // one user-keyed partial agg (the corpus shuffle), a user-grain
    // conditional-sum reduce — no windows, no per-user sort.
    "q_cuped" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val u = Tables.load(s, d, "events")
          .filter($"value".isNotNull)
          .select(pmod($"user_id", lit(2L)).as("arm"), $"user_id",
            (datediff(to_date($"ts"), lit("2024-01-01")) >= 15)
              .as("po"),
            expr("CAST(round(value * 1000000.0, 0) AS BIGINT)")
              .as("v6"))
          .groupBy($"arm", $"user_id")
          .agg(
            sum(when(!$"po", $"v6")).as("sx"),
            sum(when(!$"po", 1L).otherwise(0L)).as("nx"),
            sum(when($"po", $"v6")).as("sy"),
            sum(when($"po", 1L).otherwise(0L)).as("ny"))
          .filter($"nx" > 0L && $"ny" > 0L)
          .select($"arm",
            expr("CAST(round(CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE)," +
              " 0) AS BIGINT)").as("x6"),
            expr("CAST(round(CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE)," +
              " 0) AS BIGINT)").as("y6"))
        u.agg(count(lit(1)).as("n"),
            sum($"x6").as("sx"), sum($"y6").as("sy"),
            sum($"x6".cast(d19) * $"x6".cast(d19)).as("sxx"),
            sum($"x6".cast(d19) * $"y6".cast(d19)).as("sxy"),
            sum($"y6".cast(d19) * $"y6".cast(d19)).as("syy"),
            sum(when($"arm" === 1L, 1L).otherwise(0L)).as("nt"),
            sum(when($"arm" === 1L, $"x6").otherwise(0L)).as("sxt"),
            sum(when($"arm" === 1L, $"y6").otherwise(0L)).as("syt"))
          .select($"n", $"nt",
            expr(cupedTheta).as("theta_micro"),
            expr("CAST(round(" + cupedDiff("sy", "syt") + " - " +
              cupedThetaD + " * " + cupedDiff("sx", "sxt") +
              ", 0) AS BIGINT)").as("adj_diff_micro"),
            expr("CAST(round(" + cupedDiff("sy", "syt") +
              ", 0) AS BIGINT)").as("raw_diff_micro"),
            expr("CAST(round((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)" +
              " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * " +
              "(CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) - " +
              "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
              "((CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE) - " +
              "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
              "(CAST(syy AS DOUBLE) * CAST(n AS DOUBLE) - " +
              "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) " +
              "* 1000000.0, 0) AS BIGINT)").as("var_reduction_micro"))
      },
      Some(s"""WITH u AS (
        |  SELECT user_id % 2 AS arm, user_id,
        |    CAST(round(CAST(SUM(CASE WHEN NOT po THEN v6 END)
        |      AS DOUBLE) / CAST(SUM(CASE WHEN NOT po THEN 1 ELSE 0
        |      END) AS DOUBLE), 0) AS BIGINT) AS x6,
        |    CAST(round(CAST(SUM(CASE WHEN po THEN v6 END) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN po THEN 1 ELSE 0 END) AS DOUBLE),
        |      0) AS BIGINT) AS y6
        |  FROM (
        |    SELECT user_id, ts,
        |      CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
        |        >= 15 AS po,
        |      CAST(round(value * 1000000.0, 0) AS BIGINT) AS v6
        |    FROM events WHERE value IS NOT NULL)
        |  GROUP BY 1, 2
        |  HAVING SUM(CASE WHEN NOT po THEN 1 ELSE 0 END) > 0
        |     AND SUM(CASE WHEN po THEN 1 ELSE 0 END) > 0),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x6) AS BIGINT) AS sx,
        |    CAST(SUM(y6) AS BIGINT) AS sy,
        |    SUM(CAST(x6 AS DECIMAL(19,0)) * CAST(x6 AS DECIMAL(19,0)))
        |      AS sxx,
        |    SUM(CAST(x6 AS DECIMAL(19,0)) * CAST(y6 AS DECIMAL(19,0)))
        |      AS sxy,
        |    SUM(CAST(y6 AS DECIMAL(19,0)) * CAST(y6 AS DECIMAL(19,0)))
        |      AS syy,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nt,
        |    CAST(SUM(CASE WHEN arm = 1 THEN x6 ELSE 0 END) AS BIGINT)
        |      AS sxt,
        |    CAST(SUM(CASE WHEN arm = 1 THEN y6 ELSE 0 END) AS BIGINT)
        |      AS syt
        |  FROM u)
        |SELECT n, nt,
        |  $cupedTheta AS theta_micro,
        |  CAST(round(${cupedDiff("sy", "syt")} - $cupedThetaD *
        |    ${cupedDiff("sx", "sxt")}, 0) AS BIGINT)
        |    AS adj_diff_micro,
        |  CAST(round(${cupedDiff("sy", "syt")}, 0) AS BIGINT)
        |    AS raw_diff_micro,
        |  CAST(round((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
        |    (CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    ((CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |    (CAST(syy AS DOUBLE) * CAST(n AS DOUBLE) -
        |    CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 1000000.0, 0) AS BIGINT) AS var_reduction_micro
        |FROM m""".stripMargin),
      "CUPED variance-reduced A/B readout (micro-frozen per-user " +
        "period means, exact decimal moments, pooled theta)"),

    // Minimum detectable effect for the shared A/B metric at the
    // observed sample sizes — the power-analysis number every
    // experiment review asks first ("could this test even see a 1%
    // move?"): MDE = (z_{α/2} + z_β)·SE(diff) with the frozen
    // two-sided-5% / 80%-power normal quantiles (2.801586 = 1.959964
    // + 0.841621) and SE from the same exact per-arm moment battery
    // as q_welch_t. One scan, 1-row reduce, one IEEE expression.
    "q_power_mde" -> GQuery(
      (s, d) => {
        import s.implicits._
        val dd = Fns.D18_6
        def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
        def sv(c: Column) = sum(when(c, $"v"))
        def sq(c: Column) = sum(when(c, $"v" * $"v"))
        val t = $"arm" === 1L
        Tables.load(s, d, "events")
          .filter($"value".isNotNull)
          .select(pmod($"user_id", lit(2L)).as("arm"),
            $"value".cast(dd).as("v"))
          .agg(cnt(!t).as("nc"), sv(!t).as("sc"), sq(!t).as("qc"),
            cnt(t).as("nt"), sv(t).as("st"), sq(t).as("qt"))
          .select($"nc", $"nt",
            expr("CAST(round(2.801586 * sqrt(" + mdeVar("c") + " / " +
              "CAST(nc AS DOUBLE) + " + mdeVar("t") +
              " / CAST(nt AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("mde_micro"),
            expr("CAST(round(2.801586 * sqrt(" + mdeVar("c") + " / " +
              "CAST(nc AS DOUBLE) + " + mdeVar("t") +
              " / CAST(nt AS DOUBLE)) / (CAST(sc AS DOUBLE) / " +
              "CAST(nc AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("mde_rel_micro"))
      },
      Some(s"""WITH m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    SUM(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS sc,
        |    SUM(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) END) AS qc,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nt,
        |    SUM(CASE WHEN user_id % 2 = 1
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS st,
        |    SUM(CASE WHEN user_id % 2 = 1
        |      THEN CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) END) AS qt
        |  FROM events WHERE value IS NOT NULL)
        |SELECT nc, nt,
        |  CAST(round(2.801586 * sqrt(${mdeVar("c")} /
        |    CAST(nc AS DOUBLE) + ${mdeVar("t")} /
        |    CAST(nt AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS mde_micro,
        |  CAST(round(2.801586 * sqrt(${mdeVar("c")} /
        |    CAST(nc AS DOUBLE) + ${mdeVar("t")} /
        |    CAST(nt AS DOUBLE)) / (CAST(sc AS DOUBLE) /
        |    CAST(nc AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS mde_rel_micro
        |FROM m""".stripMargin),
      "minimum detectable effect at 5%/80% (frozen normal quantiles, " +
        "exact per-arm moment battery, one scan)"),

    // Maximum drawdown per market segment over the daily revenue curve
    // — the risk primitive every revenue dashboard wants next to the
    // trend slope. Cumulative revenue and its running peak are ONE
    // partitioned window pass (partitioned by segment, ordered by day)
    // whose input is the DAILY rollup: cardinality = segments × days,
    // calendar-bounded, never corpus-bounded — the corpus-scale work is
    // the (segment, day) partial agg that feeds it. The argmax day of
    // the deepest drawdown is the integer-encoded max (dd * 1e5 +
    // (99999 - day_num)) so ties break to the EARLIEST day with exact
    // integer arithmetic in both engines (headroom: dd cents * 1e5
    // stays under 2^63 through ~1e13 cents of cumulative revenue).
    "q_drawdown" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"c_mktsegment").orderBy($"day")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        Tables.load(s, d, "orders")
          .join(Tables.load(s, d, "customer")
            .select($"c_custkey", $"c_mktsegment"),
            $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment", to_date($"o_orderdate").as("day"))
          .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint"))
            .as("rev"))
          .withColumn("cum", sum($"rev").over(w))
          .withColumn("dd", max($"cum").over(w) - $"cum")
          .withColumn("dnum",
            datediff($"day", lit("1992-01-01").cast("date"))
              .cast("bigint"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_days"),
            max($"dd").as("max_dd_cents"),
            max($"dd" * lit(100000L) + (lit(99999L) - $"dnum"))
              .as("enc"))
          .select($"c_mktsegment", $"n_days", $"max_dd_cents",
            date_add(lit("1992-01-01").cast("date"),
              (lit(99999L) - pmod($"enc", lit(100000L))).cast("int"))
              .as("dd_day"))
          .orderBy($"c_mktsegment")
      },
      Some("""WITH daily AS (
        |  SELECT c.c_mktsegment, CAST(o.o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |cur AS (
        |  SELECT c_mktsegment, day,
        |    CAST(datediff('day', DATE '1992-01-01', day) AS BIGINT)
        |      AS dnum,
        |    SUM(rev) OVER (PARTITION BY c_mktsegment ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM daily),
        |dd AS (
        |  SELECT c_mktsegment, dnum,
        |    MAX(cum) OVER (PARTITION BY c_mktsegment ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cum
        |      AS dd
        |  FROM cur)
        |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(MAX(dd) AS BIGINT) AS max_dd_cents,
        |  DATE '1992-01-01' + CAST(99999 -
        |    (MAX(dd * 100000 + (99999 - dnum)) % 100000) AS INTEGER)
        |    AS dd_day
        |FROM dd GROUP BY 1 ORDER BY c_mktsegment""".stripMargin),
      "per-segment maximum drawdown of cumulative daily revenue with " +
        "earliest-peak-to-trough day (exact integer encoding)"),

    // (Augmented-lag-0) Dickey-Fuller unit-root test on the daily
    // revenue series: regress Δr_t on r_{t-1} (with drift), DF stat =
    // γ̂ / se(γ̂). Consecutive-day pairs come from ONE equi-join of the
    // daily rollup to itself on day+1 (key join, no window at all), the
    // five moment sums are exact DECIMAL over integer cents, and the
    // stat is one IEEE expression shared textually with the oracle —
    // the q_rdd recipe. Degenerate series (n < 3, zero variance, or a
    // perfect fit with SSR <= 0) emit NULL via CASE guards (the q_ipw
    // contract). The flag compares the FROZEN micro stat to the frozen
    // 5% critical value (-2.8629 for the drift case), so both engines
    // decide it on identical integers. Scale: day-grain input
    // (calendar-bounded), one 1-row reduce.
    "q_adf" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val daily = Tables.load(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint"))
            .as("r"))
        daily.as("a")
          .join(daily.as("b"),
            date_add(col("a.day"), 1) === col("b.day"))
          .select(col("a.r").as("x"), (col("b.r") - col("a.r")).as("y"))
          .agg(count(lit(1)).as("n"),
            sum($"x".cast(d38)).as("sx"), sum($"y".cast(d38)).as("sy"),
            sum($"x".cast(d19) * $"x".cast(d19)).as("sxx"),
            sum($"x".cast(d19) * $"y".cast(d19)).as("sxy"),
            sum($"y".cast(d19) * $"y".cast(d19)).as("syy"))
          .selectExpr("n",
            s"CASE WHEN $adfGuardE THEN CAST(NULL AS BIGINT) ELSE " +
              s"CAST(round($adfGammaE * 1000000.0, 0) AS BIGINT) END " +
              "AS gamma_micro",
            s"CASE WHEN $adfGuardE OR $adfSsrE <= 0.0 THEN " +
              s"CAST(NULL AS BIGINT) ELSE CAST(round($adfStatE * " +
              "1000000.0, 0) AS BIGINT) END AS df_stat_micro")
          .selectExpr("n", "gamma_micro", "df_stat_micro",
            "CASE WHEN df_stat_micro IS NULL THEN CAST(NULL AS " +
              "BOOLEAN) ELSE df_stat_micro > -2862900 END " +
              "AS unit_root_05")
      },
      Some(s"""WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT a.r AS x, b.r - a.r AS y
        |  FROM daily a JOIN daily b ON a.day + 1 = b.day),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |      AS sxx,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS sxy,
        |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS syy
        |  FROM p),
        |o AS (
        |  SELECT n,
        |    CASE WHEN $adfGuardE THEN CAST(NULL AS BIGINT) ELSE
        |      CAST(round($adfGammaE * 1000000.0, 0) AS BIGINT) END
        |      AS gamma_micro,
        |    CASE WHEN $adfGuardE OR $adfSsrE <= 0.0 THEN
        |      CAST(NULL AS BIGINT) ELSE CAST(round($adfStatE *
        |      1000000.0, 0) AS BIGINT) END AS df_stat_micro
        |  FROM m)
        |SELECT n, gamma_micro, df_stat_micro,
        |  CASE WHEN df_stat_micro IS NULL THEN CAST(NULL AS BOOLEAN)
        |    ELSE df_stat_micro > -2862900 END AS unit_root_05
        |FROM o""".stripMargin),
      "Dickey-Fuller unit-root stat on daily revenue (exact decimal " +
        "moments, frozen critical-value compare)"),

    // Two-sample Cramér–von Mises ω² between the experiment arms —
    // the omnibus distribution-equality test that sees what a rank-sum
    // (q_mannwhitney) misses: equal-median, different-shape arms. On
    // the CENTI-FROZEN value grid the whole statistic is INTEGER until
    // one final division: per-grid-value arm counts, cumulative counts
    // over the grid (a global window BOUNDED by the value domain, ≤
    // ~49k distinct cents — the q_qte/q_auc class, never corpus rows),
    // then T = Σ_v c_v·(A_v·m − B_v·n)² in DECIMAL(38) (headroom to
    // n·m ~ 1e19 pair mass). ω² and the frozen 5% critical compare
    // (0.461) come out micro-frozen. Empty-arm corpora emit NULL via
    // the q_rdd guard.
    "q_cvm" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val grid = Tables.load(s, d, "events")
          .filter($"value".isNotNull)
          .groupBy(expr("CAST(round(value * 100, 0) AS BIGINT)")
            .as("v"))
          .agg(sum(when(pmod($"user_id", lit(2L)) === 0L, 1L)
            .otherwise(0L)).as("a"),
            sum(when(pmod($"user_id", lit(2L)) === 1L, 1L)
              .otherwise(0L)).as("b"))
        val w = org.apache.spark.sql.expressions.Window.orderBy($"v")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        grid
          .withColumn("ca", sum($"a").over(w))
          .withColumn("cb", sum($"b").over(w))
          .agg(sum($"a").as("na"), sum($"b").as("nb"),
            sum(($"a" + $"b").cast(d38) * $"ca".cast(d38) *
              $"ca".cast(d38)).as("scaa"),
            sum(($"a" + $"b").cast(d38) * $"ca".cast(d38) *
              $"cb".cast(d38)).as("scab"),
            sum(($"a" + $"b").cast(d38) * $"cb".cast(d38) *
              $"cb".cast(d38)).as("scbb"))
          .selectExpr("na", "nb",
            s"CASE WHEN na = 0 OR nb = 0 THEN CAST(NULL AS BIGINT) " +
              s"ELSE CAST(round($cvmOmegaE * 1000000.0, 0) AS BIGINT) " +
              "END AS cvm_micro")
          .selectExpr("na", "nb", "cvm_micro",
            "CASE WHEN cvm_micro IS NULL THEN CAST(NULL AS BOOLEAN) " +
              "ELSE cvm_micro > 461000 END AS reject_05")
      },
      Some(s"""WITH g AS (
        |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT a, b,
        |    SUM(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS ca,
        |    SUM(b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cb
        |  FROM g),
        |m AS (
        |  SELECT CAST(SUM(a) AS BIGINT) AS na,
        |    CAST(SUM(b) AS BIGINT) AS nb,
        |    SUM(CAST(a + b AS DECIMAL(38,0)) *
        |      CAST(ca AS DECIMAL(38,0)) * CAST(ca AS DECIMAL(38,0)))
        |      AS scaa,
        |    SUM(CAST(a + b AS DECIMAL(38,0)) *
        |      CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0)))
        |      AS scab,
        |    SUM(CAST(a + b AS DECIMAL(38,0)) *
        |      CAST(cb AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0)))
        |      AS scbb
        |  FROM c),
        |o AS (
        |  SELECT na, nb,
        |    CASE WHEN na = 0 OR nb = 0 THEN CAST(NULL AS BIGINT) ELSE
        |      CAST(round($cvmOmegaE * 1000000.0, 0) AS BIGINT) END
        |      AS cvm_micro
        |  FROM m)
        |SELECT na, nb, cvm_micro,
        |  CASE WHEN cvm_micro IS NULL THEN CAST(NULL AS BOOLEAN)
        |    ELSE cvm_micro > 461000 END AS reject_05
        |FROM o""".stripMargin),
      "two-sample Cramér–von Mises ω² between experiment arms on the " +
        "centi value grid (integer until one division)"),

    // Rank-biased overlap (p = 1/2) between the top-20 revenue part
    // rankings of the two halves of the shipping history — "how much
    // did the bestseller list change?" with top-weighted emphasis,
    // the IR-standard list-comparison metric. p = 1/2 is chosen so
    // every geometric weight 2^-d is a BINARY-EXACT double in both
    // engines (no pow() parity assumption); each depth term is frozen
    // to nano before the 20-term sum, so aggregation order cannot
    // shift the result. Scale shape: per-period top-20 via
    // TakeOrderedAndProject (never a corpus-wide rank window); the
    // row_number that assigns ranks runs on 20 rows post-limit (the
    // allowlisted bounded class); prefix-intersection counts X_d come
    // from a broadcast join of the ≤20 common items against the
    // 20-row depth spine. Exact integer revenue cents break ties by
    // part key identically in both engines.
    "q_rbo" -> GQuery(
      (s, d) => {
        import s.implicits._
        val cut = "1998-01-01"
        def top20(pred: Column) = {
          val t = Tables.load(s, d, "lineitem")
            .filter(pred)
            .groupBy($"l_partkey")
            .agg(sum(round($"l_extendedprice" * 100, 0).cast("bigint"))
              .as("rev"))
            .orderBy($"rev".desc, $"l_partkey")
            .limit(20)
          t.withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy($"rev".desc, $"l_partkey")))
            .select($"l_partkey", $"rk")
        }
        val a = top20($"l_shipdate" < lit(cut).cast("timestamp"))
          .withColumnRenamed("rk", "ra")
        val b = top20($"l_shipdate" >= lit(cut).cast("timestamp"))
          .withColumnRenamed("rk", "rb")
        val common = a.join(b, "l_partkey")
          .select(greatest($"ra", $"rb").as("m"))
        val spine = s.range(1, 21).select($"id".as("dd"))
        val xd = spine.join(broadcast(common), $"m" <= $"dd", "left")
          .groupBy($"dd")
          .agg(sum(when($"m".isNotNull, 1L).otherwise(0L)).as("x"))
        xd.select($"dd", $"x",
          expr("CAST(round(CAST(x AS DOUBLE) / CAST(dd AS DOUBLE) / " +
            "power(2.0, CAST(dd AS DOUBLE)) * 1000000000.0, 0) AS " +
            "BIGINT)").as("term_nano"))
          .agg(max(when($"dd" === 20L, $"x")).as("overlap_at_20"),
            sum($"term_nano").as("rbo20_nano"))
      },
      Some("""WITH pa AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1 ORDER BY rev DESC, l_partkey LIMIT 20),
        |ra AS (SELECT l_partkey,
        |  row_number() OVER (ORDER BY rev DESC, l_partkey) AS ra
        |  FROM pa),
        |pb AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  GROUP BY 1 ORDER BY rev DESC, l_partkey LIMIT 20),
        |rb AS (SELECT l_partkey,
        |  row_number() OVER (ORDER BY rev DESC, l_partkey) AS rb
        |  FROM pb),
        |com AS (
        |  SELECT GREATEST(ra.ra, rb.rb) AS m
        |  FROM ra JOIN rb ON ra.l_partkey = rb.l_partkey),
        |spine AS (SELECT CAST(unnest(generate_series(1, 20)) AS BIGINT)
        |  AS dd),
        |xd AS (
        |  SELECT dd,
        |    CAST(SUM(CASE WHEN m IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM spine LEFT JOIN com ON com.m <= spine.dd
        |  GROUP BY dd)
        |SELECT MAX(CASE WHEN dd = 20 THEN x END) AS overlap_at_20,
        |  CAST(SUM(CAST(round(CAST(x AS DOUBLE) / CAST(dd AS DOUBLE) /
        |    power(2.0, CAST(dd AS DOUBLE)) * 1000000000.0, 0)
        |    AS BIGINT)) AS BIGINT) AS rbo20_nano
        |FROM xd""".stripMargin),
      "rank-biased overlap (p = 1/2, binary-exact weights) between " +
        "the two ship-period top-20 part rankings"),

    // Neyman-optimal allocation of a 1,000-unit sample budget across
    // the market-segment strata: allocation_h ∝ N_h·σ_h — the survey-
    // sampling primitive behind every stratified estimator (allocate
    // where variance AND mass live, not just mass). Per-stratum σ
    // comes from one exact decimal moment battery over acctbal cents
    // (sqrt is correctly-rounded IEEE in both engines); the weights
    // N_h·σ_h are frozen to milli before the cross-strata sum (order-
    // independent), and the final allocation is pure integer floor
    // division of the frozen weights — identical in both engines. The
    // one-row total joins back by broadcast (the scalar-anchor
    // pattern). Degenerate strata (n < 2 or zero variance) carry zero
    // weight with a NULL σ, the q_ipw contract.
    "q_neyman_alloc" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val st = Tables.load(s, d, "customer")
          .select($"c_mktsegment",
            expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").as("xc"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"),
            sum($"xc".cast(d38)).as("sx"),
            sum($"xc".cast(d19) * $"xc".cast(d19)).as("sxx"))
          .selectExpr("c_mktsegment", "n",
            s"CASE WHEN $neymanGuardE THEN CAST(NULL AS BIGINT) " +
              s"ELSE CAST(round($neymanSigmaE * 1000000.0, 0) AS " +
              "BIGINT) END AS sigma_cents_micro",
            s"CASE WHEN $neymanGuardE THEN CAST(0 AS BIGINT) ELSE " +
              s"CAST(round(${dblE("n")} * $neymanSigmaE * 1000.0, 0) " +
              "AS BIGINT) END AS w_milli")
        val tot = st.agg(sum($"w_milli").as("w_tot"))
        st.crossJoin(broadcast(tot))
          .selectExpr("c_mktsegment", "n", "sigma_cents_micro",
            "CASE WHEN w_tot = 0 THEN CAST(NULL AS BIGINT) ELSE " +
              "(1000 * w_milli) div w_tot END AS alloc_of_1000")
          .orderBy($"c_mktsegment")
      },
      Some(s"""WITH st AS (
        |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(xc AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(xc AS DECIMAL(19,0)) * CAST(xc AS DECIMAL(19,0)))
        |      AS sxx
        |  FROM (SELECT c_mktsegment,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS xc
        |    FROM customer)
        |  GROUP BY 1),
        |ws AS (
        |  SELECT c_mktsegment, n,
        |    CASE WHEN $neymanGuardE THEN CAST(NULL AS BIGINT) ELSE
        |      CAST(round($neymanSigmaE * 1000000.0, 0) AS BIGINT) END
        |      AS sigma_cents_micro,
        |    CASE WHEN $neymanGuardE THEN CAST(0 AS BIGINT) ELSE
        |      CAST(round(${dblE("n")} * $neymanSigmaE * 1000.0, 0)
        |      AS BIGINT) END AS w_milli
        |  FROM st),
        |tot AS (SELECT CAST(SUM(w_milli) AS BIGINT) AS w_tot FROM ws)
        |SELECT c_mktsegment, n, sigma_cents_micro,
        |  CASE WHEN w_tot = 0 THEN CAST(NULL AS BIGINT) ELSE
        |    (1000 * w_milli) // w_tot END AS alloc_of_1000
        |FROM ws, tot ORDER BY c_mktsegment""".stripMargin),
      "Neyman-optimal stratified sample allocation across market " +
        "segments (exact moment battery, frozen weights, integer " +
        "floor split)"),

    // Engle-Granger cointegration test between the BUILDING and
    // MACHINERY daily revenue series: do the two segments share a
    // long-run equilibrium? Step 1 fits the static OLS of y on x over
    // the joined day series (exact cents battery); step 2 runs the
    // q_adf Dickey-Fuller machinery on the RESIDUAL series. The one
    // determinism subtlety: residuals are doubles, so each day's
    // residual is FROZEN to integer cents before the second battery —
    // both engines compute the identical IEEE residual from identical
    // exact inputs, so the frozen series matches bit-for-bit and the
    // second-stage sums are exact again (the within-query analogue of
    // the q_pagerank freeze). Day-grain work only; two 1-row reduces.
    // The 5% fence is the Engle-Granger (2-variable, with-constant)
    // critical value −3.34, compared in frozen micro space.
    "q_engle_granger" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        def seg(m: String, nm: String) = Tables.load(s, d, "orders")
          .join(Tables.load(s, d, "customer")
            .select($"c_custkey", $"c_mktsegment"),
            $"o_custkey" === $"c_custkey")
          .filter($"c_mktsegment" === m)
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint"))
            .as(nm))
        val ser = seg("BUILDING", "yv").join(seg("MACHINERY", "xv"),
          "day")
        val m1 = ser.agg(count(lit(1)).as("n"),
          sum($"xv".cast(d38)).as("sx"), sum($"yv".cast(d38)).as("sy"),
          sum($"xv".cast(d19) * $"xv".cast(d19)).as("sxx"),
          sum($"xv".cast(d19) * $"yv".cast(d19)).as("sxy"))
        val resid = ser.crossJoin(broadcast(m1))
          .select($"day",
            expr(s"CASE WHEN $egDenE = 0.0 THEN CAST(0 AS BIGINT) " +
              s"ELSE CAST(round($egResidE, 0) AS BIGINT) END")
              .as("e"))
        val pairs = resid.as("a")
          .join(resid.as("b"), date_add(col("a.day"), 1) === col("b.day"))
          .select(col("a.e").as("x"), (col("b.e") - col("a.e")).as("y"))
        pairs.agg(count(lit(1)).as("n"),
          sum($"x".cast(d38)).as("sx"), sum($"y".cast(d38)).as("sy"),
          sum($"x".cast(d19) * $"x".cast(d19)).as("sxx"),
          sum($"x".cast(d19) * $"y".cast(d19)).as("sxy"),
          sum($"y".cast(d19) * $"y".cast(d19)).as("syy"))
          .selectExpr("n",
            s"CASE WHEN $adfGuardE OR $adfSsrE <= 0.0 THEN " +
              s"CAST(NULL AS BIGINT) ELSE CAST(round($adfStatE * " +
              "1000000.0, 0) AS BIGINT) END AS eg_stat_micro")
          .selectExpr("n", "eg_stat_micro",
            "CASE WHEN eg_stat_micro IS NULL THEN CAST(NULL AS " +
              "BOOLEAN) ELSE eg_stat_micro < -3340000 END " +
              "AS cointegrated_05")
      },
      Some(s"""WITH b AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS yv
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
        |mch AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS xv
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'MACHINERY' GROUP BY 1),
        |ser AS (SELECT b.day, yv, xv FROM b JOIN mch ON b.day = mch.day),
        |m1 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(xv AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(yv AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(xv AS DECIMAL(19,0)) * CAST(xv AS DECIMAL(19,0)))
        |      AS sxx,
        |    SUM(CAST(xv AS DECIMAL(19,0)) * CAST(yv AS DECIMAL(19,0)))
        |      AS sxy
        |  FROM ser),
        |r AS (
        |  SELECT day,
        |    CASE WHEN $egDenE = 0.0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(round($egResidE, 0) AS BIGINT) END AS e
        |  FROM ser, m1),
        |p AS (
        |  SELECT a.e AS x, b.e - a.e AS y
        |  FROM r a JOIN r b ON a.day + 1 = b.day),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |      AS sxx,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS sxy,
        |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS syy
        |  FROM p),
        |o AS (
        |  SELECT n,
        |    CASE WHEN $adfGuardE OR $adfSsrE <= 0.0 THEN
        |      CAST(NULL AS BIGINT) ELSE CAST(round($adfStatE *
        |      1000000.0, 0) AS BIGINT) END AS eg_stat_micro
        |  FROM m)
        |SELECT n, eg_stat_micro,
        |  CASE WHEN eg_stat_micro IS NULL THEN CAST(NULL AS BOOLEAN)
        |    ELSE eg_stat_micro < -3340000 END AS cointegrated_05
        |FROM o""".stripMargin),
      "Engle-Granger cointegration of two segment revenue series " +
        "(frozen residual series, DF machinery on residuals)"),

    // Iterative proportional fitting (raking) of the customer
    // (segment × region) count grid to the ORDER-ACTIVITY margins —
    // the survey-weighting workhorse: adjust a sample's joint table so
    // its margins match known population totals. Two IPF rounds
    // (row-fit then column-fit), each weight FROZEN to micro before
    // the next round touches it (the q_pagerank grid discipline, on a
    // 5×5 grid) — so the unrolled oracle replays the identical
    // integers. All joins are margin-keyed on the bounded grid; the
    // corpus-scale work is the two margin aggregations. A zero
    // current-margin cell keeps weight 0 via the guard (the division
    // would be 0/0).
    "q_raking" -> GQuery(
      (s, d) => {
        import s.implicits._
        val cust = Tables.load(s, d, "customer")
          .join(Tables.load(s, d, "nation"),
            $"c_nationkey" === $"n_nationkey")
          .select($"c_custkey", $"c_mktsegment".as("seg"),
            expr("n_nationkey div 5").as("reg"))
        val grid = cust.groupBy($"seg", $"reg")
          .agg(count(lit(1)).as("n0"))
          .withColumn("w0", $"n0" * lit(1000000L))
        val act = Tables.load(s, d, "orders")
          .join(cust, $"o_custkey" === $"c_custkey")
        val rowm = act.groupBy($"seg").agg(count(lit(1)).as("rm"))
        val colm = act.groupBy($"reg").agg(count(lit(1)).as("cm"))
        val r1 = grid.join(rowm, "seg")
          .withColumn("rs", sum($"w0").over(
            org.apache.spark.sql.expressions.Window.partitionBy($"seg")))
          .withColumn("w1", expr(
            "CASE WHEN rs = 0 THEN CAST(0 AS BIGINT) ELSE " +
              "CAST(round(CAST(w0 AS DOUBLE) * CAST(rm AS DOUBLE) * " +
              "1000000.0 / CAST(rs AS DOUBLE), 0) AS BIGINT) END"))
        val r2 = r1.join(colm, "reg")
          .withColumn("cs", sum($"w1").over(
            org.apache.spark.sql.expressions.Window.partitionBy($"reg")))
          .withColumn("w2", expr(
            "CASE WHEN cs = 0 THEN CAST(0 AS BIGINT) ELSE " +
              "CAST(round(CAST(w1 AS DOUBLE) * CAST(cm AS DOUBLE) * " +
              "1000000.0 / CAST(cs AS DOUBLE), 0) AS BIGINT) END"))
        r2.select($"seg", $"reg", $"n0",
          $"w2".as("weight_micro"))
          .orderBy($"seg", $"reg")
      },
      Some("""WITH cust AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |    n_nationkey // 5 AS reg
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |grid AS (
        |  SELECT seg, reg, CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(COUNT(*) AS BIGINT) * 1000000 AS w0
        |  FROM cust GROUP BY 1, 2),
        |act AS (
        |  SELECT seg, reg FROM orders
        |  JOIN cust ON o_custkey = c_custkey),
        |rowm AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS rm
        |  FROM act GROUP BY 1),
        |colm AS (SELECT reg, CAST(COUNT(*) AS BIGINT) AS cm
        |  FROM act GROUP BY 1),
        |r1 AS (
        |  SELECT grid.*, rm,
        |    CASE WHEN SUM(w0) OVER (PARTITION BY grid.seg) = 0
        |      THEN CAST(0 AS BIGINT) ELSE
        |      CAST(round(CAST(w0 AS DOUBLE) * CAST(rm AS DOUBLE) *
        |        1000000.0 / CAST(SUM(w0) OVER (PARTITION BY grid.seg)
        |        AS DOUBLE), 0) AS BIGINT) END AS w1
        |  FROM grid JOIN rowm ON grid.seg = rowm.seg),
        |r2 AS (
        |  SELECT r1.*, cm,
        |    CASE WHEN SUM(w1) OVER (PARTITION BY r1.reg) = 0
        |      THEN CAST(0 AS BIGINT) ELSE
        |      CAST(round(CAST(w1 AS DOUBLE) * CAST(cm AS DOUBLE) *
        |        1000000.0 / CAST(SUM(w1) OVER (PARTITION BY r1.reg)
        |        AS DOUBLE), 0) AS BIGINT) END AS w2
        |  FROM r1 JOIN colm ON r1.reg = colm.reg)
        |SELECT seg, reg, n0, w2 AS weight_micro
        |FROM r2 ORDER BY seg, reg""".stripMargin),
      "two-round iterative proportional fitting of the segment×region " +
        "grid to order-activity margins (frozen per-round weights)"),

    // Laspeyres / Paasche / Fisher price indexes between the two
    // halves of the shipping history over common parts — the economics
    // primitive for "did prices rise, holding the basket fixed?". Unit
    // prices are revenue/quantity divisions (doubles), so every
    // per-part index TERM (q0·p1 etc.) is frozen to micro before the
    // cross-part sums — order-independent, the house rule. One
    // (part × period) partial agg is the corpus shuffle; the index
    // arithmetic runs on the ≤|parts| joined rows. Fisher = √(L·P)
    // (sqrt is correctly-rounded IEEE). Parts missing a period or
    // with zero quantity drop from the basket (stated contract).
    "q_price_index" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val per = Tables.load(s, d, "lineitem")
          .select($"l_partkey",
            ($"l_shipdate" < lit("1998-01-01").cast("timestamp"))
              .as("pre"),
            $"l_quantity".cast("bigint").as("q"),
            expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
              .as("rev"))
          .groupBy($"l_partkey", $"pre")
          .agg(sum($"q").as("q"), sum($"rev").as("rev"))
        val joined = per.filter($"pre")
          .select($"l_partkey", $"q".as("q0"), $"rev".as("rev0"))
          .join(per.filter(!$"pre")
            .select($"l_partkey", $"q".as("q1"), $"rev".as("rev1")),
            "l_partkey")
          .filter($"q0" > 0L && $"q1" > 0L)
        joined
          .select(
            expr(s"CAST(round($piP1E * CAST(q0 AS DOUBLE), 0) AS " +
              "BIGINT)").as("l_num"),
            expr(s"CAST(round($piP0E * CAST(q0 AS DOUBLE), 0) AS " +
              "BIGINT)").as("l_den"),
            expr(s"CAST(round($piP1E * CAST(q1 AS DOUBLE), 0) AS " +
              "BIGINT)").as("p_num"),
            expr(s"CAST(round($piP0E * CAST(q1 AS DOUBLE), 0) AS " +
              "BIGINT)").as("p_den"))
          .agg(count(lit(1)).as("n_parts"),
            sum($"l_num".cast(d38)).as("ln"),
            sum($"l_den".cast(d38)).as("ld"),
            sum($"p_num".cast(d38)).as("pn"),
            sum($"p_den".cast(d38)).as("pd"))
          .selectExpr("n_parts",
            s"CASE WHEN $piGuardE THEN CAST(NULL AS BIGINT) ELSE " +
              "CAST(round(CAST(ln AS DOUBLE) / CAST(ld AS DOUBLE) * " +
              "1000000.0, 0) AS BIGINT) END AS laspeyres_micro",
            s"CASE WHEN $piGuardE THEN CAST(NULL AS BIGINT) ELSE " +
              "CAST(round(CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE) * " +
              "1000000.0, 0) AS BIGINT) END AS paasche_micro",
            s"CASE WHEN $piGuardE THEN CAST(NULL AS BIGINT) ELSE " +
              "CAST(round(sqrt((CAST(ln AS DOUBLE) / " +
              "CAST(ld AS DOUBLE)) * (CAST(pn AS DOUBLE) / " +
              "CAST(pd AS DOUBLE))) * 1000000.0, 0) AS BIGINT) END " +
              "AS fisher_micro")
      },
      Some(s"""WITH per AS (
        |  SELECT l_partkey,
        |    l_shipdate < TIMESTAMP '1998-01-01' AS pre,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
        |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |j AS (
        |  SELECT a.l_partkey, a.q AS q0, a.rev AS rev0,
        |    b.q AS q1, b.rev AS rev1
        |  FROM per a JOIN per b ON a.l_partkey = b.l_partkey
        |  WHERE a.pre AND NOT b.pre AND a.q > 0 AND b.q > 0),
        |t AS (
        |  SELECT
        |    CAST(round($piP1E * CAST(q0 AS DOUBLE), 0) AS BIGINT)
        |      AS l_num,
        |    CAST(round($piP0E * CAST(q0 AS DOUBLE), 0) AS BIGINT)
        |      AS l_den,
        |    CAST(round($piP1E * CAST(q1 AS DOUBLE), 0) AS BIGINT)
        |      AS p_num,
        |    CAST(round($piP0E * CAST(q1 AS DOUBLE), 0) AS BIGINT)
        |      AS p_den
        |  FROM j),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
        |    SUM(CAST(l_num AS DECIMAL(38,0))) AS ln,
        |    SUM(CAST(l_den AS DECIMAL(38,0))) AS ld,
        |    SUM(CAST(p_num AS DECIMAL(38,0))) AS pn,
        |    SUM(CAST(p_den AS DECIMAL(38,0))) AS pd
        |  FROM t)
        |SELECT n_parts,
        |  CASE WHEN $piGuardE THEN CAST(NULL AS BIGINT) ELSE
        |    CAST(round(CAST(ln AS DOUBLE) / CAST(ld AS DOUBLE) *
        |    1000000.0, 0) AS BIGINT) END AS laspeyres_micro,
        |  CASE WHEN $piGuardE THEN CAST(NULL AS BIGINT) ELSE
        |    CAST(round(CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE) *
        |    1000000.0, 0) AS BIGINT) END AS paasche_micro,
        |  CASE WHEN $piGuardE THEN CAST(NULL AS BIGINT) ELSE
        |    CAST(round(sqrt((CAST(ln AS DOUBLE) / CAST(ld AS DOUBLE))
        |    * (CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE))) * 1000000.0,
        |    0) AS BIGINT) END AS fisher_micro
        |FROM m""".stripMargin),
      "Laspeyres/Paasche/Fisher price indexes across the ship-date " +
        "split (frozen per-part terms, exact basket sums)"),

    // Moran's I spatial autocorrelation of per-nation revenue under
    // the same-region contiguity weighting — "do high-revenue nations
    // cluster within regions?", the spatial-stats primitive the
    // per-group tests cannot express (it is about CROSS-unit
    // covariance under a weight matrix). The whole statistic is EXACT
    // integer arithmetic: deviations are computed in n-scaled units
    // (Dᵢ = n·xᵢ − Σx, so no division ever happens), the block-weight
    // numerator Σ_r[(Σ_r D)² − Σ_r D²] and the denominator Σ D² are
    // exact DECIMAL(38) sums, and n/W is a ratio of exact counts —
    // one IEEE division at the readout. The 25-nation grid keeps all
    // post-aggregation work constant-size; the corpus shuffle is the
    // nation-keyed revenue rollup.
    "q_moran_i" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val nat = Tables.load(s, d, "orders")
          .join(Tables.load(s, d, "customer")
            .select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .groupBy($"c_nationkey".cast("bigint").as("nk"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("x"))
        val tot = nat.agg(count(lit(1)).as("n"),
          sum($"x".cast(d38)).as("sx"))
        val dev = nat.crossJoin(broadcast(tot))
          .select($"n", expr("nk div 5").as("reg"),
            ($"n".cast(d38) * $"x".cast(d38) - $"sx").as("dd"))
        val reg = dev.groupBy($"n", $"reg")
          .agg(count(lit(1)).as("nr"),
            sum($"dd").as("sd"), sum($"dd" * $"dd").as("sdd"))
        reg.groupBy($"n")
          .agg(sum($"nr" * ($"nr" - 1L)).as("w"),
            sum($"sd" * $"sd" - $"sdd").as("num"),
            sum($"sdd").as("den"))
          .selectExpr("n AS n_nations", "w AS w_pairs",
            "CASE WHEN w = 0 OR CAST(den AS DOUBLE) <= 0.0 THEN " +
              "CAST(NULL AS BIGINT) ELSE " +
              "CAST(round(CAST(n AS DOUBLE) / CAST(w AS DOUBLE) * " +
              "CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * " +
              "1000000.0, 0) AS BIGINT) END AS morans_i_micro",
            "CASE WHEN n < 2 THEN CAST(NULL AS BIGINT) ELSE " +
              "CAST(round(-1000000.0 / CAST(n - 1 AS DOUBLE), 0) " +
              "AS BIGINT) END AS expected_micro")
      },
      Some("""WITH nat AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(x AS DECIMAL(38,0))) AS sx FROM nat),
        |dev AS (
        |  SELECT n, nk // 5 AS reg,
        |    CAST(n AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)) - sx
        |      AS dd
        |  FROM nat, tot),
        |reg AS (
        |  SELECT n, reg, CAST(COUNT(*) AS BIGINT) AS nr,
        |    SUM(dd) AS sd, SUM(dd * dd) AS sdd
        |  FROM dev GROUP BY 1, 2),
        |m AS (
        |  SELECT n, CAST(SUM(nr * (nr - 1)) AS BIGINT) AS w,
        |    SUM(sd * sd - sdd) AS num, SUM(sdd) AS den
        |  FROM reg GROUP BY 1)
        |SELECT n AS n_nations, w AS w_pairs,
        |  CASE WHEN w = 0 OR CAST(den AS DOUBLE) <= 0.0 THEN
        |    CAST(NULL AS BIGINT) ELSE
        |    CAST(round(CAST(n AS DOUBLE) / CAST(w AS DOUBLE) *
        |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000.0,
        |    0) AS BIGINT) END AS morans_i_micro,
        |  CASE WHEN n < 2 THEN CAST(NULL AS BIGINT) ELSE
        |    CAST(round(-1000000.0 / CAST(n - 1 AS DOUBLE), 0)
        |    AS BIGINT) END AS expected_micro
        |FROM m""".stripMargin),
      "Moran's I spatial autocorrelation of nation revenue under " +
        "same-region weights (fully integer via n-scaled deviations)"),

    // X̄ control chart over daily order values — the SPC primitive ops
    // dashboards run on every metric: per-day subgroup means against
    // x̄̄ ± 3σ/√n_d limits (variable subgroup sizes), reporting how
    // many days signal and the first signaling day. Everything
    // derives from exact integer cells: the global battery gives x̄̄
    // and σ (sample), each day's comparison is one shared IEEE
    // expression over exact integers — identical in both engines, so
    // even the strict inequality decides identically. One day-grain
    // rollup + a broadcast 1-row battery; the day table is
    // calendar-bounded.
    "q_spc_xbar" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val o = Tables.load(s, d, "orders")
          .select(to_date($"o_orderdate").as("day"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
              .as("y"))
        val daily = o.groupBy($"day")
          .agg(count(lit(1)).as("nd"), sum($"y".cast(d38)).as("sd"))
        val g = o.agg(count(lit(1)).as("n"),
          sum($"y".cast(d38)).as("sy"),
          sum($"y".cast(d19) * $"y".cast(d19)).as("syy"))
        daily.crossJoin(broadcast(g))
          .select($"day",
            expr(s"CASE WHEN $spcGuardE THEN CAST(NULL AS BOOLEAN) " +
              s"ELSE abs($spcMeanDE - $spcGmE) > 3.0 * $spcSigE / " +
              "sqrt(CAST(nd AS DOUBLE)) END").as("ooc"))
          .agg(count(lit(1)).as("n_days"),
            sum(when($"ooc", 1L).otherwise(0L)).as("n_ooc"),
            min(when($"ooc", $"day")).as("first_ooc_day"))
      },
      Some(s"""WITH o AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
        |  FROM orders),
        |daily AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS nd,
        |    SUM(CAST(y AS DECIMAL(38,0))) AS sd
        |  FROM o GROUP BY 1),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS syy
        |  FROM o),
        |t AS (
        |  SELECT day,
        |    CASE WHEN $spcGuardE THEN CAST(NULL AS BOOLEAN) ELSE
        |      abs($spcMeanDE - $spcGmE) > 3.0 * $spcSigE /
        |      sqrt(CAST(nd AS DOUBLE)) END AS ooc
        |  FROM daily, g)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(CASE WHEN ooc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ooc,
        |  MIN(CASE WHEN ooc THEN day END) AS first_ooc_day
        |FROM t""".stripMargin),
      "X-bar control chart over daily order values: per-day 3-sigma " +
        "signals with variable subgroup sizes (exact batteries, one " +
        "shared limit expression)"),
  )

  /** The q_jarque_bera skewness / excess-kurtosis expression over the
    * exact power sums (n, s1..s4) — ONE string shared verbatim by the
    * Spark plan and the DuckDB oracle so the single IEEE expression
    * tree is identical in both engines. m2^1.5 is written as
    * m2·sqrt(m2) (multiply and sqrt are correctly rounded by IEEE 754;
    * pow(x, 1.5) is not guaranteed to be). */
  private def jbExpr(which: String): String = {
    val m1 = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    val m2r = "(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    val m3r = "(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    val m4r = "(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))"
    val cm2 = s"($m2r - $m1 * $m1)"
    which match {
      case "skew" =>
        s"(($m3r - 3.0 * $m1 * $m2r + 2.0 * $m1 * $m1 * $m1) / " +
          s"($cm2 * sqrt($cm2)))"
      case "exkurt" =>
        s"(($m4r - 4.0 * $m1 * $m3r + 6.0 * $m1 * $m1 * $m2r - " +
          s"3.0 * $m1 * $m1 * $m1 * $m1) / ($cm2 * $cm2) - 3.0)"
    }
  }

  /** q_cuped's pooled theta = cov(x,y)/var(x) over the exact decimal
    * user-grain moments — one string shared verbatim by both engines. */
  private def cupedThetaD: String =
    "((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"

  private def cupedTheta: String =
    s"CAST(round($cupedThetaD * 1000000.0, 0) AS BIGINT)"

  /** Treated-minus-control mean difference (micro units) from a total
    * sum `s`, treated sum `st`, total n, treated nt. */
  private def cupedDiff(s: String, st: String): String =
    s"(CAST($st AS DOUBLE) / CAST(nt AS DOUBLE) - " +
      s"CAST($s - $st AS DOUBLE) / CAST(n - nt AS DOUBLE))"

  /** q_power_mde's per-arm sample variance from the exact decimal
    * (n, Σv, Σv²) battery; `a` is the arm suffix ('c' or 't'). */
  private def mdeVar(a: String): String =
    s"((CAST(q$a AS DOUBLE) - CAST(s$a AS DOUBLE) * " +
      s"CAST(s$a AS DOUBLE) / CAST(n$a AS DOUBLE)) / " +
      s"CAST(n$a - 1 AS DOUBLE))"

  /** q_simpsons OLS denominator n*sxx - sx^2 over the moment columns
    * with suffix `sfx` ("g" per-group, "p" pooled). */
  private def simpDenE(sfx: String): String =
    s"(CAST(n$sfx AS DOUBLE) * CAST(sxx$sfx AS DOUBLE) - " +
      s"CAST(sx$sfx AS DOUBLE) * CAST(sx$sfx AS DOUBLE))"

  /** q_simpsons OLS slope (n*sxy - sx*sy) / den, same suffixes. */
  private def simpSlopeE(sfx: String): String =
    s"((CAST(n$sfx AS DOUBLE) * CAST(sxy$sfx AS DOUBLE) - " +
      s"CAST(sx$sfx AS DOUBLE) * CAST(sy$sfx AS DOUBLE)) / " +
      s"${simpDenE(sfx)})"

  /** q_dp_count deterministic Laplace draw (eps = 1) from the odd
    * integer deviate `dev` = 2h+1-1e6, h the md5-derived uniform in
    * [0, 1e6): noise = sign(dev) * (ln 1e6 - ln(1e6 - |dev|)) — the
    * inverse-CDF form with both transcendentals as 9-dp-frozen
    * ln-of-integers (the q_mutual_info rule). */
  private def dpNoiseE: String =
    "((CASE WHEN dev > 0 THEN 1.0 ELSE -1.0 END) * " +
      "(round(ln(1000000.0), 9) - " +
      "round(ln(CAST(1000000 - abs(dev) AS DOUBLE)), 9)))"

  /** Memoized (session, lineitem stamp) value-grain contingency grid for
    * q_kendall_tau: (quantity, discount, count) — ≤ 50 × 11 cells at
    * any corpus size; the localCheckpoint pays the one corpus shuffle
    * once per corpus, not once per construction (the tradeEdges
    * pattern). */
  private def kendallGrid(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Memo(s, "Analytics.kendallGrid", Tables.roots(d, "lineitem")) {
      import s.implicits._
      Tables.load(s, d, "lineitem")
        .groupBy($"l_quantity".as("x"), $"l_discount".as("y"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
    }

  /** Double cast shorthand for the q_adf / q_cvm shared expressions. */
  private def dblE(c: String): String = s"CAST($c AS DOUBLE)"

  /** q_adf centered second moments (per-n form, over the exact decimal
    * battery n/sx/sy/sxx/sxy/syy). */
  private def adfSxxcE: String =
    s"(${dblE("sxx")} - ${dblE("sx")} * ${dblE("sx")} / ${dblE("n")})"
  private def adfSyycE: String =
    s"(${dblE("syy")} - ${dblE("sy")} * ${dblE("sy")} / ${dblE("n")})"
  private def adfSxycE: String =
    s"(${dblE("sxy")} - ${dblE("sx")} * ${dblE("sy")} / ${dblE("n")})"

  /** q_adf degenerate guard: too-short series or zero x-variance. */
  private def adfGuardE: String =
    s"(n < 3 OR (${dblE("n")} * ${dblE("sxx")} - " +
      s"${dblE("sx")} * ${dblE("sx")}) = 0.0)"

  /** q_adf slope γ̂ of Δr on r_lag (with drift). */
  private def adfGammaE: String =
    s"((${dblE("n")} * ${dblE("sxy")} - ${dblE("sx")} * ${dblE("sy")})" +
      s" / (${dblE("n")} * ${dblE("sxx")} - " +
      s"${dblE("sx")} * ${dblE("sx")}))"

  /** q_adf residual sum of squares of the drift regression. */
  private def adfSsrE: String =
    s"($adfSyycE - $adfSxycE * $adfSxycE / $adfSxxcE)"

  /** q_adf t-ratio γ̂ / se(γ̂). */
  private def adfStatE: String =
    s"($adfGammaE / sqrt(($adfSsrE / ${dblE("n - 2")}) / $adfSxxcE))"

  /** q_neyman_alloc degenerate-stratum guard: n < 2 or no variance. */
  private def neymanGuardE: String =
    s"(n < 2 OR (${dblE("n")} * ${dblE("sxx")} - " +
      s"${dblE("sx")} * ${dblE("sx")}) <= 0.0)"

  /** q_neyman_alloc sample σ of acctbal cents from the exact battery. */
  private def neymanSigmaE: String =
    s"sqrt((${dblE("n")} * ${dblE("sxx")} - ${dblE("sx")} * " +
      s"${dblE("sx")}) / (${dblE("n")} * ${dblE("n - 1")}))"

  /** q_engle_granger step-1 OLS denominator n·Sxx − Sx². */
  private def egDenE: String =
    s"(${dblE("n")} * ${dblE("sxx")} - ${dblE("sx")} * ${dblE("sx")})"

  /** q_engle_granger per-day step-1 residual yv − b0 − b1·xv. */
  private def egResidE: String = {
    val b1 = s"((${dblE("n")} * ${dblE("sxy")} - ${dblE("sx")} * " +
      s"${dblE("sy")}) / $egDenE)"
    val b0 = s"((${dblE("sy")} - $b1 * ${dblE("sx")}) / ${dblE("n")})"
    s"(${dblE("yv")} - $b0 - $b1 * ${dblE("xv")})"
  }

  /** q_price_index per-part unit prices (cents, IEEE division). */
  private def piP0E: String =
    s"(${dblE("rev0")} / ${dblE("q0")})"
  private def piP1E: String =
    s"(${dblE("rev1")} / ${dblE("q1")})"

  /** q_price_index degenerate guard: empty basket or zero deflator. */
  private def piGuardE: String =
    "(n_parts = 0 OR ld <= 0 OR pd <= 0)"

  /** q_spc_xbar guard: a variance-free or trivial global battery. */
  private def spcGuardE: String =
    s"(n < 2 OR (${dblE("n")} * ${dblE("syy")} - " +
      s"${dblE("sy")} * ${dblE("sy")}) <= 0.0)"

  /** q_spc_xbar per-day subgroup mean (cents). */
  private def spcMeanDE: String =
    s"(${dblE("sd")} / ${dblE("nd")})"

  /** q_spc_xbar grand mean (cents). */
  private def spcGmE: String =
    s"(${dblE("sy")} / ${dblE("n")})"

  /** q_spc_xbar global sample σ (cents). */
  private def spcSigE: String =
    s"sqrt((${dblE("n")} * ${dblE("syy")} - ${dblE("sy")} * " +
      s"${dblE("sy")}) / (${dblE("n")} * ${dblE("n - 1")}))"

  /** q_cvm ω² = Σ_v c_v (A_v·m − B_v·n)² / (n·m·(n+m)²) over the exact
    * decimal cross-moment battery na/nb/scaa/scab/scbb. */
  private def cvmOmegaE: String =
    s"((${dblE("nb")} * ${dblE("nb")} * ${dblE("scaa")} - " +
      s"2.0 * ${dblE("na")} * ${dblE("nb")} * ${dblE("scab")} + " +
      s"${dblE("na")} * ${dblE("na")} * ${dblE("scbb")}) / " +
      s"(${dblE("na")} * ${dblE("nb")} * ${dblE("na + nb")} * " +
      s"${dblE("na + nb")}))"
}
