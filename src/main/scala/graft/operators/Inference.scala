package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Experimentation-inference depth beyond the point tests the stats tier
  * already carries (q_ab_test, q_welch_t, q_srm, q_cuped, q_power_mde):
  * effect sizes with confidence intervals (odds ratio / relative risk),
  * association strength on contingency grids (Cramér's V), a full
  * Bayesian A/B readout from an exact fixed-grid posterior integration,
  * and always-valid sequential monitoring (mixture SPRT) — the four
  * readouts an experimentation platform serves AFTER the validity gates
  * pass.
  *
  * House determinism rules apply throughout: every transcendental result
  * is frozen at 9 dp before reuse, every accumulated float is frozen to
  * micro/picounits (BIGINT) before summation so cross-engine sums are
  * exact, decimal types stay INTERNAL (OutputSchemaSpec gate), and every
  * multi-row output is totally ordered. */
object Inference {

  /** Per-user conversion panel shared by the 2x2 queries: one row per
    * (arm, user), conv = user fired >= 1 'purchase' event, else 0 (a
    * NULL `event_type` is not a purchase, as in the oracle's CASE). Arm
    * is the house A/B assignment (treated = odd user_id). One user-keyed
    * partial agg — the only corpus shuffle these queries do. */
  private def userConv(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.load(s, d, "events")
      .select(pmod($"user_id", lit(2L)).as("arm"), $"user_id",
        when($"event_type" === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy($"arm", $"user_id").agg(max($"p").as("conv"))
  }

  private val duckUserConv: String =
    """u AS (
      |  SELECT user_id % 2 AS arm, user_id,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS conv
      |  FROM events GROUP BY 1, 2)""".stripMargin

  // Haldane-Anscombe corrected cells (+0.5 each) — the standard fix that
  // keeps the odds ratio and its Wald interval finite when a cell is 0.
  // .5 terms are exact in binary, so both engines see identical doubles.
  private val orE =
    "((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5) / " +
      "((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5)))"
  private val lorE = s"round(ln$orE, 9)"
  private val orSeE =
    "round(sqrt(1.0 / (CAST(a AS DOUBLE) + 0.5) + " +
      "1.0 / (CAST(b AS DOUBLE) + 0.5) + " +
      "1.0 / (CAST(c AS DOUBLE) + 0.5) + " +
      "1.0 / (CAST(d AS DOUBLE) + 0.5)), 9)"
  private val rrE =
    "((CAST(a AS DOUBLE) + 0.5) / (CAST(a AS DOUBLE) + " +
      "CAST(b AS DOUBLE) + 1.0) / ((CAST(c AS DOUBLE) + 0.5) / " +
      "(CAST(c AS DOUBLE) + CAST(d AS DOUBLE) + 1.0)))"

  /** q_cramers_v per-cell chi-square contribution, micro-frozen so the
    * cross-cell sum is an exact BIGINT in both engines (cell order is
    * engine-dependent; float addition is not associative). `obs` is the
    * observed-count expression (engines differ in how they spell the
    * null-fill of empty grid cells). */
  private def chiTermE(obs: String): String = {
    val e = "(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / " +
      "CAST(n AS DOUBLE))"
    s"CAST(round((CAST($obs AS DOUBLE) - $e) * " +
      s"(CAST($obs AS DOUBLE) - $e) / $e * 1000000.0, 0) AS BIGINT)"
  }

  // q_bayes_ab fixed integration grid: 2048 midpoints. Posterior is
  // Beta(1+s, 1+n-s) per arm; the log-density shape (normalizer dropped —
  // it cancels after grid normalization) is frozen at 9 dp, weights at
  // picounits, so the grid CDF is an exact BIGINT running sum.
  private val bayesG = 2048
  private val bayesXE = s"((CAST(i AS DOUBLE) - 0.5) / $bayesG.0)"
  private def bayesLwE(sCol: String, nCol: String): String =
    s"round(CAST($sCol AS DOUBLE) * ln(x) + " +
      s"CAST($nCol - $sCol AS DOUBLE) * ln(1.0 - x), 9)"
  private def bayesW12E(lw: String, mx: String): String =
    s"CAST(round(exp($lw - $mx) * 1000000000000.0, 0) AS BIGINT)"

  // q_msprt per-day log mixture-likelihood-ratio (Johari et al.'s mSPRT
  // with a N(0, tau^2) mixture, tau^2 = the pooled variance g): written
  // once, interpolated into both engines, all inputs exact cumulative
  // integers so the single expression tree sees identical doubles.
  private def msprtLlamE(g: String): String = {
    val mc = "(CAST(sc6 AS DOUBLE) / CAST(nc AS DOUBLE) / 1000000.0)"
    val mt = "(CAST(st6 AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000.0)"
    val v = s"($g * (1.0 / CAST(nc AS DOUBLE) + " +
      "1.0 / CAST(nt AS DOUBLE)))"
    s"(0.5 * ln($v / ($v + $g)) + ($mt - $mc) * ($mt - $mc) * $g / " +
      s"(2.0 * $v * ($v + $g)))"
  }

  /** q_bayes_ab's windowed grid pipeline: max log-weights (full frame) →
    * picounit weights → running CDF + totals, all on one sorted 2048-row
    * partition. */
  private def cum(g: org.apache.spark.sql.DataFrame,
      run: org.apache.spark.sql.expressions.WindowSpec,
      full: org.apache.spark.sql.expressions.WindowSpec)
      : org.apache.spark.sql.DataFrame = {
    import g.sparkSession.implicits._
    g.withColumn("mxc", max($"lwc").over(full))
      .withColumn("mxt", max($"lwt").over(full))
      .select($"i", $"nc", $"sc", $"nt", $"st",
        expr(bayesW12E("lwc", "mxc")).as("w12c"),
        expr(bayesW12E("lwt", "mxt")).as("w12t"))
      .withColumn("cumc", sum($"w12c").over(run))
      .withColumn("zc", sum($"w12c").over(full))
      .withColumn("zt", sum($"w12t").over(full))
  }

  val queries: Seq[(String, GQuery)] = Seq(

    // Odds ratio + relative risk of conversion (>= 1 purchase) for the
    // house A/B assignment, with the Wald 95% CI on the odds ratio —
    // the effect-size readout that accompanies q_ab_test's verdict.
    // Cells are exact distinct-user counts (one user-keyed agg, one
    // 1-row reduce); Haldane-Anscombe +0.5 keeps everything finite and
    // exactly representable. ln/exp results are 9-dp frozen before the
    // micro outputs. Scale: one corpus shuffle at any size.
    "q_odds_ratio" -> GQuery(
      (s, d) => {
        import s.implicits._
        userConv(s, d)
          .agg(
            sum(when($"arm" === 1L && $"conv" === 1L, 1L).otherwise(0L))
              .as("a"),
            sum(when($"arm" === 1L && $"conv" === 0L, 1L).otherwise(0L))
              .as("b"),
            sum(when($"arm" === 0L && $"conv" === 1L, 1L).otherwise(0L))
              .as("c"),
            sum(when($"arm" === 0L && $"conv" === 0L, 1L).otherwise(0L))
              .as("d"))
          .select($"a", $"b", $"c", $"d",
            expr(s"CAST(round($orE * 1000000.0, 0) AS BIGINT)")
              .as("or_micro"),
            expr(s"CAST(round($rrE * 1000000.0, 0) AS BIGINT)")
              .as("rr_micro"),
            expr(s"CAST(round(exp($lorE - 1.959964 * $orSeE) * " +
              "1000000.0, 0) AS BIGINT)").as("ci_lo_micro"),
            expr(s"CAST(round(exp($lorE + 1.959964 * $orSeE) * " +
              "1000000.0, 0) AS BIGINT)").as("ci_hi_micro"))
      },
      Some(s"""WITH $duckUserConv,
        |cells AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM u)
        |SELECT a, b, c, d,
        |  CAST(round($orE * 1000000.0, 0) AS BIGINT) AS or_micro,
        |  CAST(round($rrE * 1000000.0, 0) AS BIGINT) AS rr_micro,
        |  CAST(round(exp($lorE - 1.959964 * $orSeE) * 1000000.0, 0)
        |    AS BIGINT) AS ci_lo_micro,
        |  CAST(round(exp($lorE + 1.959964 * $orSeE) * 1000000.0, 0)
        |    AS BIGINT) AS ci_hi_micro
        |FROM cells""".stripMargin),
      "conversion odds ratio + relative risk with Wald 95% CI " +
        "(Haldane-corrected exact cells, 9-dp frozen ln/exp)"),

    // Cramér's V association strength between order status and order
    // priority — the "is this contingency table structure or noise"
    // readout over a category-bounded grid. The FULL grid (including
    // empty cells, which still contribute their expectation to chi^2)
    // is rebuilt as rows x cols left-join cells; per-cell terms freeze
    // to micro so the grid sum is exact. One grouped agg on orders +
    // three broadcast-sized rollups of it.
    "q_cramers_v" -> GQuery.sql(
      s"""WITH cells AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS pr,
        |    CAST(COUNT(*) AS BIGINT) AS obs
        |  FROM orders GROUP BY 1, 2),
        |rows_ AS (SELECT st, CAST(SUM(obs) AS BIGINT) AS rt
        |  FROM cells GROUP BY 1),
        |cols_ AS (SELECT pr, CAST(SUM(obs) AS BIGINT) AS ct
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT st) AS BIGINT) AS r,
        |  CAST(COUNT(DISTINCT pr) AS BIGINT) AS c FROM cells),
        |grid AS (
        |  SELECT n, r, c, ${chiTermE("COALESCE(cells.obs, 0)")} AS t6
        |  FROM rows_ CROSS JOIN cols_
        |  LEFT JOIN cells USING (st, pr) CROSS JOIN tot)
        |SELECT n, r, c, CAST(SUM(t6) AS BIGINT) AS chi2_micro,
        |  CAST(round(sqrt(CAST(SUM(t6) AS DOUBLE) / 1000000.0 /
        |    (CAST(n AS DOUBLE) * CAST(least(r, c) - 1 AS DOUBLE))) *
        |    1000000.0, 0) AS BIGINT) AS v_micro
        |FROM grid GROUP BY 1, 2, 3""".stripMargin,
      "Cramér's V over the status x priority contingency grid " +
        "(full grid incl. empty cells, micro-frozen chi-square terms)"),

    // Bayesian A/B conversion readout: Beta(1+s, 1+n-s) posteriors per
    // arm, P(treated beats control) by exact fixed-grid integration —
    // 2048 midpoints, 9-dp frozen log-densities, picounit weights, so
    // the grid CDF is an exact integer running sum and the final dot
    // product is deterministic to far below the micro output. The
    // midpoint-rule convention F(x_i) = (cum_i - w_i/2)/Z is stated
    // here and mirrored by the recount spec. Scale: one user-keyed
    // corpus shuffle; everything after is a fixed 2048-row grid.
    "q_bayes_ab" -> GQuery(
      (s, d) => {
        import s.implicits._
        val arms = userConv(s, d).agg(
          sum(when($"arm" === 0L, 1L).otherwise(0L)).as("nc"),
          sum(when($"arm" === 0L, $"conv").otherwise(0L)).as("sc"),
          sum(when($"arm" === 1L, 1L).otherwise(0L)).as("nt"),
          sum(when($"arm" === 1L, $"conv").otherwise(0L)).as("st"))
        val g = s.range(1, bayesG + 1L).select($"id".as("i"))
          .crossJoin(broadcast(arms))
          .select($"i", $"nc", $"sc", $"nt", $"st",
            expr(bayesXE).as("x"))
          .select($"i", $"nc", $"sc", $"nt", $"st",
            expr(bayesLwE("sc", "nc")).as("lwc"),
            expr(bayesLwE("st", "nt")).as("lwt"))
        // One global sort hosts EVERY grid aggregate as a stacked window
        // (max log-weight, running CDF, full-frame totals) — the grid is
        // a single 2048-row partition either way, so folding the scalar
        // aggs into frames removes 6 SinglePartition exchanges that a
        // crossJoin-of-aggs formulation would pay.
        val run = Window.orderBy($"i")
        val full = Window.orderBy($"i")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        cum(g, run, full)
          .select($"nc", $"sc", $"nt", $"st",
            (($"w12t".cast("double")) *
              (lit(2.0) * $"cumc".cast("double") -
                $"w12c".cast("double"))).as("term"),
            $"zc", $"zt")
          .groupBy($"nc", $"sc", $"nt", $"st", $"zc", $"zt")
          .agg(sum($"term").as("num"))
          .select($"nc", $"sc", $"nt", $"st",
            expr("CAST(round(num / (2.0 * CAST(zc AS DOUBLE) * " +
              "CAST(zt AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("p_t_beats_c_micro"),
            expr("CAST(round((1.0 + CAST(sc AS DOUBLE)) / " +
              "(2.0 + CAST(nc AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("mean_c_micro"),
            expr("CAST(round((1.0 + CAST(st AS DOUBLE)) / " +
              "(2.0 + CAST(nt AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("mean_t_micro"))
      },
      Some(s"""WITH $duckUserConv,
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
        |      AS sc,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nt,
        |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
        |      AS st
        |  FROM u),
        |g AS (
        |  SELECT i, nc, sc, nt, st,
        |    ${bayesLwE("sc", "nc")} AS lwc,
        |    ${bayesLwE("st", "nt")} AS lwt
        |  FROM (SELECT unnest(generate_series(1, $bayesG)) AS i) s,
        |    LATERAL (SELECT $bayesXE AS x) xx, a),
        |mx AS (SELECT MAX(lwc) AS mxc, MAX(lwt) AS mxt FROM g),
        |w AS (
        |  SELECT i, nc, sc, nt, st,
        |    ${bayesW12E("lwc", "mxc")} AS w12c,
        |    ${bayesW12E("lwt", "mxt")} AS w12t
        |  FROM g, mx),
        |c AS (
        |  SELECT i, nc, sc, nt, st, w12c, w12t,
        |    CAST(SUM(w12c) OVER (ORDER BY i) AS BIGINT) AS cumc
        |  FROM w),
        |z AS (SELECT CAST(SUM(w12c) AS BIGINT) AS zc,
        |  CAST(SUM(w12t) AS BIGINT) AS zt FROM w),
        |nm AS (
        |  SELECT nc, sc, nt, st,
        |    SUM(CAST(w12t AS DOUBLE) * (2.0 * CAST(cumc AS DOUBLE) -
        |      CAST(w12c AS DOUBLE))) AS num
        |  FROM c GROUP BY 1, 2, 3, 4)
        |SELECT nc, sc, nt, st,
        |  CAST(round(num / (2.0 * CAST(zc AS DOUBLE) *
        |    CAST(zt AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS p_t_beats_c_micro,
        |  CAST(round((1.0 + CAST(sc AS DOUBLE)) /
        |    (2.0 + CAST(nc AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS mean_c_micro,
        |  CAST(round((1.0 + CAST(st AS DOUBLE)) /
        |    (2.0 + CAST(nt AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS mean_t_micro
        |FROM nm, z""".stripMargin),
      "Bayesian A/B: P(treated beats control) by exact 2048-point " +
        "grid integration of Beta posteriors (picounit weights)"),

    // Always-valid sequential monitor: the mixture SPRT (normal mixture,
    // tau^2 = pooled variance) over the cumulative day-by-day A/B value
    // readout — the statistic a platform checks DAILY without inflating
    // false positives the way repeated t-tests do. Cumulative per-arm
    // (n, sum) are exact integer running sums over the bounded day
    // table (arm-partitioned windows); the pooled variance is one
    // corpus-exact moment battery frozen at 9 dp; log Lambda is emitted
    // (micro) so no overflow at any effect size. significant compares
    // against ln(20) = the alpha = 0.05 always-valid fence.
    "q_msprt" -> GQuery.sql(
      s"""WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id % 2 AS arm,
        |    CAST(round(value * 1000000.0, 0) AS BIGINT) AS v6
        |  FROM events WHERE value IS NOT NULL),
        |mom AS (
        |  SELECT round((CAST(SUM(CAST(v6 AS DECIMAL(38,0)) *
        |    CAST(v6 AS DECIMAL(38,0))) AS DOUBLE) / 1e12 -
        |    CAST(SUM(v6) AS DOUBLE) / 1e6 * CAST(SUM(v6) AS DOUBLE) /
        |    1e6 / CAST(COUNT(*) AS DOUBLE)) /
        |    CAST(COUNT(*) - 1 AS DOUBLE), 9) AS g
        |  FROM ev),
        |daily AS (
        |  SELECT day, arm, CAST(COUNT(*) AS BIGINT) AS dn,
        |    CAST(SUM(v6) AS BIGINT) AS ds
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT day, arm,
        |    CAST(SUM(dn) OVER (PARTITION BY arm ORDER BY day)
        |      AS BIGINT) AS cn,
        |    CAST(SUM(ds) OVER (PARTITION BY arm ORDER BY day)
        |      AS BIGINT) AS cs
        |  FROM daily)
        |SELECT c0.day, c0.cn AS nc, c1.cn AS nt,
        |  CAST(round(${msprtLlamE("g")} * 1000000.0, 0) AS BIGINT)
        |    AS log_lambda_micro,
        |  CAST(round(${msprtLlamE("g")} * 1000000.0, 0) AS BIGINT)
        |    > 2995732 AS significant
        |FROM (SELECT day, cn, cs AS sc6 FROM cum WHERE arm = 0) c0
        |JOIN (SELECT day, cn, cs AS st6 FROM cum WHERE arm = 1) c1
        |  USING (day), mom,
        |  LATERAL (SELECT c0.cn AS nc, c1.cn AS nt) nn
        |ORDER BY c0.day""".stripMargin,
      "mixture-SPRT always-valid A/B monitor: per-day log Lambda from " +
        "exact cumulative arm sums, ln(20) fence"),

    // Forecast accuracy scorecard for the seasonal-naive baseline
    // (f_d = revenue 7 days earlier) over the daily order-revenue
    // series: MAPE, SMAPE, and MASE (scaled by the gap-correct naive-1
    // in-sample MAE — the scale-free metric that survives unit
    // changes). Revenue is exact cents; per-day ratio terms freeze to
    // micro before the cross-day sums, so every aggregate is an exact
    // BIGINT. The day table is calendar-bounded (~2.4k rows at any
    // corpus size); eligibility is gap-correct (a day scores only if
    // day-7 traded; the MASE denominator only over consecutive-day
    // pairs). One orders rollup + two bounded self-joins.
    "q_forecast_eval" -> GQuery.sql(
      """WITH rev AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |e7 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n7,
        |    CAST(SUM(abs(a.r - b.r)) AS BIGINT) AS sae,
        |    CAST(SUM(CAST(round(CAST(abs(a.r - b.r) AS DOUBLE) /
        |      CAST(a.r AS DOUBLE) * 1000000.0, 0) AS BIGINT))
        |      AS BIGINT) AS sape,
        |    CAST(SUM(CAST(round(2.0 * CAST(abs(a.r - b.r) AS DOUBLE) /
        |      CAST(a.r + b.r AS DOUBLE) * 1000000.0, 0) AS BIGINT))
        |      AS BIGINT) AS ssm
        |  FROM rev a JOIN rev b ON a.day = b.day + 7),
        |e1 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n1,
        |    CAST(SUM(abs(a.r - b.r)) AS BIGINT) AS sae1
        |  FROM rev a JOIN rev b ON a.day = b.day + 1)
        |SELECT n7,
        |  CAST(round(CAST(sape AS DOUBLE) / CAST(n7 AS DOUBLE), 0)
        |    AS BIGINT) AS mape_micro,
        |  CAST(round(CAST(ssm AS DOUBLE) / CAST(n7 AS DOUBLE), 0)
        |    AS BIGINT) AS smape_micro,
        |  CAST(round(CAST(sae AS DOUBLE) / CAST(n7 AS DOUBLE) /
        |    (CAST(sae1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * 1000000.0, 0)
        |    AS BIGINT) AS mase_micro
        |FROM e7, e1""".stripMargin,
      "MAPE/SMAPE/MASE of the seasonal-naive day-7 revenue forecast " +
        "(exact cents, micro-frozen per-day terms, gap-correct)"),

    // Pinball (quantile) loss of the constant q-quantile forecast at
    // q = 0.1 / 0.5 / 0.9 over daily order revenue — the scoring rule
    // that grades quantile forecasts the way Brier grades probability
    // forecasts (in-sample, so it also VALIDATES the quantile: the
    // q-quantile minimizes expected pinball loss). Forecasts freeze to
    // decicents (exact — interpolated quantiles of cent integers live
    // on a 0.1-cent grid), per-day losses freeze to integer decicents,
    // so all sums are exact. Day table calendar-bounded; one rollup +
    // one broadcast of the 3-row forecast panel.
    "q_pinball" -> GQuery(
      (s, d) => {
        import s.implicits._
        val rev = Tables.load(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("r"))
        val qf = rev
          .agg(expr("percentile(r, array(0.1, 0.5, 0.9))").as("p"))
          .select(expr("stack(3, " +
            "CAST(100000 AS BIGINT), CAST(round(element_at(p, 1) " +
            "* 10.0, 0) AS BIGINT), " +
            "CAST(500000 AS BIGINT), CAST(round(element_at(p, 2) " +
            "* 10.0, 0) AS BIGINT), " +
            "CAST(900000 AS BIGINT), CAST(round(element_at(p, 3) " +
            "* 10.0, 0) AS BIGINT)) AS (q_micro, f1)"))
        rev.crossJoin(broadcast(qf))
          .select($"q_micro", $"f1",
            expr("CAST(round(CAST(q_micro AS DOUBLE) / 1000000.0 * " +
              "CAST(greatest(r * 10 - f1, 0) AS DOUBLE) + " +
              "(1.0 - CAST(q_micro AS DOUBLE) / 1000000.0) * " +
              "CAST(greatest(f1 - r * 10, 0) AS DOUBLE), 0) AS BIGINT)")
              .as("t1"))
          .groupBy($"q_micro", $"f1")
          .agg(count(lit(1)).as("n"), sum($"t1").as("st"))
          .select($"q_micro", $"f1", $"n",
            expr("CAST(round(CAST(st AS DOUBLE) / CAST(n AS DOUBLE), " +
              "0) AS BIGINT)").as("avg_pinball_decicents"))
          .orderBy($"q_micro")
      },
      Some("""WITH rev AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |p AS (SELECT quantile_cont(r, 0.1) AS f10,
        |  quantile_cont(r, 0.5) AS f50,
        |  quantile_cont(r, 0.9) AS f90 FROM rev),
        |qf AS (
        |  SELECT CAST(100000 AS BIGINT) AS q_micro,
        |    CAST(round(f10 * 10.0, 0) AS BIGINT) AS f1 FROM p
        |  UNION ALL SELECT CAST(500000 AS BIGINT),
        |    CAST(round(f50 * 10.0, 0) AS BIGINT) FROM p
        |  UNION ALL SELECT CAST(900000 AS BIGINT),
        |    CAST(round(f90 * 10.0, 0) AS BIGINT) FROM p),
        |j AS (
        |  SELECT q_micro, f1,
        |    CAST(round(CAST(q_micro AS DOUBLE) / 1000000.0 *
        |      CAST(greatest(r * 10 - f1, 0) AS DOUBLE) +
        |      (1.0 - CAST(q_micro AS DOUBLE) / 1000000.0) *
        |      CAST(greatest(f1 - r * 10, 0) AS DOUBLE), 0) AS BIGINT)
        |      AS t1
        |  FROM rev, qf)
        |SELECT q_micro, f1, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(round(CAST(SUM(t1) AS DOUBLE) / CAST(COUNT(*)
        |    AS DOUBLE), 0) AS BIGINT) AS avg_pinball_decicents
        |FROM j GROUP BY 1, 2 ORDER BY q_micro""".stripMargin),
      "pinball loss of the constant 0.1/0.5/0.9-quantile revenue " +
        "forecast (decicent-frozen quantiles and losses, exact sums)"),

    // AR(2) fit by Yule-Walker over the daily event-count series:
    // gap-correct lag-1/lag-2 autocorrelations from exact raw sums
    // (the q_ljung_box pair construction, but with the GLOBAL mean —
    // the YW convention), then phi1 = r1(1-r2)/(1-r1^2),
    // phi2 = (r2-r1^2)/(1-r1^2). r values freeze at 9 dp before the
    // phi arithmetic. Day table bounded; one events rollup + one
    // 2-lag bounded self-join.
    "q_yule_walker" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("x"))
        val tot = daily.agg(count(lit(1)).as("nd"), sum($"x").as("s1"),
          sum($"x".cast(d38) * $"x".cast(d38)).as("s2"))
        val lags = s.range(1, 3).select($"id".cast("int").as("lag"))
        val pairs = daily.as("a").crossJoin(broadcast(lags))
          .join(daily.as("b"), $"b.day" === date_add($"a.day", $"lag"))
          .select($"lag", $"a.x".as("xa"), $"b.x".as("xb"))
          .groupBy($"lag")
          .agg(count(lit(1)).as("nk"), sum($"xa").as("sx"),
            sum($"xb").as("sy"),
            sum($"xa".cast(d38) * $"xb".cast(d38)).as("sxy"))
        val wide = pairs.groupBy()
          .agg(max(when($"lag" === 1, $"nk")).as("n1"),
            max(when($"lag" === 1, $"sx")).as("sx1"),
            max(when($"lag" === 1, $"sy")).as("sy1"),
            max(when($"lag" === 1, $"sxy")).as("sxy1"),
            max(when($"lag" === 2, $"nk")).as("n2"),
            max(when($"lag" === 2, $"sx")).as("sx2"),
            max(when($"lag" === 2, $"sy")).as("sy2"),
            max(when($"lag" === 2, $"sxy")).as("sxy2"))
        wide.crossJoin(broadcast(tot))
          .select($"nd",
            expr(s"round(${ywCovE("1")} / ${ywC0E}, 9)").as("r1"),
            expr(s"round(${ywCovE("2")} / ${ywC0E}, 9)").as("r2"))
          .select($"nd".as("n_days"),
            expr("CAST(round(r1 * 1000000.0, 0) AS BIGINT)")
              .as("r1_micro"),
            expr("CAST(round(r2 * 1000000.0, 0) AS BIGINT)")
              .as("r2_micro"),
            expr("CAST(round(r1 * (1.0 - r2) / (1.0 - r1 * r1) * " +
              "1000000.0, 0) AS BIGINT)").as("phi1_micro"),
            expr("CAST(round((r2 - r1 * r1) / (1.0 - r1 * r1) * " +
              "1000000.0, 0) AS BIGINT)").as("phi2_micro"))
      },
      Some(s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        |  CAST(SUM(x) AS BIGINT) AS s1,
        |  SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |    AS s2 FROM daily),
        |pairs AS (
        |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS nk,
        |    CAST(SUM(a.x) AS BIGINT) AS sx,
        |    CAST(SUM(b.x) AS BIGINT) AS sy,
        |    SUM(CAST(a.x AS DECIMAL(38,0)) * CAST(b.x AS DECIMAL(38,0)))
        |      AS sxy
        |  FROM (SELECT unnest(generate_series(1, 2)) AS lag) l
        |  JOIN daily a ON true
        |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
        |    * INTERVAL 1 DAY
        |  GROUP BY 1),
        |wide AS (
        |  SELECT MAX(CASE WHEN lag = 1 THEN nk END) AS n1,
        |    MAX(CASE WHEN lag = 1 THEN sx END) AS sx1,
        |    MAX(CASE WHEN lag = 1 THEN sy END) AS sy1,
        |    MAX(CASE WHEN lag = 1 THEN sxy END) AS sxy1,
        |    MAX(CASE WHEN lag = 2 THEN nk END) AS n2,
        |    MAX(CASE WHEN lag = 2 THEN sx END) AS sx2,
        |    MAX(CASE WHEN lag = 2 THEN sy END) AS sy2,
        |    MAX(CASE WHEN lag = 2 THEN sxy END) AS sxy2
        |  FROM pairs),
        |rr AS (
        |  SELECT nd, round(${ywCovE("1")} / ${ywC0E}, 9) AS r1,
        |    round(${ywCovE("2")} / ${ywC0E}, 9) AS r2
        |  FROM wide, tot)
        |SELECT nd AS n_days,
        |  CAST(round(r1 * 1000000.0, 0) AS BIGINT) AS r1_micro,
        |  CAST(round(r2 * 1000000.0, 0) AS BIGINT) AS r2_micro,
        |  CAST(round(r1 * (1.0 - r2) / (1.0 - r1 * r1) * 1000000.0, 0)
        |    AS BIGINT) AS phi1_micro,
        |  CAST(round((r2 - r1 * r1) / (1.0 - r1 * r1) * 1000000.0, 0)
        |    AS BIGINT) AS phi2_micro
        |FROM rr""".stripMargin),
      "AR(2) Yule-Walker fit over daily event counts (gap-correct " +
        "lag pairs, exact raw sums, 9-dp frozen autocorrelations)"),

    // Grubbs outlier statistic over the daily event-count series:
    // G = max |x - mean| / sd, with the argmax day. The argmax is
    // decided in EXACT integers (|x*n - s1|, ties to the earliest
    // day) — no float enters until the reported G itself. One rollup,
    // one 1-row moment battery, one top-1 (TakeOrdered, not a global
    // window).
    "q_grubbs" -> GQuery.sql(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        |  CAST(SUM(x) AS BIGINT) AS s1,
        |  SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |    AS s2 FROM daily),
        |top AS (
        |  SELECT day, x, nd, s1, s2, abs(x * nd - s1) AS dev
        |  FROM daily, tot ORDER BY dev DESC, day ASC LIMIT 1)
        |SELECT nd AS n_days, day, x,
        |  CAST(round(CAST(dev AS DOUBLE) / CAST(nd AS DOUBLE) /
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |    CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE)) /
        |    CAST(nd - 1 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS g_micro
        |FROM top""".stripMargin,
      "Grubbs outlier statistic + argmax day over daily event counts " +
        "(exact-integer argmax, frozen moments)"),

    // Discrete periodogram over the daily event-count series: spectral
    // power at candidate periods 2..14 days, reported as the share of
    // total candidate power (micro) with the peak flagged — the
    // "which seasonality does this series actually have" readout
    // behind q_holt_winters' fixed period-7 assumption. Per-term
    // products freeze to micro (9-dp frozen cos/sin times exact day
    // counts), per-period sums are exact decimals; powers normalize by
    // the max before the share so no intermediate exceeds BIGINT at
    // any corpus size. One rollup + a 13x bounded fan-out.
    "q_periodogram" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("x"))
        val m = daily.agg(min($"day").as("d0"))
        val ks = s.range(2, 15).select($"id".cast("int").as("k"))
        val terms = daily.crossJoin(broadcast(m))
          .select(datediff($"day", $"d0").as("t"), $"x")
          .crossJoin(broadcast(ks))
          .select($"k",
            expr(s"CAST(round(CAST(x AS DOUBLE) * ${trig9("cos")} * " +
              "1000000.0, 0) AS BIGINT)").as("a6"),
            expr(s"CAST(round(CAST(x AS DOUBLE) * ${trig9("sin")} * " +
              "1000000.0, 0) AS BIGINT)").as("b6"))
        // The 13-row period grid hosts its own normalizers as stacked
        // full-frame windows (max power, then total relative power) —
        // one bounded sort instead of two scalar-agg round trips.
        val full = Window.orderBy($"k")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val rel = terms.groupBy($"k")
          .agg(sum($"a6".cast(d38)).as("sa"), sum($"b6".cast(d38)).as("sb"))
          .select($"k", expr("CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) " +
            "+ CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)").as("p"))
          .withColumn("mp", max($"p").over(full))
          .select($"k", expr("CAST(round(p / mp * 1000000.0, 0) " +
            "AS BIGINT)").as("p6"))
        rel.withColumn("tp", sum($"p6").over(full))
          .select($"k".as("period"),
            expr("CAST(round(CAST(p6 AS DOUBLE) / CAST(tp AS DOUBLE) " +
              "* 1000000.0, 0) AS BIGINT)").as("share_micro"),
            ($"p6" === 1000000L).as("is_peak"))
          .orderBy($"period")
      },
      Some(s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |m AS (SELECT MIN(day) AS d0 FROM daily),
        |terms AS (
        |  SELECT k,
        |    CAST(round(CAST(x AS DOUBLE) * ${trig9("cos")} *
        |      1000000.0, 0) AS BIGINT) AS a6,
        |    CAST(round(CAST(x AS DOUBLE) * ${trig9("sin")} *
        |      1000000.0, 0) AS BIGINT) AS b6
        |  FROM (SELECT day - d0 AS t, x FROM daily, m) dd,
        |    (SELECT unnest(generate_series(2, 14)) AS k) kk),
        |pk AS (
        |  SELECT k, CAST(SUM(CAST(a6 AS DECIMAL(38,0))) AS DOUBLE)
        |      * CAST(SUM(CAST(a6 AS DECIMAL(38,0))) AS DOUBLE)
        |    + CAST(SUM(CAST(b6 AS DECIMAL(38,0))) AS DOUBLE)
        |      * CAST(SUM(CAST(b6 AS DECIMAL(38,0))) AS DOUBLE) AS p
        |  FROM terms GROUP BY 1),
        |mx AS (SELECT MAX(p) AS mp FROM pk),
        |rel AS (SELECT k, CAST(round(p / mp * 1000000.0, 0) AS BIGINT)
        |  AS p6 FROM pk, mx),
        |tp AS (SELECT CAST(SUM(p6) AS BIGINT) AS tp FROM rel)
        |SELECT k AS period,
        |  CAST(round(CAST(p6 AS DOUBLE) / CAST(tp AS DOUBLE) *
        |    1000000.0, 0) AS BIGINT) AS share_micro,
        |  p6 = 1000000 AS is_peak
        |FROM rel, tp ORDER BY period""".stripMargin),
      "discrete periodogram over daily event counts: power share at " +
        "periods 2-14 days, peak flagged (micro-frozen trig terms)"),

    // Hampel filter over the daily event-count series: a +-3-day
    // rolling median/MAD window flags days where |x - med| exceeds
    // 3 * 1.4826 * MAD — the robust outlier screen that (unlike
    // q_grubbs' mean/sd) one genuine spike cannot mask. Medians of
    // integer counts live on exact quarters (x4) and MADs on exact
    // eighths (x8), so the fence verdict compares INTEGERS —
    // 20000*dev4 > 44478*mad8 — no float anywhere. Two banded
    // self-joins over the calendar-bounded day table.
    "q_hampel" -> GQuery(
      (s, d) => {
        import s.implicits._
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("x"))
        val med = daily.as("a")
          .join(daily.as("b"), $"b.day" >= date_sub($"a.day", 3) &&
            $"b.day" <= date_add($"a.day", 3))
          .groupBy($"a.day".as("day"), $"a.x".as("x"))
          .agg(expr("CAST(round(percentile(b.x, 0.5) * 4.0, 0) " +
            "AS BIGINT)").as("m4"))
        val mad = med.as("c")
          .join(daily.as("b"), $"b.day" >= date_sub($"c.day", 3) &&
            $"b.day" <= date_add($"c.day", 3))
          .groupBy($"c.day".as("day"), $"c.x".as("x"), $"c.m4".as("m4"))
          .agg(expr("CAST(round(percentile(abs(b.x * 4 - c.m4), 0.5) " +
            "* 2.0, 0) AS BIGINT)").as("mad8"))
        mad.select($"day", $"x", $"m4", $"mad8",
          (abs($"x" * 4 - $"m4") * 20000L > $"mad8" * 44478L)
            .as("is_out"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |med AS (
        |  SELECT a.day AS day, a.x AS x,
        |    CAST(round(quantile_cont(b.x, 0.5) * 4.0, 0) AS BIGINT)
        |      AS m4
        |  FROM daily a JOIN daily b
        |    ON b.day BETWEEN a.day - 3 AND a.day + 3
        |  GROUP BY 1, 2),
        |mad AS (
        |  SELECT c.day AS day, c.x AS x, c.m4 AS m4,
        |    CAST(round(quantile_cont(abs(b.x * 4 - c.m4), 0.5) * 2.0,
        |      0) AS BIGINT) AS mad8
        |  FROM med c JOIN daily b
        |    ON b.day BETWEEN c.day - 3 AND c.day + 3
        |  GROUP BY 1, 2, 3)
        |SELECT day, x, m4, mad8,
        |  abs(x * 4 - m4) * 20000 > mad8 * 44478 AS is_out
        |FROM mad ORDER BY day""".stripMargin),
      "Hampel filter over daily event counts (+-3-day rolling median " +
        "/MAD, all-integer fence verdict on exact quarters/eighths)"),

    // Price elasticity of demand per brand: the log-log OLS slope of
    // part-level demand (total lineitem quantity) on part retail price
    // across each brand's parts — the classic cross-sectional demand
    // curve, plus intercept and R^2. Both log transforms freeze to
    // micro-integers per part so every regression moment is an exact
    // integer/decimal sum (the scale factors cancel in the slope and
    // R^2; the intercept is read off in micro directly). Shapes: one
    // part-keyed lineitem rollup (the corpus shuffle), one partkey
    // join, one brand-keyed 25-group reduce — no windows.
    "q_elasticity" -> GQuery.sql(
      s"""WITH qty AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT))
        |      AS BIGINT) AS q100
        |  FROM lineitem GROUP BY 1),
        |pts AS (
        |  SELECT p_brand,
        |    CAST(round(ln(p_retailprice) * 1000000.0, 0) AS BIGINT)
        |      AS u6,
        |    CAST(round(ln(CAST(q100 AS DOUBLE) / 100.0) * 1000000.0,
        |      0) AS BIGINT) AS v6
        |  FROM qty JOIN part ON l_partkey = p_partkey),
        |m AS (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(u6) AS BIGINT) AS su,
        |    CAST(SUM(v6) AS BIGINT) AS sv,
        |    SUM(CAST(u6 AS DECIMAL(38,0)) * CAST(v6 AS DECIMAL(38,0)))
        |      AS suv,
        |    SUM(CAST(u6 AS DECIMAL(38,0)) * CAST(u6 AS DECIMAL(38,0)))
        |      AS suu,
        |    SUM(CAST(v6 AS DECIMAL(38,0)) * CAST(v6 AS DECIMAL(38,0)))
        |      AS svv
        |  FROM pts GROUP BY 1)
        |SELECT p_brand, n AS n_parts,
        |  CAST(round($elastBetaE * 1000000.0, 0) AS BIGINT)
        |    AS beta_micro,
        |  CAST(round((CAST(sv AS DOUBLE) - $elastBetaE *
        |    CAST(su AS DOUBLE)) / CAST(n AS DOUBLE), 0) AS BIGINT)
        |    AS alpha_micro,
        |  CAST(round($elastR2E * 1000000.0, 0) AS BIGINT) AS r2_micro
        |FROM m ORDER BY p_brand""".stripMargin,
      "log-log price elasticity of demand per brand (micro-frozen " +
        "logs, exact regression moments, 25-group reduce)"),

    // Nelson-Aalen cumulative hazard — the estimator-of-record twin to
    // q_kaplan_meier (same per-user duration table, same reverse
    // running at-risk counts): H(t) = sum_{d<=t} deaths_d / at_risk_d,
    // with the Breslow survival exp(-H). Per-day hazard terms freeze
    // at 9 dp so the forward running sum is an exact decimal. Both
    // windows run over the duration-day table, bounded by the
    // observation window's day count (the q_kaplan_meier bound).
    "q_nelson_aalen" -> GQuery(
      (s, d) => {
        import s.implicits._
        val dayIdx = datediff(to_date($"ts"), lit("2024-01-01"))
        val byDayDesc = Window.orderBy($"day".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val byDayAsc = Window.orderBy($"day".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, d, "events")
          .select($"user_id", dayIdx.as("day"),
            ($"event_type" === "purchase" && $"value" > 100.0).as("q"))
          .groupBy($"user_id")
          .agg(min($"day").as("fd"), max($"day").as("ld"),
            min(when($"q", $"day")).as("dd"))
          .select((coalesce($"dd", $"ld") - $"fd").as("day"),
            $"dd".isNotNull.cast("long").as("event"))
          .groupBy($"day")
          .agg(sum($"event").as("deaths"), count(lit(1)).as("cnt"))
          .withColumn("at_risk", sum($"cnt").over(byDayDesc))
          .withColumn("term",
            expr("CAST(round(CAST(deaths AS DOUBLE) / " +
              "CAST(at_risk AS DOUBLE), 9) AS DECIMAL(20,9))"))
          .withColumn("h", sum($"term").over(byDayAsc))
          .select($"day", $"at_risk", $"deaths",
            expr("CAST(round(CAST(h AS DOUBLE) * 1000000.0, 0) " +
              "AS BIGINT)").as("h_micro"),
            expr("CAST(round(exp(-CAST(h AS DOUBLE)) * 1000000.0, 0)" +
              " AS BIGINT)").as("surv_micro"))
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
        |ar AS (
        |  SELECT day, deaths,
        |    CAST(SUM(cnt) OVER (ORDER BY day DESC) AS BIGINT)
        |      AS at_risk
        |  FROM dt),
        |h AS (
        |  SELECT day, at_risk, deaths,
        |    SUM(CAST(round(CAST(deaths AS DOUBLE) /
        |      CAST(at_risk AS DOUBLE), 9) AS DECIMAL(20,9)))
        |      OVER (ORDER BY day ASC) AS h
        |  FROM ar)
        |SELECT day, at_risk, deaths,
        |  CAST(round(CAST(h AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS h_micro,
        |  CAST(round(exp(-CAST(h AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS surv_micro
        |FROM h ORDER BY day""".stripMargin),
      "Nelson-Aalen cumulative hazard + Breslow survival over the " +
        "user-duration table (9-dp frozen hazard terms, exact decimal " +
        "running sum)"),

    // Theil's U2 forecast skill score: RMSE of the seasonal-naive
    // (day-7) revenue forecast relative to RMSE of the naive (day-1)
    // forecast, over days where BOTH references exist (gap-correct,
    // stated) — the one number that says whether the weekly cycle
    // carries real signal (U2 < 1) or the series is a random walk
    // (U2 >= 1). Squared errors are exact decimal integers (cent
    // diffs squared); one rollup + one 3-way bounded day join.
    "q_theil_u" -> GQuery.sql(
      """WITH rev AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT a.r AS r, b7.r AS f7, b1.r AS f1
        |  FROM rev a JOIN rev b7 ON a.day = b7.day + 7
        |  JOIN rev b1 ON a.day = b1.day + 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(r - f7 AS DECIMAL(38,0)) *
        |      CAST(r - f7 AS DECIMAL(38,0))) AS se7,
        |    SUM(CAST(r - f1 AS DECIMAL(38,0)) *
        |      CAST(r - f1 AS DECIMAL(38,0))) AS se1
        |  FROM j)
        |SELECT n,
        |  CAST(round(sqrt(CAST(se7 AS DOUBLE) / CAST(se1 AS DOUBLE)) *
        |    1000000.0, 0) AS BIGINT) AS u2_micro,
        |  CAST(round(sqrt(CAST(se7 AS DOUBLE) / CAST(n AS DOUBLE)), 0)
        |    AS BIGINT) AS rmse7_cents,
        |  CAST(round(sqrt(CAST(se1 AS DOUBLE) / CAST(n AS DOUBLE)), 0)
        |    AS BIGINT) AS rmse1_cents
        |FROM m""".stripMargin,
      "Theil's U2 skill score of the day-7 vs day-1 revenue forecast " +
        "(exact decimal squared errors, gap-correct common days)"),

    // Croston's method for intermittent demand — THE forecasting
    // recipe for sparse series that EWMA/Holt-Winters handle wrong
    // (they decay toward zero between demands): separate exponential
    // smoothing of nonzero demand SIZES and of inter-arrival TIMES,
    // forecast = size / interval. Series: daily BUILDING-segment order
    // counts (genuinely intermittent at small scale, calendar-bounded
    // always). The EWMA recursions are DISSOLVED into closed-form
    // weighted sums over arrival ranks — alpha*(1-alpha)^(m-j) weights
    // frozen at 9 dp, summed as exact decimals (the q_cusum
    // dissolution discipline) — so no sequential state survives into
    // the plan. Init convention (stated): z seeds at the first demand,
    // p at the first observed interval. Requires >= 2 arrivals (else
    // empty output). One orders rollup + bounded-day-table windows.
    "q_croston" -> GQuery(
      (s, d) => {
        import s.implicits._
        val arr = Tables.load(s, d, "orders")
          .join(Tables.load(s, d, "customer")
            .filter($"c_mktsegment" === "BUILDING")
            .select($"c_custkey"), $"o_custkey" === $"c_custkey")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(count(lit(1)).as("x"))
        val w = Window.orderBy($"day")
        val idx = arr
          .withColumn("j", row_number().over(w))
          .withColumn("iv", datediff($"day",
            lag($"day", 1).over(w)).cast("long"))
        val m = idx.agg(max($"j").as("m"))
        idx.crossJoin(broadcast(m))
          .filter($"m" >= 2)
          .select($"m",
            expr(s"CAST(round(${crostonW("1", "x")}, 9) " +
              "AS DECIMAL(20,9))").as("zt"),
            expr(s"CASE WHEN j >= 2 THEN CAST(round(" +
              s"${crostonW("2", "iv")}, 9) AS DECIMAL(20,9)) " +
              "ELSE CAST(0 AS DECIMAL(20,9)) END").as("pt"))
          .groupBy($"m")
          .agg(sum($"zt").as("z"), sum($"pt").as("p"))
          .select($"m".cast("long").as("n_arrivals"),
            expr("CAST(round(CAST(z AS DOUBLE) * 1000000.0, 0) " +
              "AS BIGINT)").as("z_micro"),
            expr("CAST(round(CAST(p AS DOUBLE) * 1000000.0, 0) " +
              "AS BIGINT)").as("p_micro"),
            expr("CAST(round(CAST(z AS DOUBLE) / CAST(p AS DOUBLE) * " +
              "1000000.0, 0) AS BIGINT)").as("forecast_micro"))
      },
      Some(s"""WITH arr AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
        |idx AS (
        |  SELECT day, x,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS j,
        |    CAST(date_diff('day', lag(day) OVER (ORDER BY day), day)
        |      AS BIGINT) AS iv
        |  FROM arr),
        |mm AS (SELECT CAST(MAX(j) AS BIGINT) AS m FROM idx),
        |t AS (
        |  SELECT m,
        |    CAST(round(${crostonW("1", "x")}, 9) AS DECIMAL(20,9))
        |      AS zt,
        |    CASE WHEN j >= 2 THEN CAST(round(${crostonW("2", "iv")},
        |      9) AS DECIMAL(20,9)) ELSE CAST(0 AS DECIMAL(20,9)) END
        |      AS pt
        |  FROM idx, mm WHERE m >= 2),
        |g AS (SELECT m, SUM(zt) AS z, SUM(pt) AS p FROM t GROUP BY 1)
        |SELECT m AS n_arrivals,
        |  CAST(round(CAST(z AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS z_micro,
        |  CAST(round(CAST(p AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS p_micro,
        |  CAST(round(CAST(z AS DOUBLE) / CAST(p AS DOUBLE) *
        |    1000000.0, 0) AS BIGINT) AS forecast_micro
        |FROM g""".stripMargin),
      "Croston intermittent-demand forecast over daily BUILDING-" +
        "segment order counts (dissolved EWMA recursions, 9-dp frozen " +
        "weights, exact decimal sums)"),

    // Cumulative gains / lift curve on the ACTIVITY-SCORE VALUE GRAIN:
    // score users by their total event count, outcome = converted
    // (>$100 purchase, the q_kaplan_meier convention), then for every
    // score threshold report the cumulative population targeted from
    // the top and its conversion lift over the base rate — the
    // campaign-targeting readout behind every "top-decile" claim.
    // Working on the VALUE grain (per-user event counts — bounded by
    // per-user behavior, not corpus size; the q_stump n_chars
    // argument) keeps the running sums on a small table instead of
    // ntile-ing every user through one partition. All counts exact;
    // lift is one IEEE division chain over identical integers.
    "q_gains" -> GQuery(
      (s, d) => {
        import s.implicits._
        val u = Tables.load(s, d, "events")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("score"),
            max(($"event_type" === "purchase" && $"value" > 100.0)
              .cast("long")).as("conv"))
        val g = u.groupBy($"score")
          .agg(count(lit(1)).as("n_users"), sum($"conv").as("n_conv"))
        val byScoreDesc = Window.orderBy($"score".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val full = Window.orderBy($"score".desc)
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)
        g.withColumn("cum_users", sum($"n_users").over(byScoreDesc))
          .withColumn("cum_conv", sum($"n_conv").over(byScoreDesc))
          .withColumn("tu", sum($"n_users").over(full))
          .withColumn("tc", sum($"n_conv").over(full))
          .select($"score", $"n_users", $"cum_users", $"cum_conv",
            expr("CAST(round(CAST(cum_conv AS DOUBLE) / " +
              "CAST(cum_users AS DOUBLE) / (CAST(tc AS DOUBLE) / " +
              "CAST(tu AS DOUBLE)) * 1000000.0, 0) AS BIGINT)")
              .as("lift_micro"))
          .orderBy($"score".desc)
      },
      Some("""WITH u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
        |    MAX(CASE WHEN event_type = 'purchase' AND value > 100.0
        |      THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT score, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(conv) AS BIGINT) AS n_conv
        |  FROM u GROUP BY 1),
        |c AS (
        |  SELECT score, n_users,
        |    CAST(SUM(n_users) OVER (ORDER BY score DESC) AS BIGINT)
        |      AS cum_users,
        |    CAST(SUM(n_conv) OVER (ORDER BY score DESC) AS BIGINT)
        |      AS cum_conv,
        |    CAST(SUM(n_users) OVER () AS BIGINT) AS tu,
        |    CAST(SUM(n_conv) OVER () AS BIGINT) AS tc
        |  FROM g)
        |SELECT score, n_users, cum_users, cum_conv,
        |  CAST(round(CAST(cum_conv AS DOUBLE) /
        |    CAST(cum_users AS DOUBLE) / (CAST(tc AS DOUBLE) /
        |    CAST(tu AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    AS lift_micro
        |FROM c ORDER BY score DESC""".stripMargin),
      "cumulative gains/lift curve on the activity-score value grain " +
        "(exact counts, bounded running sums, one user rollup)"),

    // Anderson-Darling normality test over the daily event-count
    // series — the tail-sensitive complement to q_jarque_bera's
    // moment test (AD weights the CDF ends, exactly where count data
    // departs first). The normal CDF uses the Abramowitz-Stegun
    // 26.2.17 rational tail (|err| < 7.5e-8 — stated approximation,
    // the SAME expression tree in both engines); per-rank terms
    // freeze at 9 dp into an exact decimal sum. The rank window runs
    // over the bounded day table. Reports the n-adjusted A*^2 with
    // the 0.752 (5%, unknown mean/var) fence.
    "q_anderson_darling" -> GQuery.sql(
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS s1,
        |  SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |    AS s2 FROM daily),
        |z1 AS (SELECT day, n, $adZE AS z FROM daily, tot),
        |z2 AS (SELECT day, n, z, abs(z) AS az FROM z1),
        |z3 AS (SELECT day, n, z, $adTailE AS tail FROM z2),
        |z4 AS (
        |  SELECT day, n, z,
        |    CASE WHEN z >= 0.0 THEN ln(1.0 - tail) ELSE ln(tail) END
        |      AS lp,
        |    CASE WHEN z >= 0.0 THEN ln(tail) ELSE ln(1.0 - tail) END
        |      AS lq
        |  FROM z3),
        |z5 AS (
        |  SELECT n,
        |    CAST(round((2.0 * CAST(i AS DOUBLE) - 1.0) * lp +
        |      (2.0 * CAST(n - i AS DOUBLE) + 1.0) * lq, 9)
        |      AS DECIMAL(24,9)) AS t9
        |  FROM (SELECT day, n, lp, lq,
        |    row_number() OVER (ORDER BY z ASC, day ASC) AS i, z
        |    FROM z4)),
        |g AS (SELECT n, SUM(t9) AS tsum FROM z5 GROUP BY 1)
        |SELECT n AS n_days,
        |  CAST(round($adA2E * 1000000.0, 0) AS BIGINT) AS a2_micro,
        |  CAST(round($adA2E * $adCorrE * 1000000.0, 0) AS BIGINT)
        |    AS a2_star_micro,
        |  CAST(round($adA2E * $adCorrE * 1000000.0, 0) AS BIGINT)
        |    > 752000 AS reject
        |FROM g""".stripMargin,
      "Anderson-Darling normality test over daily event counts " +
        "(A&S 26.2.17 normal tail, 9-dp frozen rank terms, n-adjusted " +
        "A* with the 0.752 fence)"),

    // Benjamini-Hochberg FDR control over the per-metric A/B family —
    // the multiple-testing guard every experiment platform needs once
    // it reads out MORE than one metric (five Welch z-tests here, one
    // per event type): sort p ascending, find the largest rank with
    // p <= alpha*rank/m, reject everything at or below it. p-values
    // come from the shared A&S normal tail (9-dp frozen); the BH
    // decision chain runs over the category-bounded metric table.
    "q_bh_fdr" -> GQuery(
      (s, d) => {
        import s.implicits._
        val run = Window.orderBy($"p9".asc, $"event_type".asc)
        val full = Window.orderBy($"p9".asc, $"event_type".asc)
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)
        welchP(s, d)
          .withColumn("rank", row_number().over(run))
          .withColumn("m", count(lit(1)).over(full))
          .withColumn("flag",
            when(expr("CAST(p9 AS DOUBLE) <= 0.05 * " +
              "CAST(rank AS DOUBLE) / CAST(m AS DOUBLE)"), $"rank"))
          .withColumn("k", coalesce(max($"flag").over(full), lit(0)))
          .select($"event_type", $"z_micro",
            expr("CAST(round(CAST(p9 AS DOUBLE) * 1000000.0, 0) " +
              "AS BIGINT)").as("p_micro"),
            $"rank".cast("long").as("rank"),
            ($"rank" <= $"k").as("reject"))
          .orderBy($"rank")
      },
      Some(s"""WITH $welchPCtesE,
        |r AS (
        |  SELECT event_type, z_micro, p9,
        |    CAST(row_number() OVER (ORDER BY p9, event_type)
        |      AS BIGINT) AS rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m
        |  FROM p),
        |k AS (
        |  SELECT COALESCE(MAX(CASE WHEN CAST(p9 AS DOUBLE) <= 0.05 *
        |    CAST(rank AS DOUBLE) / CAST(m AS DOUBLE) THEN rank END),
        |    0) AS k
        |  FROM r)
        |SELECT event_type, z_micro,
        |  CAST(round(CAST(p9 AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS p_micro,
        |  rank, rank <= k.k AS reject
        |FROM r, k ORDER BY rank""".stripMargin),
      "Benjamini-Hochberg FDR over the 5-metric A/B family (Welch z " +
        "per event type, shared A&S tail, bounded decision chain)"),

    // Holm-Bonferroni step-down over the SAME 5-metric Welch battery —
    // the FWER-controlling companion to q_bh_fdr's FDR control (Holm
    // guards "any false rejection", BH guards the false-discovery
    // RATE; a platform reports both). Shares [[welchPCtesE]] verbatim, so
    // the two procedures are guaranteed to disagree only in their
    // decision chains: Holm rejects while p_(i) <= alpha/(m-i+1) and
    // STOPS at the first failure (the step-down monotonicity BH does
    // not have) — expressed as a running failure max over the
    // category-bounded p-value table (<= |event types| rows, the
    // q_bh_fdr allowlist bound). Alpha = 0.05.
    "q_holm" -> GQuery.sql(
      s"""WITH $welchPCtesE,
        |r AS (
        |  SELECT event_type, p9,
        |    CAST(row_number() OVER (ORDER BY p9, event_type)
        |      AS BIGINT) AS rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m
        |  FROM p),
        |f AS (
        |  SELECT event_type, p9, rank, m,
        |    MAX(CASE WHEN CAST(p9 AS DOUBLE) > 0.05 /
        |      CAST(m - rank + 1 AS DOUBLE) THEN 1 ELSE 0 END)
        |      OVER (ORDER BY p9, event_type
        |        ROWS UNBOUNDED PRECEDING) AS anyfail
        |  FROM r)
        |SELECT event_type,
        |  CAST(round(CAST(p9 AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS p_micro,
        |  rank,
        |  CAST(round(0.05 / CAST(m - rank + 1 AS DOUBLE) * 1000000.0,
        |    0) AS BIGINT) AS threshold_micro,
        |  anyfail = 0 AS reject
        |FROM f ORDER BY rank""".stripMargin,
      "Holm-Bonferroni FWER step-down over the shared 5-metric Welch " +
        "battery (running-failure max, stops at the first miss)"),

    // Stratified average treatment effect — the causal-inference
    // counterpart to q_cuped: stratify users by their activity score
    // (the bounded value grain q_gains uses), take the within-stratum
    // treated-minus-control spend difference, and weight by stratum
    // size. Removes the confounding that the NAIVE pooled difference
    // (also reported, for the contrast) absorbs whenever activity
    // correlates with both assignment imbalance and spend. Strata
    // missing an arm are excluded (stated — no counterfactual there).
    // Per-stratum differences freeze to micro; the weighted sum is an
    // exact integer until the final division.
    "q_stratified_ate" -> GQuery(
      (s, d) => {
        import s.implicits._
        val u = Tables.load(s, d, "events")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("score"),
            coalesce(sum(when($"event_type" === "purchase",
              expr("CAST(round(value * 1000000.0, 0) AS BIGINT)"))),
              lit(0L)).as("y6"),
            pmod(first($"user_id"), lit(2L)).as("arm"))
        val strat = u.groupBy($"score")
          .agg(sum(when($"arm" === 0L, 1L).otherwise(0L)).as("nc"),
            sum(when($"arm" === 0L, $"y6").otherwise(0L)).as("syc"),
            sum(when($"arm" === 1L, 1L).otherwise(0L)).as("nt"),
            sum(when($"arm" === 1L, $"y6").otherwise(0L)).as("syt"))
          .filter($"nc" > 0L && $"nt" > 0L)
          .select($"nc", $"nt",
            expr("CAST(round(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)" +
              " - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE), 0) " +
              "AS BIGINT)").as("d6"))
        val naive = u.agg(
          expr("CAST(round(CAST(SUM(CASE WHEN arm = 1 THEN y6 ELSE 0 " +
            "END) AS DOUBLE) / SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 " +
            "END) - CAST(SUM(CASE WHEN arm = 0 THEN y6 ELSE 0 END) " +
            "AS DOUBLE) / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END), " +
            "0) AS BIGINT)").as("naive_micro"))
        strat.agg(count(lit(1)).as("n_strata"),
          sum($"nc" + $"nt").as("n_users_used"),
          expr("CAST(round(CAST(SUM((nc + nt) * d6) AS DOUBLE) / " +
            "CAST(SUM(nc + nt) AS DOUBLE), 0) AS BIGINT)")
            .as("ate_micro"))
          .crossJoin(broadcast(naive))
      },
      Some("""WITH u AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |    CAST(COUNT(*) AS BIGINT) AS score,
        |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN
        |      CAST(round(value * 1000000.0, 0) AS BIGINT) END), 0)
        |      AS BIGINT) AS y6
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT score,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    CAST(SUM(CASE WHEN arm = 0 THEN y6 ELSE 0 END) AS BIGINT)
        |      AS syc,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nt,
        |    CAST(SUM(CASE WHEN arm = 1 THEN y6 ELSE 0 END) AS BIGINT)
        |      AS syt
        |  FROM u GROUP BY 1),
        |used AS (
        |  SELECT nc, nt,
        |    CAST(round(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) -
        |      CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE), 0) AS BIGINT)
        |      AS d6
        |  FROM st WHERE nc > 0 AND nt > 0),
        |nv AS (
        |  SELECT CAST(round(CAST(SUM(CASE WHEN arm = 1 THEN y6 ELSE 0
        |    END) AS DOUBLE) / SUM(CASE WHEN arm = 1 THEN 1 ELSE 0
        |    END) - CAST(SUM(CASE WHEN arm = 0 THEN y6 ELSE 0 END)
        |    AS DOUBLE) / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS naive_micro
        |  FROM u)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |  CAST(SUM(nc + nt) AS BIGINT) AS n_users_used,
        |  CAST(round(CAST(SUM((nc + nt) * d6) AS DOUBLE) /
        |    CAST(SUM(nc + nt) AS DOUBLE), 0) AS BIGINT) AS ate_micro,
        |  naive_micro
        |FROM used, nv
        |GROUP BY naive_micro""".stripMargin),
      "stratified ATE on the activity-score grain vs the naive pooled " +
        "difference (micro-frozen stratum effects, exact weights)"),

    // TOST equivalence test — the A/B readout for "prove this change
    // does NOT move the metric" (rollout safety gates, infra swaps):
    // two one-sided Welch z-tests against the +-delta margin (5% of
    // the control mean, 9-dp frozen); equivalent iff BOTH one-sided
    // p-values clear alpha = 0.05. Superiority tests (q_ab_test)
    // cannot answer this — failing to find a difference is not
    // evidence of equivalence. One scan, one 1-row reduce, shared
    // A&S tails.
    "q_tost" -> GQuery.sql(
      s"""WITH w AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS nc,
        |    SUM(CASE WHEN arm = 0 THEN v6d END) AS sc,
        |    SUM(CASE WHEN arm = 0 THEN v6d * v6d END) AS qc,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS nt,
        |    SUM(CASE WHEN arm = 1 THEN v6d END) AS st,
        |    SUM(CASE WHEN arm = 1 THEN v6d * v6d END) AS qt
        |  FROM (SELECT user_id % 2 AS arm,
        |      CAST(CAST(round(value * 1000000.0, 0) AS BIGINT)
        |        AS DECIMAL(38,0)) AS v6d
        |    FROM events WHERE value IS NOT NULL)),
        |s1 AS (SELECT $tostDiffE AS diff, $tostDeltaE AS dl,
        |  $welchSeE AS se FROM w),
        |s2 AS (SELECT diff, dl, se, (diff + dl) / se AS zlo,
        |  (diff - dl) / se AS zhi FROM s1),
        |s3 AS (SELECT diff, dl, se, zlo, zhi, abs(zlo) AS azlo,
        |  abs(zhi) AS azhi FROM s2),
        |s4 AS (
        |  SELECT diff, dl, se,
        |    CASE WHEN zlo >= 0.0 THEN ${gaussTail("azlo")}
        |      ELSE 1.0 - ${gaussTail("azlo")} END AS p1,
        |    CASE WHEN zhi >= 0.0 THEN 1.0 - ${gaussTail("azhi")}
        |      ELSE ${gaussTail("azhi")} END AS p2
        |  FROM s3)
        |SELECT
        |  CAST(round(diff * 1000000.0, 0) AS BIGINT) AS diff_micro,
        |  CAST(round(dl * 1000000.0, 0) AS BIGINT) AS delta_micro,
        |  CAST(round(se * 1000000.0, 0) AS BIGINT) AS se_micro,
        |  CAST(round(greatest(p1, p2) * 1000000.0, 0) AS BIGINT)
        |    AS p_tost_micro,
        |  p1 <= 0.05 AND p2 <= 0.05 AS equivalent
        |FROM s4""".stripMargin,
      "TOST equivalence gate at a 5%-of-control margin (two one-sided " +
        "Welch z-tests, shared A&S tails, frozen margin)"),

    // Split-conformal prediction interval for the seasonal-naive
    // day-7 revenue forecast: calibrate the 95th percentile of
    // absolute residuals on the FIRST HALF of eligible days (split at
    // the median eligible day — a data-derived, order-free cutoff),
    // then report empirical coverage of forecast +- q95 on the second
    // half — the distribution-free uncertainty wrapper (Vovk;  Lei et
    // al.) that turns ANY point forecast into calibrated intervals.
    // Finite-sample guarantee says test coverage >~ 95% regardless of
    // the forecast's quality. Residuals are exact cents; the quantile
    // interpolates on the bounded calibration-day table; coverage is
    // an exact count ratio.
    "q_conformal" -> GQuery(
      (s, d) => {
        import s.implicits._
        conformalReadout(Tables.load(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("r")))
      },
      Some("""WITH rev AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |resid AS (
        |  SELECT a.day AS day, abs(a.r - b.r) AS ae
        |  FROM rev a JOIN rev b ON a.day = b.day + 7),
        |cut AS (
        |  SELECT CAST(round(quantile_cont(
        |    CAST(date_diff('day', DATE '1970-01-01', day) AS INT),
        |    0.5), 0) AS INT) AS cutd
        |  FROM resid),
        |tg AS (
        |  SELECT day, ae,
        |    CAST(date_diff('day', DATE '1970-01-01', day) AS INT)
        |      <= cutd AS cal
        |  FROM resid, cut),
        |q AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
        |    CAST(round(quantile_cont(ae, 0.95) * 10.0, 0) AS BIGINT)
        |      AS q1
        |  FROM tg WHERE cal)
        |SELECT n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
        |  q1 // 10 AS q95_cents,
        |  CAST(round(CAST(SUM(CASE WHEN ae * 10 <= q1 THEN 1 ELSE 0
        |    END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1000000.0,
        |    0) AS BIGINT) AS coverage_micro
        |FROM tg, q WHERE NOT cal GROUP BY n_cal, q1""".stripMargin),
      "split-conformal 95% interval for the day-7 revenue forecast " +
        "(exact-cent residual quantile on the calibration half, " +
        "exact coverage count on the test half)"),

    // Group-sequential monitoring with the O'Brien-Fleming BOUNDARY
    // SHAPE — the frequentist peeking guard beside q_msprt's mixture
    // martingale: per day, the cumulative Welch-style z against the
    // boundary 1.959964/sqrt(t_k), where t_k is the information
    // fraction (cumulative sample share of the full horizon). Early
    // looks face a near-insurmountable bar that relaxes to the
    // fixed-horizon 1.96 at full information — the shape that spends
    // almost no alpha early (stated: the classic OBF SHAPE anchored
    // at the nominal final z, the standard practical approximation;
    // exact Lan-DeMets spending needs the multivariate normal).
    // Same exact cumulative integer battery as q_msprt; the horizon
    // total folds in as a 1-row broadcast.
    "q_obrien_fleming" -> GQuery.sql(
      s"""WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id % 2 AS arm,
        |    CAST(round(value * 1000000.0, 0) AS BIGINT) AS v6
        |  FROM events WHERE value IS NOT NULL),
        |mom AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS ntot,
        |    round((CAST(SUM(CAST(v6 AS DECIMAL(38,0)) *
        |    CAST(v6 AS DECIMAL(38,0))) AS DOUBLE) / 1e12 -
        |    CAST(SUM(v6) AS DOUBLE) / 1e6 * CAST(SUM(v6) AS DOUBLE) /
        |    1e6 / CAST(COUNT(*) AS DOUBLE)) /
        |    CAST(COUNT(*) - 1 AS DOUBLE), 9) AS g
        |  FROM ev),
        |daily AS (
        |  SELECT day, arm, CAST(COUNT(*) AS BIGINT) AS dn,
        |    CAST(SUM(v6) AS BIGINT) AS ds
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT day, arm,
        |    CAST(SUM(dn) OVER (PARTITION BY arm ORDER BY day)
        |      AS BIGINT) AS cn,
        |    CAST(SUM(ds) OVER (PARTITION BY arm ORDER BY day)
        |      AS BIGINT) AS cs
        |  FROM daily)
        |SELECT c0.day, c0.cn AS nc, c1.cn AS nt,
        |  CAST(round($obfZE * 1000000.0, 0) AS BIGINT) AS z_micro,
        |  CAST(round($obfBoundE * 1000000.0, 0) AS BIGINT)
        |    AS bound_micro,
        |  abs(CAST(round($obfZE * 1000000.0, 0) AS BIGINT)) >
        |    CAST(round($obfBoundE * 1000000.0, 0) AS BIGINT)
        |    AS significant
        |FROM (SELECT day, cn, cs AS sc6 FROM cum WHERE arm = 0) c0
        |JOIN (SELECT day, cn, cs AS st6 FROM cum WHERE arm = 1) c1
        |  USING (day), mom,
        |  LATERAL (SELECT c0.cn AS nc, c1.cn AS nt) nn
        |ORDER BY c0.day""".stripMargin,
      "O'Brien-Fleming-shaped group-sequential A/B boundary: per-day " +
        "cumulative z vs 1.96/sqrt(information fraction) (exact " +
        "integer battery, frozen pooled variance)"),

    // Negative-binomial moment fit per event type — the overdispersion
    // readout for count data (per-user event counts, ZEROS INCLUDED
    // via the total-user denominator): dispersion index v/m, and when
    // v > m the NB size r = m^2/(v-m) — the parameter a simulator or
    // anomaly model needs because Poisson (v = m) underestimates count
    // tails everywhere real user behavior is bursty. All moments from
    // exact integer sums; absent (user, type) pairs contribute zero
    // without materializing the cross join.
    "q_negbin_fit" -> GQuery(
      (s, d) => {
        import s.implicits._
        negbinReadout(Tables.load(s, d, "events")
          .groupBy($"event_type", $"user_id")
          .agg(count(lit(1)).as("x")))
      },
      Some(s"""WITH nu AS (
        |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
        |  FROM events),
        |c AS (
        |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS sxx
        |  FROM c GROUP BY 1)
        |SELECT event_type, nu AS n_users,
        |  CAST(round($nbMeanE * 1000000.0, 0) AS BIGINT) AS mean_micro,
        |  CAST(round($nbVarE * 1000000.0, 0) AS BIGINT) AS var_micro,
        |  CAST(round($nbVarE / $nbMeanE * 1000000.0, 0) AS BIGINT)
        |    AS dispersion_micro,
        |  CASE WHEN $nbVarE > $nbMeanE THEN CAST(round($nbMeanE *
        |    $nbMeanE / ($nbVarE - $nbMeanE) * 1000000.0, 0) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS r_micro,
        |  $nbVarE > $nbMeanE AS overdispersed
        |FROM m, nu ORDER BY event_type""".stripMargin),
      "negative-binomial moment fit per event type (zeros-included " +
        "per-user counts, exact moments, dispersion + NB size)"),

    // Classical decomposition variance split for the daily event-count
    // series: trend = centered 7-day moving average (full windows
    // only — edge days excluded, stated), seasonal = day-of-week means
    // of the detrended series, residual = what's left; reported as
    // each component's variance share of the total (a diagnostic — the
    // components are not exactly orthogonal on finite gap-y data,
    // stated). Detrending is EXACT integer arithmetic at 7x scale
    // (7x - sum7); component values freeze to micro before the moment
    // sums. Everything runs on the calendar-bounded day table.
    "q_stl_lite" -> GQuery.sql(
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |win AS (
        |  SELECT a.day AS day, a.x AS x,
        |    a.x * 7 - CAST(SUM(b.x) AS BIGINT) AS det7
        |  FROM daily a JOIN daily b
        |    ON b.day BETWEEN a.day - 3 AND a.day + 3
        |  GROUP BY 1, 2 HAVING COUNT(*) = 7),
        |seas AS (
        |  SELECT dayofweek(day) AS dow,
        |    CAST(round(CAST(SUM(det7) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE) / 7.0 * 1000000.0, 0)
        |      AS BIGINT) AS s6
        |  FROM win GROUP BY 1),
        |parts AS (
        |  SELECT x,
        |    CAST(round((CAST(x AS DOUBLE) - CAST(det7 AS DOUBLE) /
        |      7.0) * 1000000.0, 0) AS BIGINT) AS t6,
        |    s6,
        |    CAST(round(CAST(det7 AS DOUBLE) / 7.0 * 1000000.0, 0)
        |      AS BIGINT) - s6 AS r6
        |  FROM win JOIN seas ON dayofweek(win.day) = seas.dow),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS sxx,
        |    CAST(SUM(t6) AS BIGINT) AS st,
        |    SUM(CAST(t6 AS DECIMAL(38,0)) * CAST(t6 AS DECIMAL(38,0)))
        |      AS stt,
        |    CAST(SUM(s6) AS BIGINT) AS ss,
        |    SUM(CAST(s6 AS DECIMAL(38,0)) * CAST(s6 AS DECIMAL(38,0)))
        |      AS sss,
        |    CAST(SUM(r6) AS BIGINT) AS sr,
        |    SUM(CAST(r6 AS DECIMAL(38,0)) * CAST(r6 AS DECIMAL(38,0)))
        |      AS srr
        |  FROM parts)
        |SELECT n AS n_days_used,
        |  CAST(round(${stlVarE("st", "stt", "1e12")} /
        |    ${stlVarE("sx", "sxx", "1.0")} * 1000000.0, 0) AS BIGINT)
        |    AS trend_share_micro,
        |  CAST(round(${stlVarE("ss", "sss", "1e12")} /
        |    ${stlVarE("sx", "sxx", "1.0")} * 1000000.0, 0) AS BIGINT)
        |    AS seasonal_share_micro,
        |  CAST(round(${stlVarE("sr", "srr", "1e12")} /
        |    ${stlVarE("sx", "sxx", "1.0")} * 1000000.0, 0) AS BIGINT)
        |    AS resid_share_micro
        |FROM m""".stripMargin,
      "classical-decomposition variance split of daily event counts " +
        "(exact 7x-scaled detrending, dow seasonal means, micro-" +
        "frozen components)"),

    // Cook's distance over the daily-revenue OLS trend — the influence
    // diagnostic that answers "which days are dragging the fit":
    // D_i = e_i^2 h_i / (2 s^2 (1-h_i)^2) with leverage h_i = 1/n +
    // (t_i - tbar)^2/Stt. Every moment comes from exact decimal sums
    // (cents x day-index products); residuals freeze to micro before
    // the s^2 pass. Flags D > 4/n (the standard screening fence).
    // Two passes over the calendar-bounded day table.
    "q_cooks_distance" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val rev = Tables.load(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("r"))
          .select(datediff($"day", lit("1970-01-01")).cast("long")
            .as("t"), $"day", $"r")
          // day-grain (calendar-bounded) and consumed by the moment
          // anchor AND the residual table — checkpoint so orders is
          // scanned once, not per consumer
          .localCheckpoint()
        val mom = rev.agg(count(lit(1)).as("n"),
          sum($"t").as("st"), sum($"r").as("sr"),
          sum($"t".cast(d38) * $"t".cast(d38)).as("stt"),
          sum($"t".cast(d38) * $"r".cast(d38)).as("str"))
        val e = rev.crossJoin(broadcast(mom))
          .select($"day", $"t", $"r", $"n", $"st", $"stt",
            expr(s"CAST(round((CAST(r AS DOUBLE) - ($olsAE + $olsBE " +
              "* CAST(t AS DOUBLE))) * 100.0, 0) AS BIGINT)")
              .as("e2c"))
          // same day grain, consumed by s2 and the final readout
          .localCheckpoint()
        val s2 = e.agg(
          sum($"e2c".cast(d38) * $"e2c".cast(d38)).as("se2"))
        e.crossJoin(broadcast(s2))
          .select($"day", $"r",
            expr("CAST(round(CAST(e2c AS DOUBLE) / 100.0, 0) " +
              "AS BIGINT)").as("resid_cents"),
            expr(s"CAST(round($cookHE * 1000000.0, 0) AS BIGINT)")
              .as("leverage_micro"),
            expr(s"CAST(round($cookDE * 1000000.0, 0) AS BIGINT)")
              .as("cook_d_micro"),
            expr(s"$cookDE > 4.0 / CAST(n AS DOUBLE)")
              .as("influential"))
          .orderBy($"day")
      },
      Some(s"""WITH rev AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
        |    CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1, 2),
        |mom AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(r) AS BIGINT) AS sr,
        |    SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))
        |      AS stt,
        |    SUM(CAST(t AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)))
        |      AS str
        |  FROM rev),
        |e AS (
        |  SELECT day, t, r, n, st, stt,
        |    CAST(round((CAST(r AS DOUBLE) - ($olsAE + $olsBE *
        |      CAST(t AS DOUBLE))) * 100.0, 0) AS BIGINT) AS e2c
        |  FROM rev, mom),
        |s2 AS (
        |  SELECT SUM(CAST(e2c AS DECIMAL(38,0)) *
        |    CAST(e2c AS DECIMAL(38,0))) AS se2 FROM e)
        |SELECT day, r,
        |  CAST(round(CAST(e2c AS DOUBLE) / 100.0, 0) AS BIGINT)
        |    AS resid_cents,
        |  CAST(round($cookHE * 1000000.0, 0) AS BIGINT)
        |    AS leverage_micro,
        |  CAST(round($cookDE * 1000000.0, 0) AS BIGINT)
        |    AS cook_d_micro,
        |  $cookDE > 4.0 / CAST(n AS DOUBLE) AS influential
        |FROM e, s2 ORDER BY day""".stripMargin),
      "Cook's distance + leverage per day over the revenue OLS trend " +
        "(exact decimal moments, micro-frozen residuals, 4/n fence)"),

    // Shapiro-Francia W' — the third normality lens beside
    // q_jarque_bera (moments) and q_anderson_darling (CDF tails): the
    // squared correlation between the SORTED daily counts and their
    // Blom normal scores probit((i-3/8)/(n+1/4)). The probit uses the
    // Abramowitz-Stegun 26.2.23 rational approximation (|err| <
    // 4.5e-4 — stated; identical expression tree in both engines),
    // frozen at 9 dp so the correlation moments are exact decimals.
    // Rank window over the bounded day table.
    "q_shapiro_francia" -> GQuery.sql(
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
        |rk AS (
        |  SELECT x, n,
        |    (CAST(row_number() OVER (ORDER BY x ASC, day ASC)
        |      AS DOUBLE) - 0.375) / (CAST(n AS DOUBLE) + 0.25) AS p
        |  FROM daily, n1),
        |sc AS (
        |  SELECT x, n,
        |    CAST(round(${probitE("p")}, 9) AS DECIMAL(14,9)) AS m9
        |  FROM rk),
        |m AS (
        |  SELECT n, CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS sxx,
        |    SUM(m9) AS sm, SUM(m9 * m9) AS smm,
        |    SUM(CAST(x AS DECIMAL(38,0)) * m9) AS sxm
        |  FROM sc GROUP BY 1)
        |SELECT n AS n_days,
        |  CAST(round($sfW2E * 1000000.0, 0) AS BIGINT)
        |    AS wprime_micro
        |FROM m""".stripMargin,
      "Shapiro-Francia W' normality statistic (Blom scores via the " +
        "A&S 26.2.23 probit, 9-dp frozen, exact correlation moments)"),

    // Lincoln-Petersen / Chapman capture-recapture estimate of the
    // total user population from the two-week split of the event
    // window — the mark-recapture trick a pipeline uses to estimate
    // how many entities it has NOT yet seen (users, duplicate
    // clusters, vocabulary) from overlap between two observation
    // windows. Exact distinct counts; Chapman's +1 correction keeps
    // the estimator finite when the overlap is tiny.
    "q_capture_recapture" -> GQuery(
      (s, d) => {
        import s.implicits._
        val ev = Tables.load(s, d, "events")
          .select($"user_id", to_date($"ts").as("day"))
        val cut = ev.agg(date_add(min($"day"), 14).as("cutd"))
        val tagged = ev.crossJoin(broadcast(cut))
          .select($"user_id", ($"day" <= $"cutd").as("h1"))
        tagged.groupBy($"user_id")
          .agg(max($"h1".cast("long")).as("in1"),
            max((!$"h1").cast("long")).as("in2"))
          .agg(count(lit(1)).as("n_total"),
            sum($"in1").as("n1"), sum($"in2").as("n2"),
            sum($"in1" * $"in2").as("m"))
          .select($"n_total", $"n1", $"n2", $"m",
            // zero recapture overlap: LP is undefined (Chapman's +1
            // stays finite) -> NULL in both engines, not Infinity
            expr("CASE WHEN m = 0 THEN CAST(NULL AS BIGINT) ELSE " +
              "CAST(round(CAST(n1 AS DOUBLE) * " +
              "CAST(n2 AS DOUBLE) / CAST(m AS DOUBLE) * 1000000.0, " +
              "0) AS BIGINT) END").as("lp_est_micro"),
            expr("CAST(round((CAST(n1 + 1 AS DOUBLE) * " +
              "CAST(n2 + 1 AS DOUBLE) / CAST(m + 1 AS DOUBLE) - 1.0)" +
              " * 1000000.0, 0) AS BIGINT)").as("chapman_est_micro"))
      },
      Some("""WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |cut AS (SELECT MIN(day) + 14 AS cutd FROM ev),
        |u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN day <= cutd THEN 1 ELSE 0 END) AS in1,
        |    MAX(CASE WHEN day > cutd THEN 1 ELSE 0 END) AS in2
        |  FROM ev, cut GROUP BY 1),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |    CAST(SUM(in1) AS BIGINT) AS n1,
        |    CAST(SUM(in2) AS BIGINT) AS n2,
        |    CAST(SUM(in1 * in2) AS BIGINT) AS m
        |  FROM u)
        |SELECT n_total, n1, n2, m,
        |  CASE WHEN m = 0 THEN CAST(NULL AS BIGINT) ELSE
        |    CAST(round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) /
        |      CAST(m AS DOUBLE) * 1000000.0, 0) AS BIGINT) END
        |    AS lp_est_micro,
        |  CAST(round((CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
        |    / CAST(m + 1 AS DOUBLE) - 1.0) * 1000000.0, 0) AS BIGINT)
        |    AS chapman_est_micro
        |FROM c""".stripMargin),
      "Lincoln-Petersen + Chapman capture-recapture population " +
        "estimate from the two-week window split (exact overlaps)"),

    // Entropy rate of the user journey chain: per from-state Shannon
    // entropy of the outgoing transition distribution, and the chain
    // rate H = sum_i pi_i H_i with pi the empirical from-state
    // occupancy — "how predictable is the next event", the number
    // that says whether a session model can beat a marginal
    // classifier. Transition counts are the q_transition_matrix
    // construction; -p ln p terms freeze at 9 dp into exact decimal
    // sums. One user-keyed window + a category-bounded rollup.
    "q_entropy_rate" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
          .orderBy(unix_micros($"ts"), $"event_id")
        val pairs = Tables.load(s, d, "events")
          .select($"user_id", $"event_id", $"ts", $"event_type")
          .withColumn("next_type", lead($"event_type", 1).over(w))
          .filter($"next_type".isNotNull)
          .groupBy($"event_type".as("from_type"),
            $"next_type".as("to_type"))
          .agg(count(lit(1)).as("nij"))
          // category-bounded (<= |event_type|^2 ~ 25 rows) and
          // consumed by three anchors — checkpoint so the per-user
          // lead window over events runs ONCE, not per anchor
          .localCheckpoint()
        val rows_ = pairs.groupBy($"from_type")
          .agg(sum($"nij").as("ni"))
        // 1-row anchor broadcast into rate AND the readout —
        // checkpoint so it reduces once over the checkpointed pairs
        val tot = pairs.agg(sum($"nij").as("nn")).localCheckpoint()
        val hState = pairs.join(rows_, "from_type")
          .select($"from_type", $"ni",
            expr("CAST(round(-(CAST(nij AS DOUBLE) / " +
              "CAST(ni AS DOUBLE)) * ln(CAST(nij AS DOUBLE) / " +
              "CAST(ni AS DOUBLE)), 9) AS DECIMAL(14,9))").as("t9"))
          .groupBy($"from_type", $"ni").agg(sum($"t9").as("h"))
          // per-state grain (<= ~5 rows), consumed by rate + readout
          .localCheckpoint()
        val rate = hState.crossJoin(broadcast(tot))
          .select(expr("CAST(round(CAST(ni AS DOUBLE) / " +
            "CAST(nn AS DOUBLE) * CAST(h AS DOUBLE), 9) " +
            "AS DECIMAL(14,9))").as("r9"))
          .agg(sum($"r9").as("hr"))
        hState.crossJoin(broadcast(tot)).crossJoin(broadcast(rate))
          .select($"from_type", $"ni".as("n_out"),
            expr("CAST(round(CAST(ni AS DOUBLE) / CAST(nn AS DOUBLE)" +
              " * 1000000.0, 0) AS BIGINT)").as("pi_micro"),
            expr("CAST(round(CAST(h AS DOUBLE) * 1000000.0, 0) " +
              "AS BIGINT)").as("h_state_micro"),
            expr("CAST(round(CAST(hr AS DOUBLE) * 1000000.0, 0) " +
              "AS BIGINT)").as("h_rate_micro"))
          .orderBy($"from_type")
      },
      Some("""WITH s AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id) AS next_type
        |  FROM events),
        |p AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(COUNT(*) AS BIGINT) AS nij
        |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT from_type, CAST(SUM(nij) AS BIGINT) AS ni
        |  FROM p GROUP BY 1),
        |t AS (SELECT CAST(SUM(nij) AS BIGINT) AS nn FROM p),
        |h AS (
        |  SELECT from_type, ni,
        |    SUM(CAST(round(-(CAST(nij AS DOUBLE) / CAST(ni AS DOUBLE))
        |      * ln(CAST(nij AS DOUBLE) / CAST(ni AS DOUBLE)), 9)
        |      AS DECIMAL(14,9))) AS h
        |  FROM p JOIN r USING (from_type) GROUP BY 1, 2),
        |hr AS (
        |  SELECT SUM(CAST(round(CAST(ni AS DOUBLE) /
        |    CAST(nn AS DOUBLE) * CAST(h AS DOUBLE), 9)
        |    AS DECIMAL(14,9))) AS hr
        |  FROM h, t)
        |SELECT from_type, ni AS n_out,
        |  CAST(round(CAST(ni AS DOUBLE) / CAST(nn AS DOUBLE) *
        |    1000000.0, 0) AS BIGINT) AS pi_micro,
        |  CAST(round(CAST(h AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS h_state_micro,
        |  CAST(round(CAST(hr AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS h_rate_micro
        |FROM h, t, hr ORDER BY from_type""".stripMargin),
      "journey-chain entropy rate (per-state outgoing entropy + " +
        "occupancy-weighted rate, 9-dp frozen -p ln p terms)"),

    // Hurst exponent by rescaled-range (R/S) analysis over the daily
    // event-count series: for block sizes 5/10/15 days, the mean over
    // complete consecutive blocks of (range of cumulative deviations /
    // block std); H is the log-log slope across the three sizes.
    // H ~ 0.5 means the series forgets (random walk increments); H
    // well above 0.5 means long-range persistence — burst clustering
    // that AR/EWMA models understate. Block assignment and running
    // sums ride one rank over the bounded day table; per-block stats
    // are exact until the final frozen ratios.
    "q_hurst" -> GQuery(
      (s, d) => {
        import s.implicits._
        val daily = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("x"))
          .withColumn("i", row_number().over(Window.orderBy($"day"))
            .cast("long"))
        val ws = s.range(1, 4).select(($"id" * 5).as("w"))
        val blocks = daily.crossJoin(broadcast(ws))
          .select($"w", expr("(i - 1) div w").as("blk"), $"i", $"x")
        val sized = blocks.groupBy($"w", $"blk")
          .agg(count(lit(1)).as("bn"), sum($"x").as("bs"))
          .filter($"bn" === $"w")
        val dev = blocks.join(sized, Seq("w", "blk"))
          .withColumn("cum",
            sum($"x" * $"bn" - $"bs").over(
              Window.partitionBy($"w", $"blk").orderBy($"i")))
        val rs = dev.groupBy($"w", $"blk", $"bn", $"bs")
          .agg(max($"cum").as("mx"), min($"cum").as("mn"),
            sum($"x".cast(org.apache.spark.sql.types
              .DecimalType(38, 0)) * $"x".cast(org.apache.spark.sql
              .types.DecimalType(38, 0))).as("sxx"))
          .select($"w",
            expr(s"CAST(round($hurstRsE, 9) AS DECIMAL(16,9))")
              .as("rs9"))
          .filter($"rs9".isNotNull)
          .groupBy($"w")
          .agg(count(lit(1)).as("n_blocks"), sum($"rs9").as("srs"))
          .select($"w", $"n_blocks",
            expr("round(ln(CAST(srs AS DOUBLE) / " +
              "CAST(n_blocks AS DOUBLE)), 9)").as("ly"),
            expr("round(ln(CAST(w AS DOUBLE)), 9)").as("lx"))
          // 3 rows (one per block size) referenced by slope AND the
          // final join — checkpoint so the day-rank window + block
          // cumsum tree runs once, not twice (r12 audit: 4 single-
          // partition barriers from the duplicated subtree)
          .localCheckpoint()
        val slope = rs.agg(count(lit(1)).as("k"),
          sum($"lx").as("slx"), sum($"ly").as("sly"),
          sum(expr("lx * ly")).as("slxy"),
          sum(expr("lx * lx")).as("slxx"))
          .select(expr("CAST(round((CAST(k AS DOUBLE) * slxy - slx *" +
            " sly) / (CAST(k AS DOUBLE) * slxx - slx * slx) * " +
            "1000000.0, 0) AS BIGINT)").as("hurst_micro"))
        rs.crossJoin(broadcast(slope))
          .select($"w", $"n_blocks",
            expr("CAST(round(exp(ly) * 1000000.0, 0) AS BIGINT)")
              .as("rs_micro"),
            $"hurst_micro")
          .orderBy($"w")
      },
      Some(s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |idx AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS i, day
        |  FROM daily),
        |blocks AS (
        |  SELECT w, (i - 1) // w AS blk, i, x
        |  FROM idx, (SELECT unnest([5, 10, 15]) AS w) ws),
        |sized AS (
        |  SELECT w, blk, CAST(COUNT(*) AS BIGINT) AS bn,
        |    CAST(SUM(x) AS BIGINT) AS bs
        |  FROM blocks GROUP BY 1, 2 HAVING COUNT(*) = w),
        |dev AS (
        |  SELECT b.w, b.blk, s.bn, s.bs, b.i, b.x,
        |    CAST(SUM(b.x * s.bn - s.bs) OVER (
        |      PARTITION BY b.w, b.blk ORDER BY b.i) AS BIGINT) AS cum
        |  FROM blocks b JOIN sized s ON b.w = s.w AND b.blk = s.blk),
        |rsb AS (
        |  SELECT w, blk, bn, bs, MAX(cum) AS mx, MIN(cum) AS mn,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS sxx
        |  FROM dev GROUP BY 1, 2, 3, 4),
        |rs9 AS (
        |  SELECT w, CAST(round($hurstRsE, 9) AS DECIMAL(16,9)) AS rs9
        |  FROM rsb),
        |mrs AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    round(ln(CAST(SUM(rs9) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE)), 9) AS ly,
        |    round(ln(CAST(w AS DOUBLE)), 9) AS lx
        |  FROM rs9 WHERE rs9 IS NOT NULL GROUP BY 1),
        |sl AS (
        |  SELECT CAST(round((CAST(COUNT(*) AS DOUBLE) * SUM(lx * ly)
        |    - SUM(lx) * SUM(ly)) / (CAST(COUNT(*) AS DOUBLE) *
        |    SUM(lx * lx) - SUM(lx) * SUM(lx)) * 1000000.0, 0)
        |    AS BIGINT) AS hurst_micro
        |  FROM mrs)
        |SELECT w, n_blocks,
        |  CAST(round(exp(ly) * 1000000.0, 0) AS BIGINT) AS rs_micro,
        |  hurst_micro
        |FROM mrs, sl ORDER BY w""".stripMargin),
      "Hurst exponent by R/S analysis at block sizes 5/10/15 days " +
        "(exact bn-scaled cumulative deviations, 9-dp frozen ratios, " +
        "log-log slope)"),

    // Day-level jackknife standard error of the revenue-per-order
    // ratio — honest uncertainty for a NONLINEAR corpus statistic
    // (the delta-method alternative without the derivative): each
    // leave-one-day-out replicate recomputes theta from the totals
    // minus that day (O(days), never O(rows)), SE_jack =
    // sqrt((n-1)/n * sum (theta_i - mean)^2). Replicates freeze at
    // 9 dp so the moment sums are exact decimals.
    "q_jackknife_ratio" -> GQuery(
      (s, d) => {
        import s.implicits._
        val day = Tables.load(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("r"), count(lit(1)).as("c"))
        val tot = day.agg(count(lit(1)).as("n"), sum($"r").as("tr"),
          sum($"c").as("tc"))
        // replicates freeze to INTEGER centicents: integer-valued moment
        // sums convert to double identically in both engines (a scale-12
        // decimal cast diverged by 1 ulp at sf0.1 and flipped the
        // rounded SE)
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val reps = day.crossJoin(broadcast(tot))
          .select($"n", $"tr", $"tc",
            expr("CAST(round(CAST(tr - r AS DOUBLE) / " +
              "CAST(tc - c AS DOUBLE) * 100.0, 0) AS BIGINT)")
              .as("th9"))
        reps.groupBy($"n", $"tr", $"tc")
          .agg(sum($"th9".cast(d38)).as("s1"),
            sum($"th9".cast(d38) * $"th9".cast(d38)).as("s2"))
          .select($"n".as("n_days"),
            // HALF_UP in EXACT integer arithmetic: the double path hit
            // a .5 boundary at sf0.1 and the engines split on it
            expr("CAST((CAST(tr AS DECIMAL(38,0)) * 200 + tc) div " +
              "(2 * CAST(tc AS DECIMAL(38,0))) AS BIGINT)")
              .as("theta_centicents"),
            expr(s"CAST(round($jackSeE, 0) AS BIGINT)")
              .as("se_jack_centicents"))
      },
      Some(s"""WITH day_ AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(r) AS BIGINT) AS tr, CAST(SUM(c) AS BIGINT) AS tc
        |  FROM day_),
        |reps AS (
        |  SELECT n, tr, tc,
        |    CAST(round(CAST(tr - r AS DOUBLE) / CAST(tc - c AS
        |      DOUBLE) * 100.0, 0) AS BIGINT) AS th9
        |  FROM day_, tot),
        |m AS (
        |  SELECT n, tr, tc,
        |    SUM(CAST(th9 AS DECIMAL(38,0))) AS s1,
        |    SUM(CAST(th9 AS DECIMAL(38,0)) * CAST(th9 AS
        |      DECIMAL(38,0))) AS s2
        |  FROM reps GROUP BY 1, 2, 3)
        |SELECT n AS n_days,
        |  CAST((CAST(tr AS HUGEINT) * 200 + tc) //
        |    (2 * CAST(tc AS HUGEINT)) AS BIGINT) AS theta_centicents,
        |  CAST(round($jackSeE, 0) AS BIGINT)
        |    AS se_jack_centicents
        |FROM m""".stripMargin),
      "day-level jackknife SE of revenue-per-order (O(days) " +
        "replicates from exact totals, 9-dp frozen)"),

    // Wald-Wolfowitz runs test on the daily-revenue sign sequence
    // (above/below the median): too FEW runs means level persistence,
    // too MANY means oscillation — the distribution-free randomness
    // check that catches what autocorrelation tests miss when the
    // dependence is nonlinear. Runs are counted by an exact integer
    // lag comparison over the ordered day table; E[R] and Var[R] are
    // closed-form integers-over-integers; exact-median days are
    // excluded (stated, cent-exact so ties are real ties).
    "q_runs_test" -> GQuery(
      (s, d) => {
        import s.implicits._
        val rev = Tables.load(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("r"))
        val med = rev.agg(
          expr("CAST(round(percentile(r, 0.5) * 2.0, 0) AS BIGINT)")
            .as("m2"))
        val signs = rev.crossJoin(broadcast(med))
          .filter($"r" * 2 =!= $"m2")
          .select($"day", ($"r" * 2 > $"m2").cast("long").as("sg"))
        val w = Window.orderBy($"day")
        val runs = signs
          .withColumn("chg",
            when(lag($"sg", 1).over(w).isNull, 1L)
              .when(lag($"sg", 1).over(w) =!= $"sg", 1L).otherwise(0L))
          .agg(sum($"chg").as("r_runs"), sum($"sg").as("n1"),
            sum(lit(1L) - $"sg").as("n2"))
        runs.select($"r_runs", $"n1", $"n2",
          expr(s"CAST(round($runsEE * 1000000.0, 0) AS BIGINT)")
            .as("e_runs_micro"),
          expr(s"CAST(round((CAST(r_runs AS DOUBLE) - $runsEE) / " +
            s"sqrt($runsVE) * 1000000.0, 0) AS BIGINT)")
            .as("z_micro"))
      },
      Some(s"""WITH rev AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |med AS (SELECT CAST(round(quantile_cont(r, 0.5) * 2.0, 0)
        |  AS BIGINT) AS m2 FROM rev),
        |signs AS (
        |  SELECT day, CAST(r * 2 > m2 AS BIGINT) AS sg
        |  FROM rev, med WHERE r * 2 <> m2),
        |ch AS (
        |  SELECT sg, CASE WHEN lag(sg) OVER (ORDER BY day) IS NULL
        |    THEN 1 WHEN lag(sg) OVER (ORDER BY day) <> sg THEN 1
        |    ELSE 0 END AS chg
        |  FROM signs),
        |m AS (
        |  SELECT CAST(SUM(chg) AS BIGINT) AS r_runs,
        |    CAST(SUM(sg) AS BIGINT) AS n1,
        |    CAST(SUM(1 - sg) AS BIGINT) AS n2
        |  FROM ch)
        |SELECT r_runs, n1, n2,
        |  CAST(round($runsEE * 1000000.0, 0) AS BIGINT)
        |    AS e_runs_micro,
        |  CAST(round((CAST(r_runs AS DOUBLE) - $runsEE) /
        |    sqrt($runsVE) * 1000000.0, 0) AS BIGINT) AS z_micro
        |FROM m""".stripMargin),
      "Wald-Wolfowitz runs test on daily-revenue median signs (exact " +
        "integer run counting, closed-form moments)"),

    // Cox-Stuart trend test with an EXACT binomial tail: pair each of
    // the first half's days with its day m positions later, count
    // strict increases vs decreases, and compute the exact two-sided
    // sign-test p-value — no normal approximation, no alpha table.
    // The binomial tail sums exp(ln C(N,k) - N ln 2) with ln-
    // factorials built as a 9-dp-frozen running sum over the bounded
    // 1..N integer spine, every term frozen before the exact decimal
    // sum — the engines agree because the whole computation is
    // decimal arithmetic over identically-rounded logs.
    "q_sign_trend" -> GQuery(
      (s, d) => {
        import s.implicits._
        val rev = Tables.load(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("r"))
          .withColumn("i", row_number().over(Window.orderBy($"day"))
            .cast("long"))
        val nn = rev.agg(count(lit(1)).as("nd"))
        val (plus, minus) = rev.as("a").crossJoin(broadcast(nn))
          .join(rev.as("b"), $"b.i" === $"a.i" + expr("nd div 2"))
          .select(($"b.r" > $"a.r").cast("long").as("up"),
            ($"b.r" < $"a.r").cast("long").as("dn"))
          .agg(coalesce(sum($"up"), lit(0L)),
            coalesce(sum($"dn"), lit(0L)))
          .as[(Long, Long)].collect().head
        // the tail is driver-side BigDecimal over the SAME frozen-log
        // algorithm the oracle runs as CTEs (the q_markov_attribution
        // collect-then-exact-math pattern — (plus, minus) is a 2-long
        // metadata-scale collect; a plan-side formulation paid 21
        // single-partition exchanges re-deriving the 1-row battery)
        def r9(x: Double) = BigDecimal(x)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        val nN = (plus + minus).toInt
        val kK = math.max(plus, minus).toInt
        val lf = new Array[BigDecimal](nN + 1)
        lf(0) = BigDecimal(0)
        for (j <- 1 to nN) lf(j) = lf(j - 1) + r9(math.log(j))
        val ln2 = r9(math.log(2.0))
        val tail = (kK to nN).map { k =>
          r9(math.exp((lf(nN) - lf(k) - lf(nN - k) -
            BigDecimal(nN) * ln2).toDouble))
        }.sum
        val p = math.min(2.0 * tail.toDouble, 1.0)
        s.createDataFrame(Seq((plus, minus, math.round(p * 1e6))))
          .toDF("plus", "minus", "p_micro")
      },
      Some(s"""WITH rev AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT r, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |    AS i
        |  FROM rev),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM idx),
        |pm AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN b.r > a.r THEN 1
        |      ELSE 0 END), 0) AS BIGINT) AS plus,
        |    CAST(COALESCE(SUM(CASE WHEN b.r < a.r THEN 1
        |      ELSE 0 END), 0) AS BIGINT) AS minus
        |  FROM idx a, nn, idx b WHERE b.i = a.i + nd // 2),
        |spine AS (
        |  SELECT j, SUM(CAST(round(ln(CAST(j AS DOUBLE)), 9)
        |    AS DECIMAL(24,9))) OVER (ORDER BY j) AS lf
        |  FROM (SELECT unnest(generate_series(1, (SELECT plus + minus
        |    FROM pm))) AS j) s),
        |lfn AS (SELECT lf AS lfn FROM spine, pm
        |  WHERE j = plus + minus),
        |t AS (
        |  SELECT CAST(round(exp(CAST(lfn AS DOUBLE) -
        |    CAST(k.lf AS DOUBLE) - CAST(COALESCE((SELECT MAX(nk.lf)
        |      FROM spine nk WHERE nk.j = plus + minus - k.j), 0)
        |      AS DOUBLE)
        |    - CAST(plus + minus AS DOUBLE) * round(ln(2.0), 9)), 9)
        |    AS DECIMAL(12,9)) AS t9
        |  FROM spine k, pm, lfn
        |  WHERE k.j >= greatest(plus, minus)),
        |ts AS (SELECT CAST(SUM(t9) AS DOUBLE) AS tailsum FROM t)
        |SELECT plus, minus,
        |  CAST(round(least(2.0 * COALESCE(tailsum, 1.0), 1.0) *
        |    1000000.0, 0) AS BIGINT) AS p_micro
        |FROM pm, ts""".stripMargin),
      "Cox-Stuart trend test with an EXACT binomial two-sided tail " +
        "(9-dp frozen ln-factorial spine, decimal term sums)"),

    // Operational workload profile via Little's law quantities: from
    // gap-sessionized user activity (the q_sessionize 30-min contract),
    // the time-average concurrency L = total session-seconds /
    // horizon, arrival rate lambda (sessions/hour), mean session
    // duration W, and the PEAK concurrency sampled at top-of-hour
    // instants (stated: hourly sampling — each session explodes into
    // only the hour marks it spans, so the sweep is O(session-hours),
    // never a global boundary sort). Capacity planning reads exactly
    // these four numbers. All sums exact seconds; L = lambda*W holds
    // by construction (Little's law for a closed window) and is the
    // in-query invariant the spec pins.
    "q_littles_law" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = Tables.load(s, d, "events")
          .select($"user_id", unix_timestamp($"ts").as("t"))
        val w = Window.partitionBy($"user_id").orderBy($"t")
        val sess = e
          .withColumn("prev", lag($"t", 1).over(w))
          .withColumn("ns",
            when($"prev".isNull || $"t" - $"prev" > 1800L, 1L)
              .otherwise(0L))
          .withColumn("sid", sum($"ns").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"sid")
          .agg(min($"t").as("st"), max($"t").as("en"))
        // horizon folded into the session anchor: min(st)/max(en)
        // over sessions equal min(t)/max(t) over events (every event
        // lands in a session), so no separate events pass + barrier
        val tot = sess.agg(count(lit(1)).as("n_sessions"),
          sum($"en" - $"st").as("sdur"),
          min($"st").as("t0"), max($"en").as("t1"))
        // guard lo <= hi explicitly: Spark's sequence() would emit a
        // DESCENDING range where DuckDB's generate_series is empty
        val peak = sess.filter($"en" > $"st")
          .filter(expr("(st + 3599) div 3600 <= (en - 1) div 3600"))
          .select(explode(expr(
            "sequence((st + 3599) div 3600, (en - 1) div 3600)"))
            .as("hb"))
          .groupBy($"hb").agg(count(lit(1)).as("c"))
          .agg(coalesce(max($"c"), lit(0L)).as("peak_hourly"))
        tot.crossJoin(broadcast(peak))
          .select($"n_sessions",
            expr("CAST(round(CAST(n_sessions AS DOUBLE) * 3600.0 / " +
              "CAST(t1 - t0 AS DOUBLE) * 1000000.0, 0) AS BIGINT)")
              .as("lambda_hr_micro"),
            expr("CAST(round(CAST(sdur AS DOUBLE) / " +
              "CAST(n_sessions AS DOUBLE) * 1000000.0, 0) AS BIGINT)")
              .as("w_sec_micro"),
            expr("CAST(round(CAST(sdur AS DOUBLE) / " +
              "CAST(t1 - t0 AS DOUBLE) * 1000000.0, 0) AS BIGINT)")
              .as("l_micro"),
            $"peak_hourly")
      },
      Some("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS t
        |  FROM events),
        |g AS (
        |  SELECT user_id, t,
        |    CASE WHEN prev IS NULL OR t - prev > 1800 THEN 1 ELSE 0
        |      END AS ns
        |  FROM (SELECT user_id, t,
        |      lag(t) OVER (PARTITION BY user_id ORDER BY t) AS prev
        |    FROM e)),
        |sid AS (
        |  SELECT user_id, t,
        |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sid, CAST(MIN(t) AS BIGINT) AS st,
        |    CAST(MAX(t) AS BIGINT) AS en
        |  FROM sid GROUP BY 1, 2),
        |hz AS (SELECT CAST(MIN(t) AS BIGINT) AS t0,
        |  CAST(MAX(t) AS BIGINT) AS t1 FROM e),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(en - st) AS BIGINT) AS sdur FROM sess),
        |hb AS (
        |  SELECT u.hb, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM sess, unnest(generate_series((st + 3599) // 3600,
        |    (en - 1) // 3600)) AS u(hb)
        |  WHERE en > st GROUP BY 1),
        |pk AS (SELECT CAST(COALESCE(MAX(c), 0) AS BIGINT)
        |  AS peak_hourly FROM hb)
        |SELECT n_sessions,
        |  CAST(round(CAST(n_sessions AS DOUBLE) * 3600.0 /
        |    CAST(t1 - t0 AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS lambda_hr_micro,
        |  CAST(round(CAST(sdur AS DOUBLE) / CAST(n_sessions AS
        |    DOUBLE) * 1000000.0, 0) AS BIGINT) AS w_sec_micro,
        |  CAST(round(CAST(sdur AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)
        |    * 1000000.0, 0) AS BIGINT) AS l_micro,
        |  peak_hourly
        |FROM tot, hz, pk""".stripMargin),
      "Little's-law workload profile from 30-min gap sessions: " +
        "concurrency, arrival rate, mean duration, hourly-sampled " +
        "peak (exact second sums, O(session-hours) sweep)"),

    // Theil T inequality index of customer revenue per nation — the
    // DECOMPOSABLE member of the concentration family (q_gini ranks,
    // q_hhi squares shares; Theil alone splits exactly into within-
    // group + between-group terms, which is why inequality audits use
    // it): T = (1/n) sum (x/mu) ln(x/mu) over customers, reported per
    // nation plus the exact between-nation component. Customer revenue
    // is exact cents; (x/mu)ln(x/mu) terms freeze at 9 dp into exact
    // decimal sums; zero-revenue customers are excluded (ln; stated).
    // One corpus rollup + a nation-bounded reduce.
    "q_theil_index" -> GQuery(
      (s, d) => {
        import s.implicits._
        val cust = Tables.load(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("x"))
          .join(Tables.load(s, d, "customer")
            .select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
        val tot = cust.agg(count(lit(1)).as("n"), sum($"x").as("sx"))
        val terms = cust.crossJoin(broadcast(tot))
          .select($"c_nationkey", $"x", $"n", $"sx",
            expr(s"CAST(round($theilTermE, 9) AS DECIMAL(16,9))")
              .as("t9"))
        val byNation = terms.groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n_cust"), sum($"x").as("nx"),
            sum($"t9").as("ts"), max($"n").as("n"), max($"sx").as("sx"))
          .join(Tables.load(s, d, "nation")
            .select($"n_nationkey", $"n_name"),
            $"c_nationkey" === $"n_nationkey")
        byNation
          .select($"n_name", $"n_cust",
            expr("CAST(round(CAST(ts AS DOUBLE) / CAST(n AS DOUBLE) " +
              "* 1000000.0, 0) AS BIGINT)").as("theil_contrib_micro"),
            expr(s"CAST(round($theilBetweenE * 1000000.0, 0) " +
              "AS BIGINT)").as("between_term_micro"))
          .orderBy($"n_name")
      },
      Some(s"""WITH cust AS (
        |  SELECT c_nationkey,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY o_custkey, c_nationkey),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx FROM cust),
        |terms AS (
        |  SELECT c_nationkey, x, n, sx,
        |    CAST(round($theilTermE, 9) AS DECIMAL(16,9)) AS t9
        |  FROM cust, tot),
        |bn AS (
        |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(x) AS BIGINT) AS nx, SUM(t9) AS ts,
        |    MAX(n) AS n, MAX(sx) AS sx
        |  FROM terms GROUP BY 1)
        |SELECT n_name, n_cust,
        |  CAST(round(CAST(ts AS DOUBLE) / CAST(n AS DOUBLE) *
        |    1000000.0, 0) AS BIGINT) AS theil_contrib_micro,
        |  CAST(round($theilBetweenE * 1000000.0, 0) AS BIGINT)
        |    AS between_term_micro
        |FROM bn JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin),
      "Theil T inequality of customer revenue per nation (9-dp " +
        "frozen (x/mu)ln(x/mu) terms, exact between-nation component)"),

    // Atkinson inequality index (epsilon = 1) of customer revenue per
    // nation: A = 1 - geometric_mean/mean — the welfare-grounded
    // member of the concentration family (q_gini ranks, q_theil_index
    // decomposes; Atkinson alone states "the fraction of total revenue
    // you could discard and keep equal welfare", which is why
    // budget-equity audits quote it). Customer revenue is exact cents
    // (always positive — each customer has >= 1 order); ln(x) terms
    // freeze at 9 dp into exact decimal sums, so the only double math
    // is the one-row exp/ln readout, identical IEEE ops in both
    // engines. One corpus rollup + a nation-bounded reduce.
    "q_atkinson" -> GQuery.sql(
      s"""WITH cust AS (
        |  SELECT c_nationkey,
        |    CAST(round(ln(CAST(x AS DOUBLE)), 9) AS DECIMAL(16,9))
        |      AS l9, x
        |  FROM (
        |    SELECT c_nationkey,
        |      CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |        AS BIGINT) AS x
        |    FROM orders JOIN customer ON o_custkey = c_custkey
        |    GROUP BY o_custkey, c_nationkey)),
        |bn AS (
        |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(x) AS BIGINT) AS sum_cents, SUM(l9) AS sl
        |  FROM cust GROUP BY 1)
        |SELECT n_name, n_cust, sum_cents,
        |  CAST(round($atkinsonE * 1000000.0, 0) AS BIGINT)
        |    AS atkinson_micro
        |FROM bn JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin,
      "Atkinson(1) inequality of customer revenue per nation (9-dp " +
        "frozen ln terms, geometric/arithmetic mean ratio)"),

    // Inverse-propensity-weighted treatment effect with OVERLAP
    // clipping — the estimator q_stratified_ate can't be: strata where
    // one arm is empty are DROPPED there (no within-stratum contrast),
    // but IPW with the stratum-frequency propensity clipped to
    // [0.1, 0.9] keeps every user, which is what a production causal
    // pipeline does when positivity fails in the tails. Reports the
    // Horvitz-Thompson and Hajek (ratio-normalized) estimates — they
    // differ exactly because clipping breaks the HT = stratified
    // identity — plus Kish's effective sample size of the treated
    // weights (the overlap-health number reviewers ask for). Arm =
    // user_id parity, outcome = purchase value, strata = per-user
    // event count (the q_stratified_ate battery); per-stratum weighted
    // terms freeze at 9 dp into exact decimal sums.
    "q_ipw" -> GQuery.sql(
      s"""WITH u AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |    CAST(COUNT(*) AS BIGINT) AS score,
        |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN
        |      CAST(round(value * 1000000.0, 0) AS BIGINT) END), 0)
        |      AS BIGINT) AS y6
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT score,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc,
        |    CAST(SUM(CASE WHEN arm = 0 THEN y6 ELSE 0 END) AS BIGINT)
        |      AS syc,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nt,
        |    CAST(SUM(CASE WHEN arm = 1 THEN y6 ELSE 0 END) AS BIGINT)
        |      AS syt
        |  FROM u GROUP BY 1),
        |t AS (
        |  SELECT nc, nt,
        |    CASE WHEN $ipwRawE < 0.1 OR $ipwRawE > 0.9
        |      THEN 1 ELSE 0 END AS clipped,
        |    CAST(round(CAST(syt AS DOUBLE) / $ipwEE -
        |      CAST(syc AS DOUBLE) / (1.0 - $ipwEE), 9)
        |      AS DECIMAL(28,9)) AS ht9,
        |    CAST(round(CAST(nt AS DOUBLE) / $ipwEE, 9)
        |      AS DECIMAL(28,9)) AS wt9,
        |    CAST(round(CAST(nc AS DOUBLE) / (1.0 - $ipwEE), 9)
        |      AS DECIMAL(28,9)) AS wc9,
        |    CAST(round(CAST(syt AS DOUBLE) / $ipwEE, 9)
        |      AS DECIMAL(28,9)) AS st9,
        |    CAST(round(CAST(syc AS DOUBLE) / (1.0 - $ipwEE), 9)
        |      AS DECIMAL(28,9)) AS sc9,
        |    CAST(round(CAST(nt AS DOUBLE) / ($ipwEE * $ipwEE), 9)
        |      AS DECIMAL(28,9)) AS wt2_9
        |  FROM st),
        |m AS (
        |  SELECT CAST(SUM(nc + nt) AS BIGINT) AS n_users,
        |    CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(clipped) AS BIGINT) AS n_clipped_strata,
        |    SUM(ht9) AS sht, SUM(wt9) AS swt, SUM(wc9) AS swc,
        |    SUM(st9) AS sst, SUM(sc9) AS ssc, SUM(wt2_9) AS swt2
        |  FROM t)
        |SELECT n_users, n_strata, n_clipped_strata,
        |  CASE WHEN n_users = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round(CAST(sht AS DOUBLE) /
        |      CAST(n_users AS DOUBLE), 0) AS BIGINT) END
        |    AS ipw_ate_micro,
        |  CASE WHEN swt = 0 OR swc = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round(CAST(sst AS DOUBLE) /
        |      CAST(swt AS DOUBLE) - CAST(ssc AS DOUBLE) /
        |      CAST(swc AS DOUBLE), 0) AS BIGINT) END
        |    AS hajek_ate_micro,
        |  CASE WHEN swt2 = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round(CAST(swt AS DOUBLE) * CAST(swt AS DOUBLE)
        |      / CAST(swt2 AS DOUBLE) * 1000000.0, 0) AS BIGINT) END
        |    AS ess_t_micro
        |FROM m""".stripMargin,
      "IPW treatment effect with [0.1, 0.9] overlap clipping: " +
        "Horvitz-Thompson + Hajek estimates and treated-weight " +
        "effective sample size (9-dp frozen per-stratum terms)"),

    // Granger-style lag-1 causality: does yesterday's event VOLUME
    // carry information about today's purchase REVENUE beyond
    // yesterday's revenue itself? Both day series come from the events
    // table (shared calendar); adjacent-day pairs via the q_conformal
    // date self-join (calendar gaps drop the pair, stated). The whole
    // test reduces to ONE exact integer moment battery — counts, sums,
    // and DECIMAL(38) cross-products of (y_t, y_{t-1}, x_{t-1}) — and
    // a closed-form one-row readout: restricted (y ~ y1) vs
    // unrestricted (y ~ y1 + x1) OLS through the centered normal
    // equations, F = (SSR_r - SSR_u)/(SSR_u/(n-3)). Identical IEEE
    // double ops in both engines from the same exact battery; n < 4 or
    // a singular design emits NULLs (one contract, both engines).
    "q_granger" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        // day grain is calendar-bounded (~1 row/day); checkpoint it
        // once so the events scan + rollup doesn't run twice through
        // the a/b self-join (multiply-consumed-anchor discipline)
        val day = Tables.load(s, d, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("x"),
            coalesce(sum(when($"event_type" === "purchase",
              expr("CAST(round(value * 1000000.0, 0) AS BIGINT)"))),
              lit(0L)).as("y"))
          .localCheckpoint()
        val p = day.as("a")
          .join(day.as("b"), $"a.day" === date_add($"b.day", 1))
          .select($"a.y".as("y"), $"b.y".as("y1"), $"b.x".as("x1"))
        p.agg(count(lit(1)).as("n"),
            sum($"y").as("sy"), sum($"y1").as("sy1"),
            sum($"x1").as("sx1"),
            sum($"y".cast(d38) * $"y".cast(d38)).as("syy"),
            sum($"y".cast(d38) * $"y1".cast(d38)).as("syy1"),
            sum($"y".cast(d38) * $"x1".cast(d38)).as("syx1"),
            sum($"y1".cast(d38) * $"y1".cast(d38)).as("sy1y1"),
            sum($"y1".cast(d38) * $"x1".cast(d38)).as("sy1x1"),
            sum($"x1".cast(d38) * $"x1".cast(d38)).as("sx1x1"))
          .select($"n".as("n_pairs"),
            expr(s"CASE WHEN $grangerGuardE THEN CAST(NULL AS BIGINT)" +
              s" ELSE CAST(round($grangerB2E, 0) AS BIGINT) END")
              .as("b_x_micro"),
            expr(s"CASE WHEN $grangerGuardE THEN CAST(NULL AS BIGINT)" +
              s" ELSE CAST(round($grangerFE * 1000000.0, 0) AS BIGINT)" +
              " END").as("f_micro"),
            expr(s"CASE WHEN $grangerGuardE THEN CAST(NULL AS BIGINT)" +
              s" ELSE CAST(round(($grangerSsrRE - $grangerSsrUE) / " +
              s"$grangerCyyE * 1000000.0, 0) AS BIGINT) END")
              .as("dr2_micro"))
      },
      Some(s"""WITH day AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN
        |      CAST(round(value * 1000000.0, 0) AS BIGINT) END), 0)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT a.y AS y, b.y AS y1, b.x AS x1
        |  FROM day a JOIN day b ON a.day = b.day + 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(y1) AS BIGINT) AS sy1,
        |    CAST(SUM(x1) AS BIGINT) AS sx1,
        |    SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS syy,
        |    SUM(CAST(y AS DECIMAL(38,0)) * CAST(y1 AS DECIMAL(38,0)))
        |      AS syy1,
        |    SUM(CAST(y AS DECIMAL(38,0)) * CAST(x1 AS DECIMAL(38,0)))
        |      AS syx1,
        |    SUM(CAST(y1 AS DECIMAL(38,0)) * CAST(y1 AS DECIMAL(38,0)))
        |      AS sy1y1,
        |    SUM(CAST(y1 AS DECIMAL(38,0)) * CAST(x1 AS DECIMAL(38,0)))
        |      AS sy1x1,
        |    SUM(CAST(x1 AS DECIMAL(38,0)) * CAST(x1 AS DECIMAL(38,0)))
        |      AS sx1x1
        |  FROM p)
        |SELECT n AS n_pairs,
        |  CASE WHEN $grangerGuardE THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round($grangerB2E, 0) AS BIGINT) END
        |    AS b_x_micro,
        |  CASE WHEN $grangerGuardE THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round($grangerFE * 1000000.0, 0) AS BIGINT) END
        |    AS f_micro,
        |  CASE WHEN $grangerGuardE THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round(($grangerSsrRE - $grangerSsrUE) /
        |      $grangerCyyE * 1000000.0, 0) AS BIGINT) END
        |    AS dr2_micro
        |FROM m""".stripMargin),
      "Granger lag-1 causality of event volume on purchase revenue " +
        "(one exact moment battery, closed-form restricted vs " +
        "unrestricted OLS, F + R2 gain)"),

    // Wilson score interval per event type — the proportion CI a
    // metrics dashboard should show instead of the Wald interval
    // (Wald collapses at p near 0/1 and small n; Wilson stays inside
    // [0,1] and is the Agresti-Coull backbone). "Success" = the event
    // carries a non-null value (the house conversion proxy). z is the
    // fixed two-sided 95% literal; the whole readout is one grouped
    // partial agg (exact integer k/n per arm) + closed-form arithmetic
    // whose only transcendental is sqrt (correctly rounded IEEE, so no
    // 9-dp freeze is needed). Scale: one category-keyed partial-agg
    // shuffle at any corpus size; NO 1-row barrier at all.
    "q_wilson_ci" -> GQuery.sql(
      s"""WITH g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM events GROUP BY 1)
        |SELECT event_type, n, k,
        |  CAST(round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |    * 1000000.0, 0) AS BIGINT) AS p_micro,
        |  CAST(round($wilsonCtrE - $wilsonHwE, 0) AS BIGINT) AS lo_micro,
        |  CAST(round($wilsonCtrE + $wilsonHwE, 0) AS BIGINT) AS hi_micro
        |FROM g ORDER BY event_type""".stripMargin,
      "Wilson 95% score intervals for per-event-type conversion " +
        "(exact k/n cells, closed form, sqrt-only transcendentals)"),

    // Sharp regression-discontinuity estimate at the zero-balance
    // cutoff: does crossing acctbal = 0 shift total order spend? The
    // textbook RDD shape — local linear fits on each side of the
    // cutoff within a fixed bandwidth, effect = right intercept minus
    // left intercept AT the cutoff (x is centered on the cutoff, so
    // the intercepts ARE the boundary values; no extrapolation term).
    // Exactness: running variable and outcome are integer cents;
    // ALL five OLS moments for BOTH sides come from ONE conditional
    // 1-row reduction (exact decimal products), and the closed-form
    // slopes/intercepts are identical IEEE expressions on both
    // engines. Degenerate sides (n < 2 or zero x-variance) emit NULL
    // estimates via explicit CASE guards — the q_ipw contract. Scale:
    // one custkey-keyed partial agg (the corpus shuffle), a customer-
    // grain join, one scalar reduce; the bandwidth filter prunes
    // before the join-side agg consumes anything.
    "q_rdd" -> GQuery.sql(
      s"""WITH oc AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS yc
        |  FROM orders GROUP BY 1),
        |pan AS (
        |  SELECT xc, COALESCE(yc, 0) AS yc, xc >= 0 AS r FROM (
        |    SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS xc,
        |      c_custkey
        |    FROM customer) c
        |  LEFT JOIN oc ON c.c_custkey = oc.o_custkey
        |  WHERE abs(xc) <= 100000),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN NOT r THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nl,
        |    SUM(CASE WHEN NOT r THEN CAST(xc AS DECIMAL(38,0)) END)
        |      AS sxl,
        |    SUM(CASE WHEN NOT r THEN CAST(yc AS DECIMAL(38,0)) END)
        |      AS syl,
        |    SUM(CASE WHEN NOT r THEN CAST(xc AS DECIMAL(19,0)) *
        |      CAST(xc AS DECIMAL(19,0)) END) AS sxxl,
        |    SUM(CASE WHEN NOT r THEN CAST(xc AS DECIMAL(19,0)) *
        |      CAST(yc AS DECIMAL(19,0)) END) AS sxyl,
        |    CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    SUM(CASE WHEN r THEN CAST(xc AS DECIMAL(38,0)) END) AS sxr,
        |    SUM(CASE WHEN r THEN CAST(yc AS DECIMAL(38,0)) END) AS syr,
        |    SUM(CASE WHEN r THEN CAST(xc AS DECIMAL(19,0)) *
        |      CAST(xc AS DECIMAL(19,0)) END) AS sxxr,
        |    SUM(CASE WHEN r THEN CAST(xc AS DECIMAL(19,0)) *
        |      CAST(yc AS DECIMAL(19,0)) END) AS sxyr
        |  FROM pan)
        |SELECT nl AS n_left, nr AS n_right,
        |  CASE WHEN ${rddGuardE("l")} THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round(${rddB1E("l")} * 1000000.0, 0) AS BIGINT)
        |    END AS slope_l_micro,
        |  CASE WHEN ${rddGuardE("r")} THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round(${rddB1E("r")} * 1000000.0, 0) AS BIGINT)
        |    END AS slope_r_micro,
        |  CASE WHEN ${rddGuardE("l")} OR ${rddGuardE("r")}
        |    THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round(${rddB0E("r")} - ${rddB0E("l")}, 0)
        |      AS BIGINT) END AS effect_cents
        |FROM m""".stripMargin,
      "sharp regression discontinuity at the zero-balance cutoff " +
        "(per-side local OLS from one conditional moment battery)"),

    // Quantile treatment effects at the quartiles — the DISTRIBUTIONAL
    // A/B readout the mean-difference tests (q_ab_test/q_cuped) cannot
    // give: a treatment that moves the tails but not the center shows
    // a zero ATE and a nonzero QTE. Quantiles are the exact type-1
    // (smallest value with CDF >= q) statistic on the CENTI-FROZEN
    // value grid, so the whole readout is INTEGER end to end — per-arm
    // grid counts, an arm-partitioned cumulative window (the q_auc
    // two-phase shape; the grid is bounded by the VALUE DOMAIN, never
    // corpus size), and an integer cum*100 >= tot*q threshold pick.
    // Zero floats, zero 1-row barriers, zero global windows.
    "q_qte" -> GQuery(
      (s, d) => {
        import s.implicits._
        qteFromGridCounts(Tables.load(s, d, "events")
          .filter($"value".isNotNull)
          .select(pmod($"user_id", lit(2L)).as("arm"),
            expr("CAST(round(value * 100.0, 0) AS BIGINT)").as("v2"))
          .groupBy($"arm", $"v2").agg(count(lit(1)).as("n")))
      },
      Some("""WITH e AS (
        |  SELECT user_id % 2 AS arm,
        |    CAST(round(value * 100.0, 0) AS BIGINT) AS v2
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT arm, v2, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1, 2),
        |cm AS (
        |  SELECT arm, v2,
        |    SUM(n) OVER (PARTITION BY arm ORDER BY v2
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(n) OVER (PARTITION BY arm) AS tot
        |  FROM c),
        |qs AS (SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS q_pct),
        |sel AS (
        |  SELECT q_pct, arm, MIN(v2) AS qv
        |  FROM cm, qs WHERE cum * 100 >= tot * q_pct
        |  GROUP BY 1, 2),
        |piv AS (
        |  SELECT q_pct,
        |    MAX(CASE WHEN arm = 0 THEN qv END) AS qc_centi,
        |    MAX(CASE WHEN arm = 1 THEN qv END) AS qt_centi
        |  FROM sel GROUP BY 1)
        |SELECT q_pct, qc_centi, qt_centi,
        |  qt_centi - qc_centi AS qte_centi
        |FROM piv ORDER BY q_pct""".stripMargin),
      "quantile treatment effects at the quartiles: exact type-1 " +
        "grid quantiles per arm, integer end to end (distributional " +
        "A/B beside the mean tests)"),

    // Instrumental-variables 2SLS (one instrument, one endogenous
    // regressor) — the causal-tier classic still missing beside
    // DiD/RDD/IPW/CUPED: when exposure (a user's event count) is
    // endogenous to spend, the house A/B assignment is the instrument,
    // and the Wald/2SLS estimand collapses to the exact moment ratio
    // beta_iv = cov(z,y)/cov(z,x). Emitted alongside: the naive OLS
    // slope (the biased number 2SLS corrects) and the first-stage F
    // (the weak-instrument gate — F < 10 means don't trust the IV).
    // All moments are one user-keyed partial agg + ONE conditional
    // 1-row reduction of exact integers/decimals; every output is a
    // fixed IEEE expression over them. Degenerate cov(z,x) = 0 emits
    // NULL via CASE (the q_rdd contract).
    "q_iv_2sls" -> GQuery.sql(
      s"""WITH u AS (
        |  SELECT user_id % 2 AS z, CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN
        |      CAST(round(value * 1000000.0, 0) AS BIGINT) END), 0)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(z) AS BIGINT) AS sz, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(z * x) AS BIGINT) AS szx,
        |    SUM(CAST(z * y AS DECIMAL(19,0))) AS szy,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |      AS sxx,
        |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |      AS sxy
        |  FROM u)
        |SELECT n,
        |  CASE WHEN $ivCzxE = 0.0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round($ivCzyE / $ivCzxE, 0) AS BIGINT) END
        |    AS beta_iv_micro,
        |  CASE WHEN $ivCxxE = 0.0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round($ivCxyE / $ivCxxE, 0) AS BIGINT) END
        |    AS beta_ols_micro,
        |  CASE WHEN $ivCzzE = 0.0 OR $ivCxxE = 0.0 OR
        |    1.0 - $ivR2E = 0.0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round($ivFstageE * 1000000.0, 0) AS BIGINT) END
        |    AS first_stage_f_micro
        |FROM m""".stripMargin,
      "instrumental-variables 2SLS (Wald ratio) with the naive OLS " +
        "contrast and the first-stage weak-instrument F — one " +
        "conditional moment battery"),

    // Event-study / dynamic DiD — the per-period effect PATH around
    // the treatment date that a single q_did number averages away (and
    // the standard pre-trend check: nonzero "effects" BEFORE the event
    // falsify the parallel-trends assumption). Weeks are indexed
    // relative to the day-15 cutover (the q_cuped period boundary);
    // for each relative week, effect_w = (treated - control mean gap)
    // minus the SAME gap in the base week w = -1 (the textbook
    // normalization, so effect_{-1} = 0 identically). One (arm, week)
    // partial agg over micro-frozen values; the bounded week x arm
    // grid is checkpointed and the 1-row base-week anchor folds out of
    // it — calendar-bounded end to end after the single corpus
    // shuffle.
    "q_event_study" -> GQuery(
      (s, d) => {
        import s.implicits._
        val g = Tables.load(s, d, "events")
          .filter($"value".isNotNull)
          .select(pmod($"user_id", lit(2L)).as("arm"),
            floor(datediff(to_date($"ts"), lit("2024-01-15")) / 7.0)
              .cast("long").as("rw"),
            expr("CAST(round(value * 1000000.0, 0) AS BIGINT)")
              .as("v6"))
          .groupBy($"rw")
          .agg(sum(when($"arm" === 0L, 1L).otherwise(0L)).as("nc"),
            sum(when($"arm" === 0L, $"v6")).as("sc"),
            sum(when($"arm" === 1L, 1L).otherwise(0L)).as("nt"),
            sum(when($"arm" === 1L, $"v6")).as("st"))
          // calendar-bounded week grid, consumed by the base-week
          // anchor AND the readout — checkpoint so the events scan
          // runs once
          .localCheckpoint()
        // base is a 1-row AGGREGATE (max over the at-most-one rw = -1
        // week), not a filter: a corpus with no events in the base week
        // then yields NULL-normalized effect rows instead of the whole
        // result silently vanishing through an empty crossJoin
        val base = g
          .select(expr(s"CASE WHEN rw = -1 THEN $evsGapE END").as("bg"))
          .agg(max($"bg").as("base_gap"))
        g.crossJoin(broadcast(base))
          .select($"rw".as("rel_week"), $"nc", $"nt",
            expr(s"CAST(round($evsGapE, 0) AS BIGINT)")
              .as("gap_micro"),
            expr(s"CAST(round($evsGapE - base_gap, 0) AS BIGINT)")
              .as("effect_micro"))
          .orderBy($"rel_week")
      },
      Some(s"""WITH g AS (
        |  SELECT CAST(floor(date_diff('day', DATE '2024-01-15',
        |      CAST(ts AS DATE)) / 7.0) AS BIGINT) AS rw,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN
        |      CAST(round(value * 1000000.0, 0) AS BIGINT) END)
        |      AS BIGINT) AS sc,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN
        |      CAST(round(value * 1000000.0, 0) AS BIGINT) END)
        |      AS BIGINT) AS st
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |b AS (SELECT max(CASE WHEN rw = -1 THEN $evsGapE END)
        |      AS base_gap FROM g)
        |SELECT rw AS rel_week, nc, nt,
        |  CAST(round($evsGapE, 0) AS BIGINT) AS gap_micro,
        |  CAST(round($evsGapE - base_gap, 0) AS BIGINT)
        |    AS effect_micro
        |FROM g, b ORDER BY rel_week""".stripMargin),
      "event-study / dynamic DiD: per-relative-week treated-control " +
        "gap normalized to the pre-event base week (pre-trend check + " +
        "effect path)"),

    // Nearest-neighbor matching estimator of the ATT — the classic
    // design-based causal method the regression tier (q_ipw,
    // q_stratified_ate, q_rdd) does not cover: each treated unit
    // (BUILDING-segment customer) is matched to its nearest control on
    // the account-balance covariate WITH replacement inside a 5,000-
    // cent caliper, ATT = mean over matched treated of (y_t −
    // y_match). Scale shape is BLOCKED matching, never all-pairs: the
    // caliper doubles as the block width, controls are exploded to
    // their own and the two adjacent buckets (3x, constant), and the
    // candidate join is a bucket EQUI-join whose volume is
    // Σ_b |T_b|·|C_b±1| — caliper-bounded density, the q_link_predict
    // cap discipline. The per-treated argmin is ONE integer-encoded
    // min (dist·1e8 + control_key: exact, ties to the smaller control
    // key, headroom to 1e8 control keys), so both engines pick the
    // identical match. Covariate shifted (+1e5) before bucketing so
    // floor division sees only non-negative operands (Spark div
    // truncates toward zero, DuckDB // floors — identical only on
    // non-negatives). Unmatched treated are counted, not imputed.
    "q_psm_att" -> GQuery(
      (s, d) => {
        import s.implicits._
        val cal = 5000L
        val oc = Tables.load(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("yc"))
        val cust = Tables.load(s, d, "customer")
          .select($"c_custkey", $"c_mktsegment",
            (expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)") +
              lit(100000L)).as("xb"))
          .join(oc, $"c_custkey" === $"o_custkey", "left")
          .select($"c_custkey", $"c_mktsegment", $"xb",
            coalesce($"yc", lit(0L)).as("yc"))
        val treated = cust.filter($"c_mktsegment" === "BUILDING")
          .select($"c_custkey".as("tk"), $"xb".as("tx"),
            $"yc".as("ty"), expr(s"xb div $cal").as("b"))
        val controls = cust.filter($"c_mktsegment" =!= "BUILDING")
          .select($"c_custkey".as("ck"), $"xb".as("cx"), $"yc".as("cy"))
          .withColumn("b", explode(array(
            expr(s"cx div $cal - 1"), expr(s"cx div $cal"),
            expr(s"cx div $cal + 1"))))
        val best = treated.join(controls, Seq("b"))
          .filter(abs($"tx" - $"cx") <= cal)
          .groupBy($"tk", $"ty")
          .agg(min(abs($"tx" - $"cx") * lit(100000000L) + $"ck")
            .as("enc"))
          .select($"tk", $"ty", pmod($"enc", lit(100000000L)).as("mk"))
          .join(controls.select($"ck".as("mk"), $"cy").distinct(), "mk")
        val nt = treated.agg(count(lit(1)).as("n_treated"))
        best.agg(count(lit(1)).as("n_matched"),
          sum(($"ty" - $"cy").cast(
            org.apache.spark.sql.types.DecimalType(38, 0))).as("sdiff"))
          .crossJoin(broadcast(nt))
          .selectExpr("n_treated", "n_matched",
            "CASE WHEN n_matched = 0 THEN CAST(NULL AS BIGINT) ELSE " +
              "CAST(round(CAST(sdiff AS DOUBLE) / " +
              "CAST(n_matched AS DOUBLE), 0) AS BIGINT) END " +
              "AS att_cents")
      },
      Some("""WITH oc AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS yc
        |  FROM orders GROUP BY 1),
        |cust AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000 AS xb,
        |    COALESCE(yc, 0) AS yc
        |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey),
        |t AS (
        |  SELECT c_custkey AS tk, xb AS tx, yc AS ty, xb // 5000 AS b
        |  FROM cust WHERE c_mktsegment = 'BUILDING'),
        |c0 AS (
        |  SELECT c_custkey AS ck, xb AS cx, yc AS cy
        |  FROM cust WHERE c_mktsegment <> 'BUILDING'),
        |c AS (
        |  SELECT ck, cx, cy, cx // 5000 - 1 AS b FROM c0
        |  UNION ALL SELECT ck, cx, cy, cx // 5000 FROM c0
        |  UNION ALL SELECT ck, cx, cy, cx // 5000 + 1 FROM c0),
        |best AS (
        |  SELECT t.tk, t.ty,
        |    MIN(abs(t.tx - c.cx) * 100000000 + c.ck) % 100000000 AS mk
        |  FROM t JOIN c ON t.b = c.b
        |  WHERE abs(t.tx - c.cx) <= 5000
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT best.tk, best.ty, c0.cy
        |  FROM best JOIN c0 ON best.mk = c0.ck),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_treated FROM t),
        |mm AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
        |    SUM(CAST(ty - cy AS DECIMAL(38,0))) AS sdiff
        |  FROM m)
        |SELECT n_treated, n_matched,
        |  CASE WHEN n_matched = 0 THEN CAST(NULL AS BIGINT) ELSE
        |    CAST(round(CAST(sdiff AS DOUBLE) /
        |      CAST(n_matched AS DOUBLE), 0) AS BIGINT)
        |    END AS att_cents
        |FROM mm, nt""".stripMargin),
      "nearest-neighbor caliper matching ATT (blocked candidate join, " +
        "integer-encoded argmin, with replacement)"),

    // Frisch-Waugh-Lovell partialling-out / fixed-effects "within"
    // estimator: the effect of account balance on customer spend with
    // nation fixed effects removed — the double-ML-lite primitive
    // (residualize treatment AND outcome on the confounder, regress
    // residual on residual; for a categorical confounder that is
    // EXACTLY the within-group estimator, no residual materialization
    // needed). β_within = Σ_g(Sdy_g − Sd_g·Sy_g/n_g) / Σ_g(Sdd_g −
    // Sd_g²/n_g): per-group terms come from exact decimal batteries,
    // are rounded to integer cents² and summed as DECIMAL(38) — so the
    // cross-group reduction is order-independent in both engines. The
    // pooled β rides along from the same battery to quantify the
    // confounding the FE absorb. One groupBy(nation) shuffle, one
    // ~25-row reduce; nothing corpus-global.
    "q_fwl_within" -> GQuery.sql(
      s"""WITH oc AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS yc
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c_nationkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS dc,
        |    COALESCE(yc, 0) AS yc
        |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey),
        |g AS (
        |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(dc AS DECIMAL(38,0))) AS sd,
        |    SUM(CAST(yc AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(dc AS DECIMAL(19,0)) * CAST(dc AS DECIMAL(19,0)))
        |      AS sdd,
        |    SUM(CAST(dc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))
        |      AS sdy
        |  FROM base GROUP BY 1),
        |m AS (
        |  SELECT CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    SUM(CAST(round($fwlNumTermE, 0) AS DECIMAL(38,0)))
        |      AS wnum,
        |    SUM(CAST(round($fwlDenTermE, 0) AS DECIMAL(38,0)))
        |      AS wden,
        |    SUM(sd) AS tsd, SUM(sy) AS tsy,
        |    SUM(sdd) AS tsdd, SUM(sdy) AS tsdy
        |  FROM g)
        |SELECT n, n_groups,
        |  CASE WHEN CAST(wden AS DOUBLE) <= 0.0 THEN
        |    CAST(NULL AS BIGINT) ELSE CAST(round(
        |    CAST(wnum AS DOUBLE) / CAST(wden AS DOUBLE) * 1000000.0,
        |    0) AS BIGINT) END AS beta_within_micro,
        |  CASE WHEN $fwlPoolDenE <= 0.0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(round($fwlPoolBetaE * 1000000.0, 0) AS BIGINT)
        |    END AS beta_pooled_micro
        |FROM m""".stripMargin,
      "FWL partialling-out / nation-fixed-effects within estimator " +
        "with the pooled slope for confounding contrast (exact " +
        "decimal batteries, frozen per-group terms)"),

    // Mood's median test across the event types — the nonparametric
    // k-sample location test that only needs counts above/below the
    // GRAND median, so it is robust where q_anova is not and cheaper
    // than the rank tests (no per-group rank sums). ANCHOR-FREE
    // shape: the grand median is never materialized — a grid value v
    // sits strictly above the median iff 2·(cum(v) − cnt(v)) ≥ N, a
    // per-row fact of the cumulative pass over the value-domain-
    // bounded grid (the q_cvm class; N rides the same window as a
    // full-frame sum, same exchange). Per-type cells then come from a
    // v-keyed hash join of the (type, v) grid to those flags, and the
    // 2×k χ² collapses to ONE reduction via its sufficient-statistic
    // identity χ² = N²/(ta·tb)·(Σ_g a_g²/n_g − ta²/N), with each
    // group's a²/n frozen to nano. Exactly two single-partition
    // exchanges: the grid window and the 1-row readout. Degenerate
    // margins (every value on one side) emit NULL.
    "q_mood_median" -> GQuery.sql(
      s"""WITH g2 AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT)
        |    AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |flags AS (
        |  SELECT v, (cum - cv) * 2 >= ntot AS abv FROM (
        |    SELECT v, cv,
        |      SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |        PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |        PRECEDING AND UNBOUNDED FOLLOWING) AS ntot
        |    FROM (SELECT v, CAST(SUM(cnt) AS BIGINT) AS cv
        |          FROM g2 GROUP BY 1))),
        |cells AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN abv THEN cnt ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN abv THEN 0 ELSE cnt END) AS BIGINT)
        |      AS b
        |  FROM g2 JOIN flags ON g2.v = flags.v GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT)
        |      AS tb,
        |    CAST(SUM(CAST(round($moodS9E * 1000000000.0, 0)
        |      AS BIGINT)) AS BIGINT) AS ss9
        |  FROM cells),
        |o AS (
        |  SELECT k, ta + tb AS n,
        |    CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS BIGINT)
        |      ELSE CAST(round($moodChi2E * 1000000.0, 0) AS BIGINT)
        |      END AS chi2_micro
        |  FROM m)
        |SELECT k, n, chi2_micro,
        |  CASE WHEN chi2_micro IS NULL THEN CAST(NULL AS BOOLEAN)
        |    ELSE chi2_micro > 9487729 END AS reject_05
        |FROM o""".stripMargin,
      "Mood's median test across event types (exact grid median, " +
        "frozen per-type χ² terms)"),

    // Bartlett's test of variance homogeneity across the event types —
    // the parametric counterpart of q_levene (more powerful under
    // normality, the standard pre-check before pooling variances).
    // Per-type variances come from exact DECIMAL(18,6) batteries; each
    // ln(s²) is frozen to 9 dp (the q_mutual_info transcendental
    // rule) and each 1/(n_i−1) to 12 dp, so BOTH cross-group sums are
    // exact decimal reductions — order-independent. The pooled
    // variance uses micro-frozen per-type variances over an exact
    // integer-weighted sum. Any type with n < 2 or zero variance
    // NULLs the readout.
    "q_bartlett" -> GQuery.sql(
      s"""WITH g0 AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sg,
        |    SUM(CAST(value AS DECIMAL(18,6)) *
        |      CAST(value AS DECIMAL(18,6))) AS qg
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |g AS (
        |  SELECT ng,
        |    CASE WHEN ng < 2 OR $bartS2E <= 0.0 THEN NULL ELSE
        |      CAST(round($bartS2E * 1000000.0, 0) AS BIGINT) END
        |      AS s2mic,
        |    CASE WHEN ng < 2 OR $bartS2E <= 0.0 THEN NULL ELSE
        |      CAST(round(ln($bartS2E), 9) AS DECIMAL(12,9)) END
        |      AS ln9,
        |    CASE WHEN ng < 2 THEN NULL ELSE
        |      CAST(round(1.0 / CAST(ng - 1 AS DOUBLE), 12) AS
        |      DECIMAL(14,12)) END AS inv12
        |  FROM g0),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM((ng - 1) * s2mic) AS BIGINT) AS ws2,
        |    SUM(CAST(ng - 1 AS DECIMAL(19,0)) * ln9) AS wln,
        |    SUM(inv12) AS sinv,
        |    CAST(SUM(CASE WHEN s2mic IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bad
        |  FROM g),
        |o AS (
        |  SELECT k, n,
        |    CASE WHEN bad > 0 OR k < 2 OR n <= k THEN
        |      CAST(NULL AS BIGINT) ELSE
        |      CAST(round($bartTE * 1000000.0, 0) AS BIGINT) END
        |      AS bartlett_micro
        |  FROM m)
        |SELECT k, n, bartlett_micro,
        |  CASE WHEN bartlett_micro IS NULL THEN CAST(NULL AS BOOLEAN)
        |    ELSE bartlett_micro > 9487729 END AS reject_05
        |FROM o""".stripMargin,
      "Bartlett variance-homogeneity test across event types (frozen " +
        "per-type ln-variances, exact weighted sums)"),

    // Cochran-Armitage trend test: does the return probability TREND
    // with quantity? The 2×k test with ORDERED scores — what q_chi2
    // (unordered) cannot see: a monotone dose-response concentrated in
    // one degree of freedom. Scores are the integer quantity levels,
    // every moment is an exact BIGINT sum over the ≤50-level grid, and
    // the z² statistic is one shared IEEE expression. Degenerate
    // margins (no returns, all returns, or a single level) emit NULL.
    "q_cochran_armitage" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "lineitem")
          .select($"l_quantity".cast("bigint").as("sc"),
            ($"l_returnflag" === "R").cast("long").as("r"))
          .groupBy($"sc")
          .agg(count(lit(1)).as("ng"), sum($"r").as("rg"))
          .agg(count(lit(1)).as("k"), sum($"ng").as("n"),
            sum($"rg").as("rr"),
            sum($"ng" * $"sc").as("ss"),
            sum($"rg" * $"sc").as("srs"),
            sum($"ng" * $"sc" * $"sc").as("sns2"))
          .selectExpr("k", "n", "rr AS n_return",
            s"CASE WHEN $caGuardE THEN CAST(NULL AS BIGINT) ELSE " +
              s"CAST(round($caZ2E * 1000000.0, 0) AS BIGINT) END " +
              "AS z2_micro")
          .selectExpr("k", "n", "n_return", "z2_micro",
            "CASE WHEN z2_micro IS NULL THEN CAST(NULL AS BOOLEAN) " +
              "ELSE z2_micro > 3841459 END AS trend_05")
      },
      Some(s"""WITH g AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS sc,
        |    CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS rg
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(rg) AS BIGINT) AS rr,
        |    CAST(SUM(ng * sc) AS BIGINT) AS ss,
        |    CAST(SUM(rg * sc) AS BIGINT) AS srs,
        |    CAST(SUM(ng * sc * sc) AS BIGINT) AS sns2
        |  FROM g),
        |o AS (
        |  SELECT k, n, rr AS n_return,
        |    CASE WHEN $caGuardE THEN CAST(NULL AS BIGINT) ELSE
        |      CAST(round($caZ2E * 1000000.0, 0) AS BIGINT) END
        |      AS z2_micro
        |  FROM m)
        |SELECT k, n, n_return, z2_micro,
        |  CASE WHEN z2_micro IS NULL THEN CAST(NULL AS BOOLEAN)
        |    ELSE z2_micro > 3841459 END AS trend_05
        |FROM o""".stripMargin),
      "Cochran-Armitage trend test of return rate over quantity " +
        "levels (exact score moments, one reduce)"),

    // Cochran-Mantel-Haenszel test of the segment→activity association
    // STRATIFIED by nation — the epidemiology workhorse that q_chi2
    // and q_odds_ratio cannot replace: it pools 25 per-nation 2×2
    // tables (exposure = BUILDING segment, outcome = placed an order)
    // without letting nation-mix confounding masquerade as
    // association (the aggregate table is exactly where q_simpsons
    // shows the paradox). Per-stratum (a − E) and V are single IEEE
    // expressions over exact cells, frozen to nano before the
    // cross-strata sums; strata too small to carry information
    // (n < 2, or an empty margin → V = 0) contribute zero by the
    // standard convention, stated here and mirrored in the oracle.
    "q_cmh" -> GQuery(
      (s, d) => {
        import s.implicits._
        val oc = Tables.load(s, d, "orders")
          .select($"o_custkey").distinct()
          .withColumn("act", lit(1L))
        val cells = Tables.load(s, d, "customer")
          .join(oc, $"c_custkey" === $"o_custkey", "left")
          .select($"c_nationkey",
            ($"c_mktsegment" === "BUILDING").cast("long").as("e"),
            coalesce($"act", lit(0L)).as("y"))
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("nn"),
            sum($"e").as("r1"),
            sum($"y").as("c1"),
            sum($"e" * $"y").as("a"))
        cells
          .select(
            expr(s"CASE WHEN $cmhSkipE THEN CAST(0 AS BIGINT) ELSE " +
              s"CAST(round($cmhDevE * 1000000000.0, 0) AS BIGINT) " +
              "END").as("dev9"),
            expr(s"CASE WHEN $cmhSkipE THEN CAST(0 AS BIGINT) ELSE " +
              s"CAST(round($cmhVarE * 1000000000.0, 0) AS BIGINT) " +
              "END").as("v9"),
            expr(s"CASE WHEN $cmhSkipE THEN CAST(0 AS BIGINT) ELSE " +
              "CAST(1 AS BIGINT) END").as("used"))
          .agg(count(lit(1)).as("n_strata"), sum($"used").as("n_used"),
            sum($"dev9").as("sdev"), sum($"v9").as("sv"))
          .selectExpr("n_strata", "n_used",
            "CASE WHEN sv <= 0 THEN CAST(NULL AS BIGINT) ELSE " +
              "CAST(round(CAST(sdev AS DOUBLE) * " +
              "CAST(sdev AS DOUBLE) / CAST(sv AS DOUBLE) / " +
              "1000.0, 0) AS BIGINT) END AS cmh_micro")
          .selectExpr("n_strata", "n_used", "cmh_micro",
            "CASE WHEN cmh_micro IS NULL THEN CAST(NULL AS BOOLEAN) " +
              "ELSE cmh_micro > 3841459 END AS assoc_05")
      },
      Some(s"""WITH oc AS (
        |  SELECT DISTINCT o_custkey, 1 AS act FROM orders),
        |cells AS (
        |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS nn,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1
        |      ELSE 0 END) AS BIGINT) AS r1,
        |    CAST(SUM(COALESCE(act, 0)) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'
        |      THEN COALESCE(act, 0) ELSE 0 END) AS BIGINT) AS a
        |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey
        |  GROUP BY 1),
        |t AS (
        |  SELECT
        |    CASE WHEN $cmhSkipE THEN CAST(0 AS BIGINT) ELSE
        |      CAST(round($cmhDevE * 1000000000.0, 0) AS BIGINT) END
        |      AS dev9,
        |    CASE WHEN $cmhSkipE THEN CAST(0 AS BIGINT) ELSE
        |      CAST(round($cmhVarE * 1000000000.0, 0) AS BIGINT) END
        |      AS v9,
        |    CASE WHEN $cmhSkipE THEN 0 ELSE 1 END AS used
        |  FROM cells),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(used) AS BIGINT) AS n_used,
        |    CAST(SUM(dev9) AS BIGINT) AS sdev,
        |    CAST(SUM(v9) AS BIGINT) AS sv
        |  FROM t),
        |o AS (
        |  SELECT n_strata, n_used,
        |    CASE WHEN sv <= 0 THEN CAST(NULL AS BIGINT) ELSE
        |      CAST(round(CAST(sdev AS DOUBLE) * CAST(sdev AS DOUBLE)
        |      / CAST(sv AS DOUBLE) / 1000.0, 0) AS BIGINT) END
        |      AS cmh_micro
        |  FROM m)
        |SELECT n_strata, n_used, cmh_micro,
        |  CASE WHEN cmh_micro IS NULL THEN CAST(NULL AS BOOLEAN)
        |    ELSE cmh_micro > 3841459 END AS assoc_05
        |FROM o""".stripMargin),
      "Cochran-Mantel-Haenszel nation-stratified 2×2 association " +
        "test (frozen per-stratum deviations and variances)"),

    // Intraclass correlation ICC(1) of event values within event
    // types — the reliability coefficient behind "how much of the
    // variance is BETWEEN groups?", the continuous-outcome sibling of
    // q_cohen_kappa/q_krippendorff. One-way ANOVA components from
    // exact DECIMAL batteries: each per-group s²/n term is frozen to
    // micro before the cross-group sum, the unbalanced-design group
    // size n0 uses the exact Σn², and the final ratio is one shared
    // expression. Degenerate designs (k < 2 or zero within variance)
    // emit NULL.
    "q_icc" -> GQuery.sql(
      s"""WITH g0 AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sg,
        |    SUM(CAST(value AS DECIMAL(18,6)) *
        |      CAST(value AS DECIMAL(18,6))) AS qg
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |g AS (
        |  SELECT ng, sg, qg,
        |    CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) /
        |      CAST(ng AS DOUBLE), 6) AS DECIMAL(30,6)) AS s2n
        |  FROM g0),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    SUM(sg) AS ts, SUM(qg) AS tq, SUM(s2n) AS ts2n,
        |    CAST(SUM(ng * ng) AS BIGINT) AS tn2
        |  FROM g)
        |SELECT k, n,
        |  CASE WHEN $iccGuardE THEN CAST(NULL AS BIGINT) ELSE
        |    CAST(round($iccE * 1000000.0, 0) AS BIGINT) END
        |    AS icc_micro
        |FROM m""".stripMargin,
      "intraclass correlation ICC(1) of values within event types " +
        "(exact ANOVA batteries, frozen per-group terms)"),
  )

  /** q_event_study per-week treated-minus-control mean gap (micro):
    * the same text over (nc, sc, nt, st) in both engines. NULL when an
    * arm is empty in the week (st/sc sums of no rows), which both
    * engines propagate identically through the subtraction. */
  private def evsGapE: String =
    "(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) - " +
      "CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))"

  /** q_iv_2sls centered cross-moments (n-scaled covariances — the n
    * factors cancel in every ratio below, so no division happens until
    * the final estimands). */
  private def ivCzxE: String =
    "(CAST(n AS DOUBLE) * CAST(szx AS DOUBLE) - " +
      "CAST(sz AS DOUBLE) * CAST(sx AS DOUBLE))"
  private def ivCzyE: String =
    "(CAST(n AS DOUBLE) * CAST(szy AS DOUBLE) - " +
      "CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE))"
  private def ivCxxE: String =
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
  private def ivCxyE: String =
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"

  /** q_iv_2sls instrument variance term: z is 0/1 so sum(z^2) = sum(z)
    * and n*szz - sz^2 = n*sz - sz^2 exactly. */
  private def ivCzzE: String =
    "(CAST(n AS DOUBLE) * CAST(sz AS DOUBLE) - " +
      "CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))"

  /** q_iv_2sls first-stage R^2 = czx^2 / (czz * cxx). */
  private def ivR2E: String =
    s"($ivCzxE * $ivCzxE / ($ivCzzE * $ivCxxE))"

  /** q_iv_2sls first-stage F for one instrument:
    * (n - 2) * R^2 / (1 - R^2). */
  private def ivFstageE: String =
    s"((CAST(n AS DOUBLE) - 2.0) * $ivR2E / (1.0 - $ivR2E))"

  /** q_qte's readout over an (arm, v2, n) grid-count table: per-arm
    * cumulative window, integer cum*100 >= tot*q threshold pick, arm
    * pivot. Package-visible so QteStream's streamed readout IS this
    * expression tree over its merged partials (grid counts are
    * sum-associative) — the CiStream/QualityStream sharing recipe. */
  private[graft] def qteFromGridCounts(
      c: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import c.sparkSession.implicits._
    c.withColumn("cum", sum($"n").over(
        Window.partitionBy($"arm").orderBy($"v2")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum($"n").over(Window.partitionBy($"arm")))
      .select($"arm", $"v2", $"cum", $"tot",
        explode(expr("array(25L, 50L, 75L)")).as("q_pct"))
      .filter($"cum" * 100L >= $"tot" * $"q_pct")
      .groupBy($"q_pct", $"arm").agg(min($"v2").as("qv"))
      .groupBy($"q_pct")
      .agg(max(when($"arm" === 0L, $"qv")).as("qc_centi"),
        max(when($"arm" === 1L, $"qv")).as("qt_centi"))
      .select($"q_pct", $"qc_centi", $"qt_centi",
        ($"qt_centi" - $"qc_centi").as("qte_centi"))
      .orderBy($"q_pct")
  }

  /** q_wilson_ci fixed 95% constants: z and z^2 as literals so both
    * engines evaluate the identical IEEE expression. Package-visible
    * (like Text.pplLm for QualityStream) so CiStream's readout is the
    * SAME expression tree as the live query — structural sharing, not
    * a parallel edit. */
  // defs, NOT vals: the oracle strings interpolate these at `queries`
  // initialization, which runs BEFORE any later val would be assigned
  // (a val here silently interpolates "null" into the SQL)
  private def wilsonZ = "1.959963984540054"
  private def wilsonZ2 = "3.841458820694124"

  /** q_wilson_ci center term (micro-units): (p + z^2/2n) / (1 + z^2/n). */
  private[graft] def wilsonCtrE: String =
    s"((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + $wilsonZ2 / " +
      "(2.0 * CAST(n AS DOUBLE))) / " +
      s"(1.0 + $wilsonZ2 / CAST(n AS DOUBLE)) * 1000000.0)"

  /** q_wilson_ci half-width (micro-units):
    * z * sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n). */
  private[graft] def wilsonHwE: String = {
    val p = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    s"($wilsonZ * sqrt($p * (1.0 - $p) / CAST(n AS DOUBLE) + " +
      s"$wilsonZ2 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / " +
      s"(1.0 + $wilsonZ2 / CAST(n AS DOUBLE)) * 1000000.0)"
  }

  /** q_rdd per-side OLS denominator n*sxx - sx^2 (suffix l/r). */
  private def rddDenE(p: String): String =
    s"(CAST(n$p AS DOUBLE) * CAST(sxx$p AS DOUBLE) - " +
      s"CAST(sx$p AS DOUBLE) * CAST(sx$p AS DOUBLE))"

  /** q_rdd degenerate-side guard: under 2 points or zero x-variance. */
  private def rddGuardE(p: String): String =
    s"(n$p < 2 OR ${rddDenE(p)} = 0.0)"

  /** q_rdd per-side slope (n*sxy - sx*sy) / den. */
  private def rddB1E(p: String): String =
    s"((CAST(n$p AS DOUBLE) * CAST(sxy$p AS DOUBLE) - " +
      s"CAST(sx$p AS DOUBLE) * CAST(sy$p AS DOUBLE)) / ${rddDenE(p)})"

  /** q_rdd per-side intercept (= the boundary value, x centered on the
    * cutoff): (sy - b1*sx) / n. */
  private def rddB0E(p: String): String =
    s"((CAST(sy$p AS DOUBLE) - ${rddB1E(p)} * CAST(sx$p AS DOUBLE)) " +
      s"/ CAST(n$p AS DOUBLE))"

  /** q_atkinson readout: 1 - exp(mean ln x - ln mean x). */
  private def atkinsonE: String =
    "(1.0 - exp(CAST(sl AS DOUBLE) / CAST(n_cust AS DOUBLE) - " +
      "ln(CAST(sum_cents AS DOUBLE) / CAST(n_cust AS DOUBLE))))"

  /** q_ipw raw stratum propensity nt/(nc+nt). */
  private def ipwRawE: String =
    "(CAST(nt AS DOUBLE) / CAST(nc + nt AS DOUBLE))"

  /** q_ipw clipped propensity: raw bounded into [0.1, 0.9]. */
  private def ipwEE: String =
    s"least(greatest($ipwRawE, 0.1), 0.9)"

  // ---- q_granger closed-form readout over the one-row battery ------
  // centered moments (exact-integer battery -> doubles, identical op
  // order in both engines)
  private def gC(a: String, b: String, sab: String): String =
    s"(CAST($sab AS DOUBLE) - CAST(s$a AS DOUBLE) * " +
      s"CAST(s$b AS DOUBLE) / CAST(n AS DOUBLE))"
  private def grangerC11E: String = gC("y1", "y1", "sy1y1")
  private def grangerC22E: String = gC("x1", "x1", "sx1x1")
  private def grangerC12E: String = gC("y1", "x1", "sy1x1")
  private def grangerC1yE: String = gC("y", "y1", "syy1")
  private def grangerC2yE: String = gC("y", "x1", "syx1")
  private def grangerCyyE: String = gC("y", "y", "syy")
  private def grangerDetE: String =
    s"($grangerC11E * $grangerC22E - $grangerC12E * $grangerC12E)"
  private def grangerB1E: String =
    s"(($grangerC1yE * $grangerC22E - $grangerC2yE * $grangerC12E) " +
      s"/ $grangerDetE)"
  private def grangerB2E: String =
    s"(($grangerC2yE * $grangerC11E - $grangerC1yE * $grangerC12E) " +
      s"/ $grangerDetE)"
  private def grangerSsrUE: String =
    s"($grangerCyyE - $grangerB1E * $grangerC1yE - " +
      s"$grangerB2E * $grangerC2yE)"
  private def grangerSsrRE: String =
    s"($grangerCyyE - $grangerC1yE * $grangerC1yE / $grangerC11E)"
  private def grangerFE: String =
    s"(($grangerSsrRE - $grangerSsrUE) / " +
      s"($grangerSsrUE / CAST(n - 3 AS DOUBLE)))"
  /** Degenerate designs (too few pairs, singular normal equations, or
    * a perfect unrestricted fit) -> NULL readouts in both engines. */
  private def grangerGuardE: String =
    s"(n < 4 OR $grangerDetE <= 0.0 OR $grangerSsrUE <= 0.0 OR " +
      s"$grangerC11E <= 0.0)"

  /** Theil per-customer term (x/mu) ln(x/mu) with mu = sx/n. */
  private def theilTermE: String = {
    val ratio = "(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / " +
      "CAST(sx AS DOUBLE))"
    s"($ratio * ln($ratio))"
  }

  /** Between-nation Theil term s_g ln(s_g / (n_g/n)) with s_g the
    * nation's revenue share. */
  private def theilBetweenE: String = {
    val sg = "(CAST(nx AS DOUBLE) / CAST(sx AS DOUBLE))"
    val pg = "(CAST(n_cust AS DOUBLE) / CAST(n AS DOUBLE))"
    s"($sg * ln($sg / $pg))"
  }

  /** Runs-test expected runs 2 n1 n2/(n1+n2) + 1. */
  private def runsEE: String =
    "(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / " +
      "CAST(n1 + n2 AS DOUBLE) + 1.0)"

  /** Runs-test variance 2n1n2(2n1n2-n1-n2)/((n1+n2)^2(n1+n2-1)). */
  private def runsVE: String =
    "(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
      "(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - " +
      "CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE)) / " +
      "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE) * " +
      "CAST(n1 + n2 - 1 AS DOUBLE)))"

  /** q_hurst per-block R/S at bn-scale: range(cum)/(bn * std) where
    * cum is bn-scaled, std is the population std from raw sums; NULL
    * when the block is constant (std = 0). */
  private def hurstRsE: String = {
    val varE = "(CAST(sxx AS DOUBLE) / CAST(bn AS DOUBLE) - " +
      "CAST(bs AS DOUBLE) / CAST(bn AS DOUBLE) * CAST(bs AS DOUBLE)" +
      " / CAST(bn AS DOUBLE))"
    s"(CASE WHEN $varE <= 0.0 THEN NULL ELSE " +
      "CAST(mx - mn AS DOUBLE) / CAST(bn AS DOUBLE) / " +
      s"sqrt($varE) END)"
  }

  /** q_jackknife_ratio SE from the frozen replicate moments. */
  private def jackSeE: String =
    "sqrt(CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) * " +
      "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
      "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"

  /** q_cooks_distance OLS intercept/slope from exact decimal moments
    * (cents on day-index). */
  private def olsBE: String =
    "((CAST(n AS DOUBLE) * CAST(str AS DOUBLE) - CAST(st AS DOUBLE) " +
      "* CAST(sr AS DOUBLE)) / (CAST(n AS DOUBLE) * " +
      "CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))"
  private def olsAE: String =
    s"((CAST(sr AS DOUBLE) - $olsBE * CAST(st AS DOUBLE)) / " +
      "CAST(n AS DOUBLE))"

  /** q_cooks_distance leverage h_i = 1/n + (t-tbar)^2/Stt_centered. */
  private def cookHE: String = {
    val tb = "(CAST(st AS DOUBLE) / CAST(n AS DOUBLE))"
    val sttC = s"(CAST(stt AS DOUBLE) - $tb * CAST(st AS DOUBLE))"
    s"(1.0 / CAST(n AS DOUBLE) + (CAST(t AS DOUBLE) - $tb) * " +
      s"(CAST(t AS DOUBLE) - $tb) / $sttC)"
  }

  /** Cook's D from the hundredth-cent residual, leverage, and the
    * pooled s^2 = sum(e^2)/(n-2); p = 2 parameters. */
  private def cookDE: String = {
    val e = "(CAST(e2c AS DOUBLE) / 100.0)"
    val s2 = "(CAST(se2 AS DOUBLE) / 10000.0 / CAST(n - 2 AS DOUBLE))"
    s"($e * $e * $cookHE / (2.0 * $s2 * (1.0 - $cookHE) * " +
      s"(1.0 - $cookHE)))"
  }

  /** Abramowitz-Stegun 26.2.23 probit of probability column `p` (in
    * (0,1)): |err| < 4.5e-4, symmetric around 0.5. One string, both
    * engines. */
  private def probitE(p: String): String = {
    def half(q: String) = {
      val t = s"sqrt(-2.0 * ln($q))"
      s"($t - (2.515517 + 0.802853 * $t + 0.010328 * $t * $t) / " +
        s"(1.0 + 1.432788 * $t + 0.189269 * $t * $t + " +
        s"0.001308 * $t * $t * $t))"
    }
    s"(CASE WHEN $p < 0.5 THEN -${half(p)} " +
      s"ELSE ${half(s"(1.0 - $p)")} END)"
  }

  /** Shapiro-Francia W' = corr(x, m)^2 from exact mixed moments. */
  private def sfW2E: String = {
    val num = "(CAST(n AS DOUBLE) * CAST(sxm AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sm AS DOUBLE))"
    val dx = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val dm = "(CAST(n AS DOUBLE) * CAST(smm AS DOUBLE) - " +
      "CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))"
    s"($num * $num / ($dx * $dm))"
  }

  /** q_negbin_fit zeros-included mean: sx/nu. */
  private def nbMeanE: String =
    "(CAST(sx AS DOUBLE) / CAST(nu AS DOUBLE))"

  /** q_negbin_fit zeros-included population variance from raw sums. */
  private def nbVarE: String =
    s"(CAST(sxx AS DOUBLE) / CAST(nu AS DOUBLE) - $nbMeanE * $nbMeanE)"

  /** q_negbin_fit's readout over an `(event_type, user_id, x BIGINT)`
    * per-user count table: zeros-included moments via the distinct-
    * user denominator (non-null ids only, as the oracle's
    * `COUNT(DISTINCT user_id)`), dispersion index, NB size. Public because
    * [[graft.streaming.DispersionStream]] answers the SAME readout
    * from its merged user-grain partials — one expression tree, two
    * tiers (the conformalReadout pattern), so the documented
    * BIT-EQUAL invariant is structural, not held by parallel edits. */
  def negbinReadout(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import counts.sparkSession.implicits._
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val nu = counts.select($"user_id").distinct()
      .agg(count($"user_id").as("nu"))
    counts.groupBy($"event_type")
      .agg(sum($"x").as("sx"),
        sum($"x".cast(d38) * $"x".cast(d38)).as("sxx"))
      .crossJoin(broadcast(nu))
      .select($"event_type", $"nu".as("n_users"),
        expr(s"CAST(round($nbMeanE * 1000000.0, 0) AS BIGINT)")
          .as("mean_micro"),
        expr(s"CAST(round($nbVarE * 1000000.0, 0) AS BIGINT)")
          .as("var_micro"),
        expr(s"CAST(round($nbVarE / $nbMeanE * 1000000.0, 0) " +
          "AS BIGINT)").as("dispersion_micro"),
        expr(s"CASE WHEN $nbVarE > $nbMeanE THEN CAST(round(" +
          s"$nbMeanE * $nbMeanE / ($nbVarE - $nbMeanE) * " +
          "1000000.0, 0) AS BIGINT) ELSE CAST(0 AS BIGINT) END")
          .as("r_micro"),
        expr(s"$nbVarE > $nbMeanE").as("overdispersed"))
      .orderBy($"event_type")
  }

  /** q_stl_lite population variance of a component from (sum, sumsq)
    * with the component's squared scale factor (micro components carry
    * 1e12, the raw series 1). */
  private def stlVarE(s1: String, s2: String, scale: String): String =
    s"((CAST($s2 AS DOUBLE) / CAST(n AS DOUBLE) - CAST($s1 AS DOUBLE)" +
      s" / CAST(n AS DOUBLE) * CAST($s1 AS DOUBLE) / " +
      s"CAST(n AS DOUBLE)) / $scale)"

  /** q_obrien_fleming per-day z: cumulative mean difference over
    * sqrt(g*(1/nc + 1/nt)) — all inputs exact cumulative integers. */
  private def obfZE: String = {
    val mc = "(CAST(sc6 AS DOUBLE) / CAST(nc AS DOUBLE) / 1000000.0)"
    val mt = "(CAST(st6 AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000.0)"
    s"(($mt - $mc) / sqrt(g * (1.0 / CAST(nc AS DOUBLE) + " +
      "1.0 / CAST(nt AS DOUBLE))))"
  }

  /** OBF-shaped boundary at information fraction (nc+nt)/ntot. */
  private def obfBoundE: String =
    "(1.959964 / sqrt(CAST(nc + nt AS DOUBLE) / CAST(ntot AS DOUBLE)))"

  /** q_conformal's readout over a `(day DATE, r BIGINT-cents)` daily
    * revenue table: median-day split, calibration q95 of the |day-7
    * residual|, test-half coverage. Public because
    * [[graft.streaming.ConformalStream]] answers the SAME readout from
    * its merged day-sum partials — one expression tree, two tiers. */
  def conformalReadout(rev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import rev.sparkSession.implicits._
    // day-grain (calendar-bounded, <= ~2.4k rows) and referenced by
    // all three sequential scalar anchors below — checkpoint once so
    // the source scan + day agg + self-join run ONCE, not per anchor
    // (r12 audit: the inlined tree re-scanned the source 6x and
    // carried 4 single-partition barriers; the q_mmr_select pattern)
    val resid = rev.as("a")
      .join(rev.as("b"), $"a.day" === date_add($"b.day", 7))
      .select($"a.day".as("day"), abs($"a.r" - $"b.r").as("ae"))
      .localCheckpoint()
    val cut = resid.agg(
      expr("CAST(round(percentile(datediff(day, DATE " +
        "'1970-01-01'), 0.5), 0) AS INT)").as("cutd"))
    val tagged = resid.crossJoin(broadcast(cut))
      .select($"day", $"ae",
        (datediff($"day", lit("1970-01-01")) <= $"cutd").as("cal"))
      // same day grain, consumed by the q95 anchor AND the coverage
      // readout — checkpoint so the median-cut anchor runs once
      .localCheckpoint()
    val q95 = tagged.filter($"cal")
      .agg(count(lit(1)).as("n_cal"),
        expr("CAST(round(percentile(ae, 0.95) * 10.0, 0) " +
          "AS BIGINT)").as("q1"))
    tagged.filter(!$"cal")
      .crossJoin(broadcast(q95))
      .agg(max($"n_cal").as("n_cal"),
        count(lit(1)).as("n_test"), max($"q1").as("q1"),
        sum(($"ae" * 10 <= $"q1").cast("long")).as("nin"))
      .select($"n_cal", $"n_test",
        expr("q1 div 10").as("q95_cents"),
        expr("CAST(round(CAST(nin AS DOUBLE) / " +
          "CAST(n_test AS DOUBLE) * 1000000.0, 0) AS BIGINT)")
          .as("coverage_micro"))
  }

  /** Welch per-arm sample variance in value units from the exact
    * micro-decimal battery; `a` is the arm suffix ('c' or 't'). */
  private def welchVar(a: String): String =
    s"((CAST(q$a AS DOUBLE) / 1e12 - CAST(s$a AS DOUBLE) / 1e6 * " +
      s"CAST(s$a AS DOUBLE) / 1e6 / CAST(n$a AS DOUBLE)) / " +
      s"CAST(n$a - 1 AS DOUBLE))"

  /** Welch standard error of the mean difference. */
  private def welchSeE: String =
    s"sqrt(${welchVar("c")} / CAST(nc AS DOUBLE) + ${welchVar("t")} " +
      "/ CAST(nt AS DOUBLE))"

  /** q_bh_fdr Welch z from the per-type arm battery. */
  private def welchZE: String =
    "((CAST(st AS DOUBLE) / 1e6 / CAST(nt AS DOUBLE) - " +
      s"CAST(sc AS DOUBLE) / 1e6 / CAST(nc AS DOUBLE)) / $welchSeE)"

  /** q_tost mean difference (treated - control) in value units. */
  private def tostDiffE: String =
    "(CAST(st AS DOUBLE) / 1e6 / CAST(nt AS DOUBLE) - " +
      "CAST(sc AS DOUBLE) / 1e6 / CAST(nc AS DOUBLE))"

  /** q_tost equivalence margin: 5% of the control mean, 9-dp frozen. */
  private def tostDeltaE: String =
    "round(0.05 * CAST(sc AS DOUBLE) / 1e6 / CAST(nc AS DOUBLE), 9)"

  /** q_anderson_darling standardized z from exact sums: (x-mu)/sd with
    * the sample sd. */
  private def adZE: String = {
    val sd = "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
      "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / " +
      "CAST(n - 1 AS DOUBLE))"
    "((CAST(x AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE)) " +
      s"/ (CAST(n AS DOUBLE) * $sd))"
  }

  /** Abramowitz-Stegun 26.2.17 upper-tail 1-Phi(az) for az >= 0 —
    * normal pdf times the 5-term rational polynomial in
    * t = 1/(1 + 0.2316419 az). One string, both engines; `az` is the
    * (non-negative) column expression. Shared by q_anderson_darling,
    * q_bh_fdr, and q_tost. */
  private def gaussTail(az: String): String = {
    val t = s"(1.0 / (1.0 + 0.2316419 * $az))"
    val pdf = s"(exp(-$az * $az / 2.0) / 2.5066282746310002)"
    s"($pdf * ((((1.330274429 * $t - 1.821255978) * $t + " +
      s"1.781477937) * $t - 0.356563782) * $t + 0.319381530) * $t)"
  }

  private def adTailE: String = gaussTail("az")

  /** q_anderson_darling A^2 from the frozen term sum. */
  private def adA2E: String =
    "(-CAST(n AS DOUBLE) - CAST(tsum AS DOUBLE) / CAST(n AS DOUBLE))"

  /** Small-sample correction factor for A*^2 (unknown mean/variance). */
  private def adCorrE: String =
    "(1.0 + 0.75 / CAST(n AS DOUBLE) + 2.25 / (CAST(n AS DOUBLE) * " +
      "CAST(n AS DOUBLE)))"

  /** Croston dissolved-EWMA weight for one row: seed rows (j = base)
    * carry (1-a)^(m-base) * v; later rows carry a*(1-a)^(m-j) * v.
    * alpha = 0.2 fixed. `base` is the seed rank (1 for sizes, 2 for
    * intervals); `v` the smoothed quantity. */
  private def crostonW(base: String, v: String): String =
    s"(CASE WHEN j = $base THEN power(0.8, CAST(m - $base AS DOUBLE)) " +
      s"* CAST($v AS DOUBLE) ELSE 0.2 * power(0.8, " +
      s"CAST(m - j AS DOUBLE)) * CAST($v AS DOUBLE) END)"

  /** q_elasticity OLS slope from the micro-frozen log moments — the
    * 1e12 scale factors cancel between numerator and denominator. */
  private def elastBetaE: String =
    "((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) " +
      "* CAST(sv AS DOUBLE)) / (CAST(n AS DOUBLE) * " +
      "CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)))"

  /** q_elasticity R^2 = corr(u,v)^2 from the same moments. */
  private def elastR2E: String = {
    val num = "(CAST(n AS DOUBLE) * CAST(suv AS DOUBLE) - " +
      "CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))"
    val du = "(CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - " +
      "CAST(su AS DOUBLE) * CAST(su AS DOUBLE))"
    val dv = "(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - " +
      "CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
    s"($num * $num / ($du * $dv))"
  }

  /** The 5-metric Welch p-value battery shared VERBATIM by q_bh_fdr
    * and q_holm (so the two multiple-testing procedures differ only in
    * their decision chains): per event type, the A/B Welch z from
    * exact decimal moments and the two-sided A&S-tail p, 9-dp frozen.
    * One (type, arm)-keyed partial-agg shuffle; output is the
    * category-bounded (event_type, z_micro, p9) table. */
  private def welchP(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables.load(s, d, "events")
      .filter($"value".isNotNull)
      .select($"event_type", pmod($"user_id", lit(2L)).as("arm"),
        expr("CAST(round(value * 1000000.0, 0) AS BIGINT)").as("v6"))
      .groupBy($"event_type", $"arm")
      .agg(count(lit(1)).as("n"), sum($"v6".cast(d38)).as("sv"),
        sum($"v6".cast(d38) * $"v6".cast(d38)).as("qv"))
      .groupBy($"event_type")
      .agg(max(when($"arm" === 0L, $"n")).as("nc"),
        max(when($"arm" === 0L, $"sv")).as("sc"),
        max(when($"arm" === 0L, $"qv")).as("qc"),
        max(when($"arm" === 1L, $"n")).as("nt"),
        max(when($"arm" === 1L, $"sv")).as("st"),
        max(when($"arm" === 1L, $"qv")).as("qt"))
      .select($"event_type", expr(welchZE).as("z"))
      .select($"event_type", $"z", abs($"z").as("az"))
      .select($"event_type",
        expr("CAST(round(z * 1000000.0, 0) AS BIGINT)").as("z_micro"),
        expr(s"CAST(round(2.0 * ${gaussTail("az")}, 9) " +
          "AS DECIMAL(12,9))").as("p9"))
  }

  /** DuckDB CTE prefix mirroring [[welchP]] (w/z1/z2/p, ending at the
    * (event_type, z_micro, p9) table `p`). */
  private def welchPCtesE: String =
    s"""w AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT)
       |      AS nc,
       |    SUM(CASE WHEN user_id % 2 = 0 THEN CAST(v6 AS
       |      DECIMAL(38,0)) END) AS sc,
       |    SUM(CASE WHEN user_id % 2 = 0 THEN CAST(v6 AS
       |      DECIMAL(38,0)) * CAST(v6 AS DECIMAL(38,0)) END) AS qc,
       |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT)
       |      AS nt,
       |    SUM(CASE WHEN user_id % 2 = 1 THEN CAST(v6 AS
       |      DECIMAL(38,0)) END) AS st,
       |    SUM(CASE WHEN user_id % 2 = 1 THEN CAST(v6 AS
       |      DECIMAL(38,0)) * CAST(v6 AS DECIMAL(38,0)) END) AS qt
       |  FROM (SELECT event_type, user_id,
       |      CAST(round(value * 1000000.0, 0) AS BIGINT) AS v6
       |    FROM events WHERE value IS NOT NULL)
       |  GROUP BY 1),
       |z1 AS (SELECT event_type, $welchZE AS z FROM w),
       |z2 AS (SELECT event_type, z, abs(z) AS az FROM z1),
       |p AS (
       |  SELECT event_type,
       |    CAST(round(z * 1000000.0, 0) AS BIGINT) AS z_micro,
       |    CAST(round(2.0 * ${gaussTail("az")}, 9) AS DECIMAL(12,9))
       |      AS p9
       |  FROM z2)""".stripMargin

  /** q_yule_walker gap-correct lag-k covariance from raw sums, with the
    * GLOBAL series mean mu = s1/nd: (sxy - mu*sx - mu*sy + nk*mu^2)/nk.
    * One string, both engines. */
  private def ywCovE(k: String): String = {
    val mu = "(CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE))"
    s"((CAST(sxy$k AS DOUBLE) - $mu * CAST(sx$k AS DOUBLE) - " +
      s"$mu * CAST(sy$k AS DOUBLE) + CAST(n$k AS DOUBLE) * $mu * $mu)" +
      s" / CAST(n$k AS DOUBLE))"
  }

  /** q_yule_walker lag-0 variance from raw sums (population form, the
    * YW convention). */
  private def ywC0E: String = {
    val mu = "(CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE))"
    s"((CAST(s2 AS DOUBLE) / CAST(nd AS DOUBLE)) - $mu * $mu)"
  }

  /** q_periodogram 9-dp frozen trig factor at period k, day offset t. */
  private def trig9(fn: String): String =
    s"round($fn(2.0 * pi() * CAST(t AS DOUBLE) / CAST(k AS DOUBLE)), 9)"

  /** q_fwl_within per-group within-numerator Sdy − Sd·Sy/n (cents²). */
  private def fwlNumTermE: String =
    "(CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * " +
      "CAST(sy AS DOUBLE) / CAST(ng AS DOUBLE))"

  /** q_fwl_within per-group within-denominator Sdd − Sd²/n (cents²). */
  private def fwlDenTermE: String =
    "(CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * " +
      "CAST(sd AS DOUBLE) / CAST(ng AS DOUBLE))"

  /** q_fwl_within pooled-slope denominator n·Sdd − Sd². */
  private def fwlPoolDenE: String =
    "(CAST(n AS DOUBLE) * CAST(tsdd AS DOUBLE) - " +
      "CAST(tsd AS DOUBLE) * CAST(tsd AS DOUBLE))"

  /** q_fwl_within pooled slope (n·Sdy − Sd·Sy) / (n·Sdd − Sd²). */
  private def fwlPoolBetaE: String =
    "((CAST(n AS DOUBLE) * CAST(tsdy AS DOUBLE) - " +
      "CAST(tsd AS DOUBLE) * CAST(tsy AS DOUBLE)) / " +
      s"$fwlPoolDenE)"

  /** Double cast shorthand for the round-15 test-tier strings. */
  private def ifD(c: String): String = s"CAST($c AS DOUBLE)"

  /** q_mood_median per-group sufficient statistic a²/n_g (frozen to
    * nano before the cross-group sum; margins never touch it). */
  private def moodS9E: String =
    s"(${ifD("a")} * ${ifD("a")} / ${ifD("a + b")})"

  /** q_mood_median χ² from the one-reduction sufficient statistics:
    * N²/(ta·tb)·(Σ a²/n − ta²/N). */
  private def moodChi2E: String =
    s"((${ifD("ta + tb")} * ${ifD("ta + tb")} / " +
      s"(${ifD("ta")} * ${ifD("tb")})) * " +
      s"(${ifD("ss9")} / 1000000000.0 - " +
      s"${ifD("ta")} * ${ifD("ta")} / ${ifD("ta + tb")}))"

  /** q_bartlett per-type sample variance from the exact battery. */
  private def bartS2E: String =
    s"((${ifD("ng")} * ${ifD("qg")} - ${ifD("sg")} * ${ifD("sg")}) / " +
      s"(${ifD("ng")} * ${ifD("ng - 1")}))"

  /** q_bartlett statistic T = [(N−k)·ln s²_p − Σ(nᵢ−1)·ln s²ᵢ] / C. */
  private def bartTE: String = {
    val s2p = s"(${ifD("ws2")} / 1000000.0 / ${ifD("n - k")})"
    val num = s"(${ifD("n - k")} * round(ln($s2p), 9) - ${ifD("wln")})"
    val c = s"(1.0 + (${ifD("sinv")} - 1.0 / ${ifD("n - k")}) / " +
      s"(3.0 * ${ifD("k - 1")}))"
    s"($num / $c)"
  }

  /** q_cochran_armitage degenerate guard. */
  private def caGuardE: String =
    s"(k < 2 OR rr = 0 OR rr = n OR (${ifD("sns2")} - " +
      s"${ifD("ss")} * ${ifD("ss")} / ${ifD("n")}) <= 0.0)"

  /** q_cochran_armitage trend z² over the exact score moments. */
  private def caZ2E: String = {
    val p = s"(${ifD("rr")} / ${ifD("n")})"
    val num = s"(${ifD("srs")} - $p * ${ifD("ss")})"
    val den = s"($p * (1.0 - $p) * (${ifD("sns2")} - " +
      s"${ifD("ss")} * ${ifD("ss")} / ${ifD("n")}))"
    s"($num * $num / $den)"
  }

  /** q_cmh strata skipped by the standard convention (V would be 0). */
  private def cmhSkipE: String =
    "(nn < 2 OR r1 = 0 OR r1 = nn OR c1 = 0 OR c1 = nn)"

  /** q_cmh per-stratum a − E(a). */
  private def cmhDevE: String =
    s"(${ifD("a")} - ${ifD("r1")} * ${ifD("c1")} / ${ifD("nn")})"

  /** q_cmh per-stratum hypergeometric variance. */
  private def cmhVarE: String =
    s"(${ifD("r1")} * ${ifD("nn - r1")} * ${ifD("c1")} * " +
      s"${ifD("nn - c1")} / (${ifD("nn")} * ${ifD("nn")} * " +
      s"${ifD("nn - 1")}))"

  /** q_icc ANOVA pieces over the summed batteries. */
  private def iccSsbE: String =
    s"(${ifD("ts2n")} - ${ifD("ts")} * ${ifD("ts")} / ${ifD("n")})"
  private def iccSswE: String =
    s"(${ifD("tq")} - ${ifD("ts2n")})"
  private def iccN0E: String =
    s"((${ifD("n")} - ${ifD("tn2")} / ${ifD("n")}) / ${ifD("k - 1")})"

  /** q_icc degenerate guard: trivial design or zero within variance
    * (the denominator would vanish). */
  private def iccGuardE: String = {
    val msb = s"($iccSsbE / ${ifD("k - 1")})"
    val msw = s"($iccSswE / ${ifD("n - k")})"
    s"(k < 2 OR n <= k OR $iccSswE <= 0.0 OR " +
      s"($msb + ($iccN0E - 1.0) * $msw) = 0.0)"
  }

  /** q_icc ICC(1) = (MSB − MSW) / (MSB + (n₀−1)·MSW). */
  private def iccE: String = {
    val msb = s"($iccSsbE / ${ifD("k - 1")})"
    val msw = s"($iccSswE / ${ifD("n - k")})"
    s"(($msb - $msw) / ($msb + ($iccN0E - 1.0) * $msw))"
  }
}
