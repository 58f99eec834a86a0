package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SQL-front-end query shapes (SURVEY.md §2 relational extension tier):
  * correlated EXISTS / NOT EXISTS, correlated LATERAL subqueries, date-spine
  * generation, exact higher-moment statistics, and map-typed aggregation.
  *
  * The SQL ones run their text on Spark through [[GQuery.run]]'s per-call
  * table binding (no session views) — deliberately: they exercise
  * Catalyst's subquery machinery (RewritePredicateSubquery turns
  * EXISTS/NOT EXISTS into semi/anti hash joins; DecorrelateInnerQuery turns
  * the per-row LATERAL limit into a ranked window — both verified in
  * PlanSpec), which the DataFrame-API operators elsewhere don't touch. The
  * reference has no subquery support at all (R/main.R's single join is the
  * only multi-table shape), so this whole file is extension surface.
  */
object SqlShapes {

  val queries: Seq[(String, GQuery)] = Seq(

    // Correlated EXISTS + NOT EXISTS — planned as one semi join and one
    // anti join on o_custkey (shuffle on the key, no per-row probing).
    "q_exists_subquery" -> GQuery.sql(
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |    WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
      "correlated EXISTS/NOT EXISTS → semi + anti join"),

    // Correlated LATERAL with per-row ORDER BY/LIMIT — top-2 orders per
    // customer. Catalyst decorrelates to a partitioned rank window, so the
    // per-customer limit costs one shuffle, not |customers| subqueries.
    "q_lateral_topk" -> GQuery.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
      "correlated LATERAL top-k per key"),

    // Date-spine generation with zero-fill — the calendar-dimension pattern
    // (reporting over months with no orders must show 0, not a gap). The
    // spine is sequence() over the min/max bounds: O(#months) rows from a
    // 2-row aggregate, never a driver-side loop.
    "q_date_spine" -> GQuery(
      (s, d) => GQuery.run(s, d, """WITH b AS (
          |  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) lo,
          |         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) hi
          |  FROM orders),
          |spine AS (
          |  SELECT explode(sequence(lo, hi, interval 1 month)) AS month_start
          |  FROM b),
          |m AS (
          |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) month_start,
          |         COUNT(*) n
          |  FROM orders GROUP BY 1)
          |SELECT s.month_start, COALESCE(m.n, 0) AS n_orders
          |FROM spine s LEFT JOIN m ON s.month_start = m.month_start
          |ORDER BY s.month_start""".stripMargin),
      Some("""WITH b AS (
        |  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) lo,
        |         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) hi
        |  FROM orders),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL '1 month'))
        |    AS DATE) AS month_start FROM b),
        |m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) month_start,
        |         COUNT(*) n
        |  FROM orders GROUP BY 1)
        |SELECT s.month_start, COALESCE(m.n, 0) AS n_orders
        |FROM spine s LEFT JOIN m ON s.month_start = m.month_start
        |ORDER BY s.month_start""".stripMargin),
      "date-spine month dimension with zero-fill"),

    // Exact skewness / excess kurtosis from integer power sums: l_quantity
    // is integral, so Σq..Σq⁴ are exact BIGINTs on both engines (DuckDB
    // widens to HUGEINT — also exact) and the only floating-point math is
    // the identical final formula over exact sums. Spark's built-in
    // skewness()/kurtosis() stream doubles and are order-sensitive; this
    // formulation is the deterministic scale-out version: one partial-agg
    // shuffle of 5 numbers per group.
    "q_skew_moments" -> GQuery.sql(
      """WITH s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS BIGINT)) AS s1,
        |    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
        |    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS s3,
        |    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s4
        |  FROM lineitem GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n,
        |    CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
        |    CAST(s3 AS DOUBLE) / n AS m3, CAST(s4 AS DOUBLE) / n AS m4
        |  FROM s)
        |SELECT l_returnflag, n, m1 AS mean,
        |  (m2 - m1 * m1) AS variance,
        |  (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
        |    / power(m2 - m1 * m1, 1.5) AS skewness,
        |  (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
        |    / power(m2 - m1 * m1, 2) - 3 AS kurtosis_excess
        |FROM m ORDER BY l_returnflag""".stripMargin,
      "exact higher moments (skewness, kurtosis) via integer power sums"),

    // Map-typed aggregation: per source, lang → doc-count as a map column,
    // surfaced as comma-joined scalar strings (the compare harness hashes
    // scalar cells; array-typed output columns crash its pandas sort —
    // ADVICE r2). map_from_entries/map_keys/map_values still exercised.
    "q_map_funcs" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "documents")
          .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
          .groupBy($"source")
          .agg(map_from_entries(array_sort(collect_list(struct($"lang", $"n"))))
            .as("m"))
          .select($"source",
            size(map_keys($"m")).cast("bigint").as("n_langs"),
            concat_ws(",", map_keys($"m")).as("langs"),
            concat_ws(",", transform(map_values($"m"), _.cast("string")))
              .as("lang_counts"))
          .orderBy($"source")
      },
      Some("""SELECT source,
        |  CAST(len(list(lang ORDER BY lang)) AS BIGINT) AS n_langs,
        |  array_to_string(list(lang ORDER BY lang), ',') AS langs,
        |  array_to_string(list(CAST(n AS VARCHAR) ORDER BY lang), ',')
        |    AS lang_counts
        |FROM (SELECT source, lang, COUNT(*) n FROM documents GROUP BY 1, 2)
        |GROUP BY source ORDER BY source""".stripMargin),
      "map aggregation (map_from_entries / map_keys / map_values)"),

    // Gaps-and-islands: collapse each customer's consecutive runs of the
    // same order priority into SCD2-style validity rows (valid_from /
    // valid_to / run length) — the dimension-versioning shape every
    // warehouse needs and naive GROUP BY cannot express (it merges
    // non-adjacent runs). Change flags via lag, island ids via running
    // sum of flags, one grouped rollup — all on ONE customer-keyed
    // exchange. Ordering is total ((date, orderkey)) so both engines
    // build identical islands.
    "q_scd2_islands" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        val run = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, d, "orders")
          .select($"o_custkey", $"o_orderkey", $"o_orderdate",
            $"o_orderpriority")
          .withColumn("chg",
            when(lag($"o_orderpriority", 1).over(w).isNull ||
              lag($"o_orderpriority", 1).over(w) =!= $"o_orderpriority", 1L)
              .otherwise(0L))
          .withColumn("island", sum($"chg").over(run))
          .groupBy($"o_custkey", $"island", $"o_orderpriority")
          .agg(min($"o_orderdate").as("valid_from"),
            max($"o_orderdate").as("valid_to"),
            count(lit(1)).as("n_orders"))
          .select($"o_custkey", $"island", $"o_orderpriority",
            $"valid_from", $"valid_to", $"n_orders")
          .orderBy($"o_custkey", $"island")
      },
      Some("""WITH f AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    CASE WHEN lag(o_orderpriority) OVER
        |        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |        IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS chg
        |  FROM orders),
        |i AS (
        |  SELECT *, SUM(chg) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS island
        |  FROM f)
        |SELECT o_custkey, CAST(island AS BIGINT) AS island, o_orderpriority,
        |  min(o_orderdate) AS valid_from, max(o_orderdate) AS valid_to,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM i GROUP BY 1, 2, 3 ORDER BY o_custkey, island""".stripMargin),
      "gaps-and-islands run collapse -> SCD2 validity rows"),

    // Referential-integrity audit: orphan counts for every foreign-key
    // relationship in the star (lineitem->orders, lineitem->part,
    // lineitem->supplier, orders->customer, customer->nation) — the
    // data-quality gate a warehouse load runs before trusting joins.
    // Each check is one left-anti join (broadcast when the parent is a
    // dim); results union into one audit table.
    "q_fk_integrity" -> GQuery(
      (s, d) => {
        import s.implicits._
        // five independent anti-join count audits; checkpoint each
        // 1-row RESULT (the ee746d2 anchor pattern) so the plan is a
        // union of five precomputed rows instead of five stacked
        // single-partition barriers (r13 audit: singlepart x5). r15: the
        // five materialization jobs are independent — run them
        // CONCURRENTLY (Fns.parMat, guide §2.6) for ~max(job) instead of
        // sum(job) wall-clock; per-audit plans and results unchanged.
        def orphans(child: DataFrame, key: String, parent: DataFrame,
            pkey: String, rel: String) = {
          val p = parent.select(col(pkey).as(key)).distinct()
          child.select(col(key)).join(p, Seq(key), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
            .select(lit(rel).as("relationship"), $"n_orphans")
        }
        val li = Tables.load(s, d, "lineitem")
        val o = Tables.load(s, d, "orders")
        val c = Tables.load(s, d, "customer")
        graft.Fns.parMat(Seq(
            orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders"),
            orphans(li, "l_partkey",
              Tables.load(s, d, "part"), "p_partkey", "lineitem->part"),
            orphans(li, "l_suppkey", Tables.load(s, d, "supplier"),
              "s_suppkey", "lineitem->supplier"),
            orphans(o, "o_custkey", c, "c_custkey", "orders->customer"),
            orphans(c, "c_nationkey", Tables.load(s, d, "nation"),
              "n_nationkey", "customer->nation")))
          .reduce(_ unionByName _)
          .orderBy($"relationship")
      },
      Some("""SELECT relationship, n_orphans FROM (
        |  SELECT 'lineitem->orders' AS relationship,
        |    CAST(COUNT(*) AS BIGINT) AS n_orphans FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL
        |  SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
        |  UNION ALL
        |  SELECT 'lineitem->supplier', CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
        |  UNION ALL
        |  SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |  UNION ALL
        |  SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT) FROM customer
        |  WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
        |ORDER BY relationship""".stripMargin),
      "referential-integrity orphan audit across the star's foreign keys"),

    // Fact-vs-detail reconciliation: does each order header's total
    // equal the sum of its lines at price*(1-discount)*(1+tax)? The
    // close-of-load audit every finance warehouse runs. All money math
    // is EXACT integer cents (price cents x (100-disc) x (100+tax) =
    // a 10^-6-dollar scaled long), so the mismatch set is identical on
    // both engines — no float tolerance games. One header-keyed partial
    // agg + one join; emits a one-row summary.
    "q_order_reconcile" -> GQuery(
      (s, d) => {
        import s.implicits._
        val lines = Tables.load(s, d, "lineitem")
          .select($"l_orderkey",
            (round($"l_extendedprice" * 100, 0).cast("bigint") *
              (lit(100L) - round($"l_discount" * 100, 0).cast("bigint")) *
              (lit(100L) + round($"l_tax" * 100, 0).cast("bigint")))
              .as("line_scaled"))
          .groupBy($"l_orderkey")
          .agg(sum($"line_scaled").as("comp_scaled"))
        Tables.load(s, d, "orders")
          .select($"o_orderkey",
            (round($"o_totalprice" * 100, 0).cast("bigint") * lit(10000L))
              .as("total_scaled"))
          .join(lines, $"o_orderkey" === $"l_orderkey", "left")
          .select($"o_orderkey", $"total_scaled", $"comp_scaled",
            abs($"comp_scaled" - $"total_scaled").as("diff_scaled"))
          .agg(
            count(lit(1)).as("n_orders"),
            sum(when($"comp_scaled".isNull, 1L).otherwise(0L))
              .as("n_no_lines"),
            sum(when($"diff_scaled" === 0L, 1L).otherwise(0L))
              .as("n_exact_match"),
            sum(when($"diff_scaled" > 0L, 1L).otherwise(0L))
              .as("n_mismatch"),
            round(max($"diff_scaled").cast("double") / lit(1e6), 6)
              .as("max_diff_dollars"))
      },
      Some("""WITH l AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
        |      * (100 + CAST(round(l_tax * 100, 0) AS BIGINT)))
        |      AS BIGINT) AS comp_scaled
        |  FROM lineitem GROUP BY l_orderkey),
        |j AS (
        |  SELECT o.o_orderkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) * 10000
        |      AS total_scaled,
        |    l.comp_scaled,
        |    abs(l.comp_scaled - CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |      * 10000) AS diff_scaled
        |  FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN comp_scaled IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_no_lines,
        |  CAST(SUM(CASE WHEN diff_scaled = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_exact_match,
        |  CAST(SUM(CASE WHEN diff_scaled > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mismatch,
        |  round(CAST(MAX(diff_scaled) AS DOUBLE) / 1e6, 6)
        |    AS max_diff_dollars
        |FROM j""".stripMargin),
      "exact-cents order-vs-lineitem reconciliation summary"),
  )
}
