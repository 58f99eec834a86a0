package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.TimestampType

/** `GQuery.sql`'s per-call table binding: every reference to a testdata
  * table (in the main query, a CTE body or a subquery) reads the table in
  * the dir passed to `fn`, never a session view, and CTE names shadow
  * tables as in DuckDB. */
class GQuerySqlSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def run(text: String): DataFrame = GQuery.sql(text).fn(spark, dir)
  private def count(text: String): Long = run(text).as[Long].head()
  private def orders = Tables.load(spark, dir, "orders")
  private def nOrders = orders.count()

  test("a table named only inside a CTE body is bound") {
    assert(count(
      """WITH u AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COUNT(*) FROM u""".stripMargin) ==
      orders.filter($"o_orderkey" % 2 === 0).count())
    // a CTE body nested in another CTE body
    assert(count(
      """WITH a AS (WITH b AS (SELECT o_orderkey FROM orders)
        |  SELECT * FROM b)
        |SELECT COUNT(*) FROM a""".stripMargin) == nOrders)
  }

  test("a table named only inside an EXISTS, IN or scalar subquery is bound") {
    val keys = orders.select($"o_orderkey").as[Long].collect()
    val (in, out) = (keys.min, keys.max + 1)
    assert(count(
      s"""SELECT COUNT(*) FROM VALUES ($in), ($out) AS t(k)
         |WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = k)""".stripMargin) == 1)
    assert(count(
      s"""SELECT COUNT(*) FROM VALUES ($in), ($out) AS t(k)
         |WHERE k IN (SELECT o_orderkey FROM orders)""".stripMargin) == 1)
    assert(count("SELECT (SELECT COUNT(*) FROM orders) AS n") == nOrders)
  }

  test("a session view named like a table is neither read nor replaced") {
    Seq(7L, 8L, 9L).toDF("id").createOrReplaceTempView("orders")
    try {
      assert(count("SELECT COUNT(*) FROM orders") == nOrders)
      assert(spark.table("orders").as[Long].collect().toSeq == Seq(7L, 8L, 9L))
    } finally spark.catalog.dropTempView("orders")
  }

  test("a CTE named like a table shadows the table after its definition") {
    assert(count(
      """WITH orders AS (SELECT 1 AS o_orderkey)
        |SELECT COUNT(*) FROM orders""".stripMargin) == 1)
    // inside its own (non-recursive) body the name is still the table
    assert(count(
      """WITH orders AS (SELECT o_orderkey FROM orders WHERE o_orderkey < 100)
        |SELECT COUNT(*) FROM orders""".stripMargin) ==
      orders.filter($"o_orderkey" < 100).count())
    // and in a subquery of the main query it is the CTE
    assert(count(
      """WITH orders AS (SELECT 1 AS o_orderkey)
        |SELECT (SELECT COUNT(*) FROM orders) AS n""".stripMargin) == 1)
  }

  test("a self-join gets fresh attribute ids on each side") {
    val viaSql = count(
      """SELECT COUNT(*) FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |""".stripMargin)
    val (a, b) = (orders.as("a"), orders.as("b"))
    val viaDf = a.join(b, $"a.o_custkey" === $"b.o_custkey" &&
      $"a.o_orderkey" < $"b.o_orderkey").count()
    assert(viaSql == viaDf && viaDf > 0)
  }

  test("events.ts is a TimestampType") {
    assert(run("SELECT ts FROM events").schema("ts").dataType == TimestampType)
  }

  test("a second construction in one session runs no Spark job") {
    val text =
      """WITH u AS (SELECT o_custkey FROM orders)
        |SELECT c_custkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM u)""".stripMargin
    run(text)
    assert(countJobs(run(text)) == 0)
  }
}
