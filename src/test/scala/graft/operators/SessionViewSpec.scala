package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Building a query leaves the caller's session views alone: the SQL-text
  * queries bind the testdata tables per call instead of registering
  * views under the tables' names. */
class SessionViewSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private val names = Seq("q_exists_subquery", "q_lateral_topk",
    "q_skew_moments", "q_grouping_sets")

  test("a session view named like a table survives, and results are right") {
    // results from a session that has no views of its own
    val fresh = spark.newSession()
    val expected = names.map(n => SparkEntry.queries(n)(fresh, d).collect().toSeq)
    val views = Seq("orders", "customer", "lineitem", "orders_v")
    views.foreach(v => Seq(7L, 8L, 9L).toDF("id").createOrReplaceTempView(v))
    try {
      val got = names.map(n => SparkEntry.queries(n)(spark, d).collect().toSeq)
      names.zip(got.zip(expected)).foreach { case (n, (g, e)) =>
        assert(g.nonEmpty && g == e, n)
      }
      views.foreach { v =>
        assert(spark.table(v).columns.toSeq == Seq("id"), s"view $v was replaced")
        assert(spark.table(v).as[Long].collect().toSeq == Seq(7L, 8L, 9L))
      }
    } finally views.foreach(spark.catalog.dropTempView)
  }
}
