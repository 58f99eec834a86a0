package graft.plans

import graft.SparkSpec
import graft.operators.AsOf
import org.apache.spark.sql.functions._

/** Hot-key behavior of the native as-of join. AQE will place, reuse and
  * coalesce the exchanges feeding a CUSTOM exec, but its skew-join split
  * rewrites only the built-in shuffled joins — so the skew mitigation
  * under test is [[AsOf.asofJoinSalted]]: deterministic left-side salting
  * with right-group replication, row-identical to the unsalted operator.
  */
class SkewedAsOfSpec extends SparkSpec {
  import spark.implicits._

  /** 90% of left rows share key 0 — the shape that pins one reducer. */
  private def skewedInputs(seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val left = (1 to 30000).map { i =>
      val k = if (rnd.nextInt(10) < 9) 0L else rnd.nextInt(50).toLong
      (i.toLong, k, rnd.nextInt(100000).toLong)
    }.toDF("l_id", "k", "t")
    val right = (1 to 2000).map { i =>
      (rnd.nextInt(50).toLong, rnd.nextInt(100000).toLong, s"p$i")
    }.distinctBy(r => (r._1, r._2)).toDF("k", "rt", "payload")
    (left, right)
  }

  test("salted as-of is row-identical to the unsalted native operator") {
    for (seed <- Seq(11L, 23L)) {
      val (left, right) = skewedInputs(seed)
      val plain = AsOf
        .asofJoinNative(left, right, "k", "t", "rt", Seq("payload"))
        .select($"l_id", $"payload").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
      val salted = AsOf
        .asofJoinSalted(left, right, "k", "t", "rt", Seq("payload"),
          buckets = 8)
        .select($"l_id", $"payload").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
      assert(salted.size == plain.size, s"seed $seed row count")
      assert(salted == plain, s"seed $seed")
    }
  }

  test("salting widens the hot key across buckets in the exchange key") {
    val (left, right) = skewedInputs(7L)
    val df = AsOf.asofJoinSalted(left, right, "k", "t", "rt",
      Seq("payload"), buckets = 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // both exchanges must partition on (k, __salt) — the hot key now
    // spreads over `buckets` reducers instead of one
    assert(plan.linesIterator.count(l =>
      l.contains("hashpartitioning(k#") && l.contains("__salt")) >= 2,
      plan.take(2000))
    // and the left salt is a deterministic function of the row, so a
    // retried task re-salts identically (no rand())
    assert(!plan.contains("rand("), "salt must be deterministic")
  }

  test("AQE manages (coalesces) the exchanges feeding the custom exec") {
    // pinned ON: this test asserts AQE behavior, whatever the shared
    // session's setting
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
    val (left, right) = skewedInputs(3L)
    val df = AsOf.asofJoinNative(left, right, "k", "t", "rt", Seq("payload"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the custom operator's declared ClusteredDistribution still flows
    // through AQE: shuffle reads are adaptive (coalescible), proving the
    // exec composes with runtime re-planning even though skew-SPLIT is
    // reserved for built-in joins
    assert(plan.contains("AQEShuffleRead"), plan.take(2000))
    } finally prevAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }
}
