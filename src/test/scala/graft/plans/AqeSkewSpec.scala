package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** AQE skew-join splitting (the runtime half of the skew story — the
  * static half, key salting, is operators/Skew + SkewSpec): a hot key
  * that would pin one reducer gets its shuffle partition SPLIT at runtime
  * into advisory-sized slices, each joined against a replicated copy of
  * the other side. This pin proves our shuffle-join shapes stay eligible
  * — at 100 TB this is what turns "one straggler runs for hours" into
  * even tasks with no code change. Thresholds are lowered because the
  * test data is tiny (defaults arm at 256 MB partitions). */
class AqeSkewSpec extends SparkSpec {
  import spark.implicits._

  test("a hot key's partition is split (skew=true) and the result is exact") {
    val keys = Map(
      // pinned ON: this spec tests AQE itself, whatever the shared
      // session's setting
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val prev = keys.keys.map(k => k -> spark.conf.getOption(k)).toMap
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 80% of 400k left rows share key 0; right side is uniform. The
      // consumer is a GLOBAL aggregate: a per-join-key groupBy would
      // reuse the join's hash distribution, and AQE (correctly) declines
      // to split skew when that forces an extra shuffle — eligibility
      // needs the join output to not feed a same-key distribution.
      def left = spark.range(400000).select(
        when($"id" % 10 <= 7, lit(0L)).otherwise($"id" % 97).as("k"),
        $"id".as("payload"))
      def right = spark.range(2000).select(($"id" % 97).as("k"),
        $"id".as("rv"))
      // one instance: the AQE final plan lives on the executed Dataset
      val j = left.join(right, "k").agg(count(lit(1)).as("n"))

      val total = j.collect().head.getLong(0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not split the hot key:\n${plan.take(1200)}")
      assert(plan.contains("skewed"), "no skewed AQEShuffleRead")

      // exactness, computed independently: Σ_k |L_k|·|R_k|
      val expected = left.groupBy($"k").count()
        .withColumnRenamed("count", "nl")
        .join(right.groupBy($"k").count().withColumnRenamed("count", "nr"),
          "k")
        .agg(sum($"nl" * $"nr")).collect().head.getLong(0)
      assert(total == expected, s"join count $total != $expected")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
