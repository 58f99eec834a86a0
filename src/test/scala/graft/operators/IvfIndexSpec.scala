package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IvfIndex: centroid precompute/caching, the sampled production-path
  * builder, and cell assignment (the partition-layout hook). Runs on the
  * sf0.001 testdata embeddings. */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("exact centroids are cached: second call returns the same instance") {
    val c1 = IvfIndex.centroidsExact(spark, dir)
    val c2 = IvfIndex.centroidsExact(spark, dir)
    assert(c1 eq c2) // memoized — queries never re-train
    val rows = c1.collect()
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("label").distinct().count()
    assert(rows.length == labels)
    val dim = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(size($"embedding")).as[Int].head()
    rows.foreach(r => assert(r.getSeq[Double](1).length == dim))
  }

  test("sampled centroids: deterministic, and full-fraction matches exact") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val s1 = IvfIndex.centroidsSampled(e, fraction = 0.5, seed = 7)
    val s2 = IvfIndex.centroidsSampled(e, fraction = 0.5, seed = 7)
    // hash-keyed sampling (not rand()) -> bit-identical across runs
    assert(s1.orderBy("label").collect().toSeq ==
      s2.orderBy("label").collect().toSeq)
    // fraction 1.0 keeps every row, so the sampled builder must agree with
    // the exact one up to float-vs-decimal summation (cosine ~ 1)
    val exact = IvfIndex.centroidsExact(spark, dir)
      .select($"label", $"cvec".as("evec"))
    val agreement = IvfIndex.centroidsSampled(e, fraction = 1.0)
      .join(exact, "label")
      .select(graft.functions.VectorOps.cosine($"cvec", $"evec").as("c"))
      .agg(min($"c")).as[Double].head()
    assert(agreement > 1 - 1e-9, s"full-fraction drifted: min cos $agreement")
  }

  test("cell-partitioned layout: IVF probe is a partition-pruned scan") {
    // the 100 TB layout SCALE.md promises: corpus written partitionBy cell
    // id, so routing a query to its cell prunes at the FILE level
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cells = IvfIndex.assignCells(e, IvfIndex.centroidsExact(spark, dir))
    val out = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    cells.write.mode("overwrite").partitionBy("cell_id").parquet(out)
    val probe = spark.read.parquet(out).filter($"cell_id" === 1)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(1000))
    assert(probe.count() ==
      cells.filter($"cell_id" === 1).count()) // pruned scan, same rows
  }

  test("assignCells tags every vector with exactly its argmax-cosine cell") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cent = IvfIndex.centroidsExact(spark, dir)
    val cells = IvfIndex.assignCells(e, cent)
    assert(cells.count() == e.count()) // one row per vector, no dup/drop
    // independent recomputation of the argmax (aggregate, not window):
    // every vector must land in the cell a brute-force argmax picks
    val expected = e
      .crossJoin(broadcast(cent.select($"label".as("cid"), $"cvec")))
      .select($"vec_id",
        graft.functions.VectorOps.cosine($"embedding", $"cvec").as("c"),
        $"cid")
      .groupBy($"vec_id")
      .agg(max(struct($"c", -$"cid")).getField("col2").as("neg_cid"))
      .select($"vec_id", (-$"neg_cid").as("expected_cell"))
    val wrong = cells.select($"vec_id", $"cell_id")
      .join(expected, "vec_id")
      .filter($"cell_id" =!= $"expected_cell")
      .count()
    assert(wrong == 0, s"$wrong vectors routed to a non-argmax cell")
  }
}
