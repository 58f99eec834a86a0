package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

/** [[Memo]]: derived indexes follow their input tables, a hit runs no
  * Spark job, a failed build stores nothing, nested builds work, and a
  * session gets its own [[Fns.spread]] estimate. */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** A writable copy of the sf0.001 tables `names`. */
  private def copyOf(names: String*): String = {
    val d = Files.createTempDirectory("graft_memo").toString
    names.foreach(n => Files.copy(Paths.get(s"$sf/$n.parquet"),
      Paths.get(s"$d/$n.parquet")))
    d
  }

  /** Rewrites the single-file table `d/name.parquet` with `extra(old)`'s
    * rows appended. */
  private def append(d: String, name: String)(
      extra: DataFrame => DataFrame): Unit = {
    val path = s"$d/$name.parquet"
    val old = spark.read.parquet(path)
    val staging = Files.createTempDirectory("graft_memo_w").toString
    old.unionByName(extra(old)).coalesce(1).write.parquet(s"$staging/t")
    val part = new java.io.File(s"$staging/t").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(path),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `c + (max of c in df)`, in c's own type: keys past every old key. */
  private def shifted(df: DataFrame, c: String): Column =
    (col(c) + lit(df.agg(max(col(c))).head().get(0)))
      .cast(df.schema(c).dataType)

  private def run(s: SparkSession, q: String, d: String): Seq[Row] =
    SparkEntry.queries(q)(s, d).collect().toSeq

  /** Row-wise equality, doubles within a rounding ulp of 6 dp. */
  private def same(got: Seq[Row], want: Seq[Row]): Boolean =
    got.length == want.length && got.zip(want).forall { case (g, w) =>
      g.toSeq.zip(w.toSeq).forall {
        case (x: Double, y: Double) => math.abs(x - y) <= 2e-6
        case (x, y) => x == y
      }
    }

  test("an index rebuilds after its input tables grow") {
    val d = copyOf("lineitem", "orders", "documents")
    val queries = Seq("q_kendall_tau", "q_pagerank2", "q_dup_clusters")
    val before = queries.map(q => q -> run(spark, q, d)).toMap

    // new orders for new customers, and low-quantity line items on them:
    // the kendall grid, the trade graph and its ranks all change
    append(d, "orders")(o => o
      .withColumn("o_custkey", shifted(o, "o_custkey"))
      .withColumn("o_orderkey", shifted(o, "o_orderkey")))
    val maxOrder = spark.read.parquet(s"$sf/orders.parquet")
      .agg(max($"o_orderkey")).head().get(0)
    append(d, "lineitem")(l => l
      .filter($"l_quantity" <= 10)
      .withColumn("l_orderkey", ($"l_orderkey" + lit(maxOrder))
        .cast(l.schema("l_orderkey").dataType)))
    // exact copies of some documents join their clusters
    append(d, "documents")(t => t
      .filter($"doc_id" % 7 === 0)
      .withColumn("doc_id", shifted(t, "doc_id")))

    val fresh = spark.newSession()
    val stale = queries.filterNot { q =>
      val want = run(fresh, q, d)
      assert(want != before(q), s"$q: the appended rows change nothing")
      same(run(spark, q, d), want)
    }
    assert(stale.isEmpty, "stale results after the append")
  }

  test("a second call in one session runs no Spark job") {
    val d = copyOf("lineitem")
    val roots = Tables.roots(d, "lineitem")
    def grid: DataFrame = Memo(spark, "MemoSpec.grid", roots) {
      Tables.load(spark, d, "lineitem").groupBy($"l_quantity")
        .count().localCheckpoint()
    }
    val first = countJobs(grid)
    val again = countJobs(grid)
    assert(first >= 1, "the first build checkpoints in a Spark job")
    assert(again == 0, s"$again Spark jobs on a memo hit")
    assert(grid eq grid)
    // the same for a query whose construction builds a memoized index
    run(spark, "q_kendall_tau", d)
    val construct = countJobs(SparkEntry.queries("q_kendall_tau")(spark, d))
    assert(construct == 0, s"$construct jobs constructing q_kendall_tau")
  }

  test("a build that throws leaves no entry; builds may nest") {
    val roots = Tables.roots(sf, "region")
    intercept[IllegalStateException] {
      Memo[Int](spark, "MemoSpec.failing", roots) {
        throw new IllegalStateException("build failed")
      }
    }
    var builds = 0
    def value: Int = Memo(spark, "MemoSpec.failing", roots) {
      builds += 1; 7
    }
    assert(value == 7 && value == 7)
    assert(builds == 1)
    // a build calling another memo: no lock is held while building
    val nested = Memo(spark, "MemoSpec.outer", roots) {
      Memo(spark, "MemoSpec.inner", roots)(20) + 1
    }
    assert(nested == 21)
  }

  test("each session gets its own spread estimate") {
    def repartitioned(df: DataFrame): Boolean =
      Fns.spread(df).queryExecution.analyzed
        .find(_.isInstanceOf[Repartition]).isDefined
    val d = copyOf("documents")
    // 1 KB splits cut the 64 KB table into more splits than cores
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    assert(!repartitioned(Tables.load(small, d, "documents")))
    // default 128 MB splits scan it as one split: it must be spread
    val default = spark.newSession()
    assert(repartitioned(Tables.load(default, d, "documents")))
  }
}
