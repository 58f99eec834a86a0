package graft.operators

import graft.{GQuery, Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Checkpoint.CutOps

/** Link-graph centrality (SURVEY.md §2.11 extension tier): PageRank over
  * an edge table — the quality signal web-scale corpus pipelines attach
  * to documents (CommonCrawl-style centrality filtering) and the third
  * member of graft's iterative-operator family beside [[Dedup.clusters]]
  * and [[Bpe.train]].
  *
  * Scale shape: the per-edge weight table (src, dst, 1/out_deg) is built
  * ONCE, partitioned by src, and checkpointed — each round then performs
  * one keyed join of that static table against the current rank table
  * (only the O(nodes) rank side shuffles) plus a partial-aggregated
  * shuffle of (dst, contribution): O(edges) map work, O(nodes) shuffled
  * bytes per round. Lineage is cut via [[Checkpoint.cut]] every
  * `checkpointInterval` rounds rather than every round — executor-local
  * by default, a fault-tolerant FS checkpoint under
  * `spark.graft.checkpoint.mode=reliable` (the preemptible-cluster
  * setting; see [[Checkpoint]]) — each checkpoint
  * is an eager materialization job, and at small scale those fixed job
  * costs dominate (10 per-round checkpoints were ~60% of q_pagerank's
  * 6.5 s at sf0.1); a 3-round interval keeps the plan bounded while
  * amortizing the job overhead. Driver state: the loop counter plus (in
  * the optional modes) one O(1) scalar per round.
  */
object Graph {

  /** PageRank over directed `edges` (columns `src`, `dst`); returns
    * (id, rank). Fixed iteration count — callers pick it; ~10 is the
    * usual centrality-signal setting.
    *
    * @param redistributeDangling when true, rank mass sitting on sink
    *   nodes (no out-edges) is redistributed uniformly each round — the
    *   standard formulation for real web graphs, where sinks are common
    *   and dropped mass deflates every rank. Costs one O(nodes) scalar
    *   aggregate per round (an anti-join against the out-edge key set).
    *   The default (off) matches the simple drop-sink-mass variant.
    * @param tol optional L1 convergence threshold: iteration stops early
    *   once the L1 delta between consecutive CHECKPOINTED rank tables
    *   falls below `tol`. Checked only at checkpoint boundaries (where
    *   the table is materialized anyway), so the check costs one join +
    *   scalar agg per `checkpointInterval` rounds; a multi-round delta
    *   below `tol` implies every per-round delta inside the interval was
    *   smaller still, so the stop is conservative.
    */
  /** The static, reusable preprocessing of a PageRank run: checkpointed
    * edges, the distinct node table + its count, and the per-edge weight
    * table partitioned on the join key. Building this costs four eager
    * lineage-cut jobs ([[Checkpoint.cut]]) plus a count — fixed latency that dominates a
    * SHORT run (2 rounds) at small scale, so callers that rank the same
    * graph repeatedly (bench reps, pagerank vs pagerank2) should build it
    * once via [[prepareGraph]]/[[tradeGraph]] and share it. */
  final class PreparedGraph(
      val nodes: DataFrame, val n: Double, val eDeg: DataFrame) {
    // Distinct out-edge sources: the complement of the sink-node set.
    // Lazy — only the redistributeDangling mode pays for it.
    lazy val srcIds: DataFrame =
      eDeg.select(col("src").as("id")).distinct().cut
  }

  def prepareGraph(edges: DataFrame): PreparedGraph = {
    val e = edges.select(col("src"), col("dst")).cut
    // r15: the node table (+ its count) and the weight table derive
    // INDEPENDENTLY from the checkpointed e — their materialization
    // jobs run concurrently (guide §2.6) instead of as three chained
    // barriers; each job's plan and the resulting tables are unchanged.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val nodesF = Future {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct().cut
      (nodes, nodes.count().toDouble)
    }
    // Static per-edge weight table, partitioned on the join key so each
    // round's join shuffles only the rank side.
    // out_deg rides along for deterministic (integer-nano) mode's exact
    // floor-division contributions; double mode reads only w
    val eDegF = Future {
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("out_deg")), "src")
        .select(col("src"), col("dst"),
          (lit(1.0) / col("out_deg")).as("w"), col("out_deg"))
        .repartition(col("src"))
        .cut
    }
    val (nodes, n) = Await.result(nodesF, Duration.Inf)
    new PreparedGraph(nodes, n, Await.result(eDegF, Duration.Inf))
  }

  def pageRank(
      edges: DataFrame,
      iterations: Int = 10,
      damping: Double = 0.85,
      checkpointInterval: Int = 3,
      redistributeDangling: Boolean = false,
      tol: Option[Double] = None,
      deterministic: Boolean = false): DataFrame =
    pageRank(prepareGraph(edges), iterations, damping, checkpointInterval,
      redistributeDangling, tol, deterministic)

  def pageRank(
      g: PreparedGraph,
      iterations: Int,
      damping: Double,
      checkpointInterval: Int,
      redistributeDangling: Boolean,
      tol: Option[Double],
      deterministic: Boolean): DataFrame = {
    // deterministic mode: ranks live on an INTEGER nano grid (BIGINT
    // nano-rank units, 1e-9). Each contribution is rank_nano div
    // out_deg (floor), the damping step is (85 * in_mass) div 100, and
    // the base is 150000000 div n — every operation is exact integer
    // arithmetic, so the result is independent of aggregation order,
    // partitioning, AND engine (Spark `div` == DuckDB `//` on
    // positives). This is what lets q_pagerank carry a DuckDB oracle
    // at 10 rounds, where raw double sums drift ~1 ulp per round and
    // compound; no double round() parity assumption is needed at all.
    // The cost is sub-nano truncation per edge (rank shifts by
    // ~deg nano relative to exact PageRank — invisible at ranking
    // granularity). Dangling redistribution and tol stay double-mode
    // features (their driver-side scalars would need the same freeze
    // to be reproducible).
    require(!deterministic || (!redistributeDangling && tol.isEmpty),
      "deterministic pageRank supports neither dangling redistribution " +
        "nor tol-based early stop")
    require(!deterministic ||
      (damping * 100.0).round.toDouble / 100.0 == damping,
      s"deterministic pageRank needs damping on the 1/100 grid, " +
        s"got $damping")
    val nodes = g.nodes
    val n = g.n
    val nLong = n.toLong
    val eDeg = g.eDeg
    def srcIds = g.srcIds
    var ranks =
      if (deterministic)
        nodes.withColumn("rank", lit(1000000000L / nLong))
      else nodes.withColumn("rank", lit(1.0 / n))
    var lastCheckpointed = ranks
    var it = 0
    var converged = false
    while (it < iterations && !converged) {
      it += 1
      val sinkBoost =
        if (!redistributeDangling) 0.0
        else {
          val dangling = ranks
            .join(srcIds, Seq("id"), "left_anti")
            .agg(coalesce(sum(col("rank")), lit(0.0)))
            .head.getDouble(0)
          damping * dangling / n
        }
      val contrib =
        if (deterministic) expr("rank div out_deg")
        else col("rank") * col("w")
      val contribs = eDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), contrib.as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("in_mass"))
      val newRank =
        if (deterministic)
          // damping as exact integer percent: deterministic mode
          // requires damping on the 1/100 grid so (d*100)*m div 100
          // is exact — 0.85 is. Base term (1-d)/n in nano units:
          // (100-d100)*1e7 div n == floor((1-d)*1e9/n).
          lit((100L - (damping * 100.0).round) * 10000000L / nLong) +
            expr(s"(${(damping * 100.0).round} * " +
              "coalesce(in_mass, CAST(0 AS BIGINT))) div 100")
        else lit((1.0 - damping) / n + sinkBoost) +
          lit(damping) * coalesce(col("in_mass"), lit(0.0))
      val next = nodes
        .join(contribs, Seq("id"), "left")
        .select(col("id"), newRank.as("rank"))
      // Checkpoint only at interval boundaries — NOT on the final round:
      // a final-round checkpoint is one extra eager materialization job
      // whose only consumer is the caller's own action, and returning the
      // live plan instead lets that action (typically orderBy/limit →
      // TakeOrderedAndProject) fuse with the last round's computation.
      // Plan depth stays bounded by `checkpointInterval` rounds.
      if (it % math.max(checkpointInterval, 1) == 0) {
        ranks = next.cut
        tol.foreach { t =>
          val delta = ranks
            .join(lastCheckpointed.withColumnRenamed("rank", "prev"),
              Seq("id"))
            .agg(sum(abs(col("rank") - col("prev"))))
            .head.getDouble(0)
          if (delta < t) converged = true
        }
        lastCheckpointed = ranks
      } else ranks = next
    }
    ranks
  }

  /** The customer->supplier trade graph (orders x lineitem) used by the
    * PageRank queries: edge c<custkey> -> s<suppkey> per distinct trading
    * pair. Memoized per input table stamp (the graph is a derived table —
    * production materializes it once next to the fact tables; both
    * PageRank queries and every bench rep reuse it instead of re-running
    * the fact join + distinct). */
  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    Memo(s, "Graph.tradeEdges", Tables.roots(d, "orders", "lineitem")) {
      import s.implicits._
      Tables.load(s, d, "orders")
        .select($"o_orderkey", $"o_custkey")
        .join(Tables.load(s, d, "lineitem")
          .select($"l_orderkey".as("o_orderkey"), $"l_suppkey"),
          "o_orderkey")
        .select(concat(lit("c"), $"o_custkey").as("src"),
          concat(lit("s"), $"l_suppkey").as("dst"))
        .distinct()
        .cut
    }

  /** [[prepareGraph]] over [[tradeEdges]], memoized on the same tables:
    * the four setup checkpoints + node count are paid once per corpus,
    * not once per pageRank invocation. Without
    * this, EVERY bench rep of q_pagerank2 re-ran the full setup (the only
    * non-iteration work a 2-round rank has), which made its recorded time
    * hostage to bench ordering and rep policy — the r7 driver record
    * showed it at 4.49 s while the isolated sweep measured 1.74 s. */
  private def tradeGraph(s: SparkSession, d: String): PreparedGraph =
    Memo(s, "Graph.tradeGraph", Tables.roots(d, "orders", "lineitem"))(
      prepareGraph(tradeEdges(s, d)))

  /** The SPARSE (high-quantity) trade subgraph q_label_prop propagates
    * over, memoized + checkpointed like [[tradeEdges]]: without this the
    * label-propagation plan re-runs the orders x lineitem join + distinct
    * once per round (the plan tree references the edge table 4 times). */
  private def sparseTradeEdges(s: SparkSession, d: String): DataFrame =
    Memo(s, "Graph.sparseTradeEdges",
        Tables.roots(d, "orders", "lineitem")) {
      import s.implicits._
      Tables.load(s, d, "orders")
        .select($"o_orderkey", $"o_custkey")
        .join(Tables.load(s, d, "lineitem")
          .filter($"l_quantity" >= 45)
          .select($"l_orderkey".as("o_orderkey"), $"l_suppkey"),
          "o_orderkey")
        .select(concat(lit("c"), $"o_custkey").as("src"),
          concat(lit("s"), $"l_suppkey").as("dst"))
        .distinct()
        .cut
    }

  /** Synchronous min-label propagation over UNDIRECTED `edges`
    * (columns `src`, `dst`), `rounds` rounds: every node repeatedly
    * adopts the smallest label in its closed neighborhood (labels start
    * as the node's own id). Deterministic — min over the label type's
    * ordering — and monotone non-increasing, so the fixed point is the
    * connected component's minimum id; `rounds` bounds the label travel
    * distance (component diameter ≤ 2·rounds fully converges). Returns
    * (id, lbl). Per round: ONE keyed join of the (node, label) table
    * against the static edge list + a partial-agg min — O(edges) map
    * work, O(nodes) shuffled bytes; for long-chain graphs use
    * [[Dedup]]'s O(log d) pointer jumping instead. */
  def labelProp(edges: DataFrame, rounds: Int): DataFrame = {
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
    var lab = und.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    (1 to rounds).foreach { _ =>
      val nb = und.join(lab.withColumnRenamed("id", "b")
          .withColumnRenamed("lbl", "nlbl"), "b")
        .groupBy(col("a").as("id")).agg(min(col("nlbl")).as("nb"))
      lab = lab.join(nb, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nb"), col("lbl"))).as("lbl"))
    }
    lab
  }

  /** The q_pagerank2 oracle: 2 damped iterations unrolled as plain SQL
    * CTEs — rank values after two rounds, rounded to 6 dp on both engines
    * (the q_pmi/q_zipf recipe: double-sum order drift across engines is
    * ~1e-16 relative, far under the rounding grain). Literals are written
    * as `(1.0 - 0.85)` in BOTH formulations so the two engines evaluate
    * the identical double. */
  private val pagerank2Sql: String =
    """WITH e AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |         's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
      |c1 AS (
      |  SELECT e.dst AS id, SUM((1.0 / nn.n) / deg.out_deg) AS m
      |  FROM e JOIN deg ON e.src = deg.src CROSS JOIN nn
      |  GROUP BY e.dst),
      |r1 AS (
      |  SELECT nodes.id,
      |         (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c1.m, 0.0) AS rank
      |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.id = c1.id),
      |c2 AS (
      |  SELECT e.dst AS id, SUM(r1.rank / deg.out_deg) AS m
      |  FROM e JOIN deg ON e.src = deg.src JOIN r1 ON r1.id = e.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT nodes.id,
      |         (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c2.m, 0.0) AS rank
      |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.id = c2.id)
      |SELECT id, round(rank, 6) AS rank2 FROM r2 ORDER BY id""".stripMargin

  /** The q_pagerank oracle: `rounds` deterministic (integer-nano)
    * damped iterations unrolled as chained CTEs — the bit-exact SQL
    * twin of [[pageRank]]'s `deterministic = true` mode. Every step is
    * BIGINT floor division (`//` here, `div` in Spark — identical on
    * positives), so no double round() parity assumption is needed even
    * at 10 rounds where per-round FP drift would compound. d100 is the
    * damping in integer percent (85). */
  private def pagerankNanoSql(rounds: Int, d100: Long): String = {
    val head = """WITH e AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |         's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg
      |        FROM e GROUP BY src),
      |ed AS (SELECT e.src, e.dst, deg.out_deg
      |       FROM e JOIN deg ON e.src = deg.src),
      |r0 AS (SELECT nodes.id, 1000000000 // nn.n AS rank
      |       FROM nodes CROSS JOIN nn)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""c$i AS (
        |  SELECT ed.dst AS id,
        |         CAST(SUM(r${i - 1}.rank // ed.out_deg) AS BIGINT) AS m
        |  FROM ed JOIN r${i - 1} ON r${i - 1}.id = ed.src
        |  GROUP BY ed.dst),
        |r$i AS (
        |  SELECT nodes.id,
        |         CAST((${100L - d100} * 10000000) // nn.n +
        |           (($d100 * COALESCE(c$i.m, 0)) // 100) AS BIGINT)
        |           AS rank
        |  FROM nodes CROSS JOIN nn
        |  LEFT JOIN c$i ON nodes.id = c$i.id)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT id, rank AS rank_nano FROM r$rounds" +
      "\nORDER BY rank_nano DESC, id LIMIT 20"
  }

  /** q_triangles' mega-degree cap: customers co-purchasing from more than
    * this many suppliers are dropped before the projection self-join (the
    * [[Contamination.MaxShingleDf]] stopword pattern — a ubiquitous key
    * carries no similarity signal and contributes deg^2 pair rows).
    * Mirrored verbatim in the DuckDB oracle. 64 sits above the sf0.01
    * median (33) and below the sf1 p99 (77), so the cap demonstrably
    * binds in tests while keeping the toy graph connected. */
  val MaxCustDeg = 64

  /** q_clustering_coeff_topk's per-node edge budget: each supplier keeps
    * its k strongest co-purchase edges (union-kNN), so |E| <= k·N —
    * linear in the node universe where the percentile threshold stays
    * quadratic (SWEEP_r14cmp.md: 102x edges for 10x data). 8 is the
    * usual kNN-graph neighborhood size; mirrored verbatim in the
    * oracle. */
  val TopKSimEdges = 8

  /** q_triangles' thresholded supplier-similarity edge table (s1, s2) —
    * the capped co-purchase projection cut at its own 99th-percentile
    * shared-count (see the q_triangles scaladoc for every step's scale
    * rationale; the logic lives here so the eager checkpoint build is
    * memoized per corpus instead of re-paid per query invocation). */
  /** The part-hierarchy adjacency (child, parent = id div 10) shared by
    * q_hierarchy_rollup and q_hierarchy_path — memoized per corpus so
    * the eager checkpoint job runs once across both queries and all
    * bench reps. */
  private def partEdges(s: SparkSession, d: String): DataFrame =
    Memo(s, "Graph.partEdges", Tables.roots(d, "part")) {
      import s.implicits._
      Tables.load(s, d, "part")
        .select($"p_partkey".cast("long").as("id"))
        .filter($"id" >= 10)
        .select($"id".as("child"), expr("id div 10").as("parent"))
        .cut // static adjacency, reused by 5 rounds
    }

  /** The capped co-purchase projection's weighted pair table
    * (s1 < s2, shared) — the common ancestor of BOTH similarity-graph
    * definitions (percentile-thresholded [[supplierSimEdges]] and the
    * scale-safe per-node top-k of q_clustering_coeff_topk), memoized so
    * the projection self-join runs once per corpus across all of them. */
  private def supplierSimPairs(s: SparkSession, d: String): DataFrame =
    Memo(s, "Graph.supplierSimPairs",
        Tables.roots(d, "orders", "lineitem")) {
      import s.implicits._
      val co = Tables.load(s, d, "orders")
        .select($"o_orderkey", $"o_custkey".as("c"))
        .join(Tables.load(s, d, "lineitem")
          .select($"l_orderkey".as("o_orderkey"), $"l_suppkey".as("s")),
          "o_orderkey")
        .select($"c", $"s").distinct()
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"c")))
        .filter($"deg" <= MaxCustDeg)
        .drop("deg")
      // pairs feeds the threshold histogram, the edge filter AND the
      // top-k variant: pin it once (at sf1 the projection join + agg
      // would otherwise run twice — the round-6 sweep's residual 17x
      // was half this)
      co.as("a")
        .join(co.as("b"), col("a.c") === col("b.c") &&
          col("a.s") < col("b.s"))
        .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
        .agg(count(lit(1)).as("shared"))
        .cut
    }

  private def supplierSimEdges(s: SparkSession, d: String): DataFrame =
    Memo(s, "Graph.supplierSimEdges",
        Tables.roots(d, "orders", "lineitem")) {
      import s.implicits._
      val pairs = supplierSimPairs(s, d)
      // 99th percentile of `shared` WITHOUT percentile()'s single sort
      // buffer: the round-6 sf1 sweep showed that buffer (ALL pair rows
      // collected into one task) was the query's superlinear stall
      // (3.2 s -> 61 s for 10x data). `shared` is a small-integer
      // domain, so build the exact CDF from a partial-agg histogram
      // and interpolate order statistics k=floor(h), ceil(h) at
      // h = 0.99*(n-1) — bit-identical to percentile()'s type-7 math
      // (the oracle keeps quantile_cont and stays hash-green), but the
      // only non-distributed step is a window over the DISTINCT-value
      // histogram (bounded by the count domain, not the pair count).
      val hist = pairs.groupBy(col("shared"))
        .agg(count(lit(1)).as("cnt"))
      val cdf = hist
        .withColumn("cum", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("shared"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              0)))
        .crossJoin(broadcast(hist.agg(sum(col("cnt")).as("n"))))
        .withColumn("h", (col("n") - 1).cast("double") * lit(0.99))
      val thr = cdf.agg(
          min(when(col("cum") >= floor(col("h")) + 1, col("shared")))
            .as("vlo"),
          min(when(col("cum") >= ceil(col("h")) + 1, col("shared")))
            .as("vhi"),
          max(col("h")).as("h"))
        .select((col("vlo").cast("double") +
          (col("h") - floor(col("h"))) *
            (col("vhi") - col("vlo")).cast("double")).as("thr"))
      pairs.crossJoin(broadcast(thr))
        .filter($"shared".cast("double") > $"thr")
        .select($"s1", $"s2")
        .cut // reused by three self-joins in q_triangles
    }

  /** Exact global-clustering-coefficient readout over a canonical
    * (s1 < s2) distinct edge table: 3·triangles / wedges with the
    * oriented two-join triangle chain and a single degree rollup —
    * shared by q_clustering_coeff (percentile graph) and
    * q_clustering_coeff_topk (per-node top-k graph) so both
    * definitions are measured by bit-identical math. */
  private def ccFromEdges(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val tri = edges.as("ab")
      .join(edges.as("bc"), col("ab.s2") === col("bc.s1"))
      .join(edges.as("ac"),
        col("ac.s1") === col("ab.s1") && col("ac.s2") === col("bc.s2"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select($"s1".as("s"))
      .unionAll(edges.select($"s2".as("s")))
      .groupBy($"s").agg(count(lit(1)).as("deg"))
    // edge count folded into the wedge reduction (was a separate
    // 1-row barrier — r13 audit: singlepart x3): SUM(deg) = 2*|E|
    // exactly on the distinct-pair edge table
    val wed = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L))
        .as("n_wedges"),
      coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges"))
    // empty-graph contract: below the similarity threshold the edge
    // set can be empty at tiny scale — report explicit zeros, not
    // NULLs
    wed.crossJoin(broadcast(tri))
      .select($"n_nodes", $"n_edges", $"n_triangles",
        $"n_wedges".cast("long").as("n_wedges"),
        expr("CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "CAST(round(3.0 * CAST(n_triangles AS DOUBLE) / " +
          "CAST(n_wedges AS DOUBLE) * 1000000.0, 0) AS BIGINT) " +
          "END").as("cc_micro"))
  }

  val queries: Seq[(String, GQuery)] = Seq(
    // Centrality over the customer->supplier trade graph: 10 PageRank
    // rounds, top-20 by rank. Runs the engine's DETERMINISTIC mode
    // (integer nano-rank arithmetic — see the pageRank scaladoc), which
    // is what makes a 10-round iterative computation hash-comparable
    // against DuckDB at all: every step is exact BIGINT floor division,
    // so there is no per-round FP drift to compound and the oracle is
    // the same update rule unrolled as 10 chained CTEs
    // (pagerankNanoSql). The raw double mode stays golden-tested
    // against an independent in-memory implementation in GraphSpec, and
    // the 2-round unrolled q_pagerank2 below pins ITS semantics.
    "q_pagerank" -> GQuery(
      (s, d) => {
        import s.implicits._
        pageRank(tradeGraph(s, d), iterations = 10, damping = 0.85,
          checkpointInterval = 3, redistributeDangling = false,
          tol = None, deterministic = true)
          .select($"id", $"rank".as("rank_nano"))
          .orderBy($"rank_nano".desc, $"id")
          .limit(20)
      },
      Some(pagerankNanoSql(rounds = 10, d100 = 85L)),
      "PageRank centrality over the customer->supplier graph (10 " +
        "deterministic integer-nano rounds, oracle-checked vs DuckDB)"),

    // The oracle-checked variant (VERDICT r3 #5): the same engine run for
    // exactly 2 iterations, hash-compared against the unrolled-CTE SQL
    // above after 6-dp rounding. This pins the distributed loop's
    // semantics against a second engine, leaving only the 10-round drift
    // (not the algorithm) outside the oracle gate.
    "q_pagerank2" -> GQuery(
      (s, d) => {
        import s.implicits._
        pageRank(tradeGraph(s, d), iterations = 2, damping = 0.85,
          checkpointInterval = 3, redistributeDangling = false,
          tol = None, deterministic = false)
          .select($"id", round($"rank", 6).as("rank2"))
          .orderBy($"id")
      },
      Some(pagerank2Sql),
      "PageRank after 2 unrolled rounds (oracle-checked vs DuckDB CTEs)"),

    // Graph degree diagnostics over the same trade graph: the top-20
    // hub nodes by out-degree plus each hub's share of all edges — the
    // first thing to look at before running centrality (a single
    // mega-hub means salting / skew handling, and the memoized edge
    // table makes this a one-aggregation query).
    "q_degree_hubs" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = tradeEdges(s, d)
        // total edge count folds in as a one-row broadcast — an eager
        // .count() would run a job during plan construction, paid again
        // on every bench rep outside the measured plan
        val tot = e.agg(count(lit(1)).cast("double").as("tot"))
        e.groupBy($"src")
          .agg(count(lit(1)).as("out_deg"))
          .crossJoin(broadcast(tot))
          .select($"src", $"out_deg",
            round($"out_deg".cast("double") / $"tot", 6)
              .as("edge_share"))
          .orderBy($"out_deg".desc, $"src")
          .limit(20)
      },
      Some("""WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tot FROM e)
        |SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg,
        |  round(CAST(COUNT(*) AS DOUBLE) / t.tot, 6) AS edge_share
        |FROM e, t GROUP BY src, t.tot
        |ORDER BY out_deg DESC, src LIMIT 20""".stripMargin),
      "top-20 out-degree hubs + edge share over the trade graph"),

    // Triangle counting over the supplier co-purchase similarity graph.
    // The bipartite trade graph has no triangles by construction, so the
    // unipartite input is its supplier PROJECTION — suppliers linked when
    // they share "many" customers, thresholded at 1.5x the mean shared
    // count (the raw projection of dense random data is complete:
    // C(1000,2) pairs at sf0.1 — thresholding is what makes a similarity
    // graph, exactly like a near-dup pair cut). Shapes, in order: the
    // pair-count build is one (c)-keyed self-join + (s1,s2) partial agg;
    // the threshold — the 99th percentile of shared counts, so the graph
    // keeps its top-1% strongest edges at ANY scale factor (a fixed
    // multiple of the mean degenerates to an empty graph when the count
    // distribution is tight, as it is below sf0.1) — folds in as a
    // one-row broadcast (never an eager collect; exact percentile here,
    // approx_percentile at 100 TB per the q_percentile scale note);
    // triangle enumeration is the canonical two shuffle joins
    // on oriented edges (s1 < s2 everywhere, so each triangle is counted
    // exactly once as a<b<c). At scale the projection join is the
    // guarded step: fan-out is sum_c deg(c)^2, and the guard is IN THE
    // PLAN — customers co-purchasing from more than MaxCustDeg suppliers
    // are dropped before the self-join (the q_contamination MaxShingleDf
    // stopword cap: a ubiquitous customer carries no similarity signal,
    // and one mega-degree customer at 100 TB is otherwise the job's
    // serialized hot spot — deg^2 pair rows from a single key). The cap
    // is a window count over c, whose exchange the c-keyed self-join
    // REUSES (one shuffle, not two), and is mirrored exactly in the
    // DuckDB oracle so the hash check proves the capped semantics.
    "q_triangles" -> GQuery(
      (s, d) => {
        import s.implicits._
        // the thresholded similarity-edge table is a DERIVED CORPUS
        // INDEX (production materializes it beside the fact tables);
        // memoized per (session, dir) like tradeEdges so its eager
        // checkpoint build runs once, not once per invocation (the
        // q_pagerank2 rep-cost lesson)
        val edges = supplierSimEdges(s, d)
        val tri = edges.as("ab")
          .join(edges.as("bc"), col("ab.s2") === col("bc.s1"))
          .join(edges.as("ac"),
            col("ac.s1") === col("ab.s1") && col("ac.s2") === col("bc.s2"))
          .agg(count(lit(1)).as("n_triangles"))
        // node + edge counts folded into ONE reduction over the degree
        // table (was two separate 1-row barriers — r13 audit:
        // singlepart x3): every distinct-pair edge contributes one to
        // each endpoint's degree, so SUM(deg) = 2*|E| exactly
        val deg = edges.select($"s1".as("s"))
          .unionAll(edges.select($"s2".as("s")))
          .groupBy($"s").agg(count(lit(1)).as("deg"))
        val stats = deg.agg(count(lit(1)).as("n_nodes"),
          coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges"))
        stats.crossJoin(broadcast(tri))
          .select($"n_nodes", $"n_edges", $"n_triangles")
      },
      Some(s"""WITH co0 AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |co AS (
        |  SELECT c, s FROM (
        |    SELECT c, s, COUNT(*) OVER (PARTITION BY c) AS deg FROM co0)
        |  WHERE deg <= $MaxCustDeg),
        |p AS (
        |  SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        |  GROUP BY 1, 2),
        |t AS (SELECT quantile_cont(shared, 0.99) AS thr FROM p),
        |e AS (
        |  SELECT s1, s2 FROM p, t WHERE CAST(shared AS DOUBLE) > t.thr),
        |tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM e ab JOIN e bc ON ab.s2 = bc.s1
        |    JOIN e ac ON ac.s1 = ab.s1 AND ac.s2 = bc.s2),
        |nn AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes
        |  FROM (SELECT s1 AS s FROM e UNION SELECT s2 FROM e)),
        |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
        |SELECT nn.n_nodes, ne.n_edges, tri.n_triangles
        |FROM nn, ne, tri""".stripMargin),
      "triangle count over the thresholded supplier co-purchase graph"),

    // Seeded 2-hop frontier expansion (the BFS step): for 20 seed
    // customers, count direct suppliers (hop 1) and the distinct OTHER
    // customers reachable through a shared supplier (hop 2) — the
    // collaborative-filtering neighbor count and the primitive every
    // k-hop graph query is built from. Scale shape: the seed filter
    // prunes hop 1 BEFORE the expansion join (frontier size, not graph
    // size, drives the work — the only way BFS survives a billion-edge
    // graph); both hops are supplier-keyed hash joins on the memoized
    // edge table, and a production run would cap mega-degree suppliers
    // the same way q_contamination caps its inverted index.
    "q_two_hop" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = tradeEdges(s, d)
        val seeds = (1 to 20).map("c" + _)
        val hop1 = e.filter($"src".isin(seeds: _*))
          .select($"src".as("seed"), $"dst".as("sup"))
        val hop2 = hop1.join(
            e.select($"dst".as("sup"), $"src".as("nbr")), "sup")
          .filter($"nbr" =!= $"seed")
        val d1 = hop1.groupBy($"seed")
          .agg(countDistinct($"sup").as("n_direct"))
        val d2 = hop2.groupBy($"seed")
          .agg(countDistinct($"nbr").as("n_two_hop"))
        d1.join(d2, Seq("seed"), "left")
          .select($"seed", $"n_direct",
            coalesce($"n_two_hop", lit(0L)).as("n_two_hop"))
          .orderBy($"seed")
      },
      Some("""WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |seeds AS (
        |  SELECT 'c' || CAST(x AS VARCHAR) AS seed
        |  FROM unnest(generate_series(1, 20)) AS t(x)),
        |h1 AS (
        |  SELECT s.seed, e.dst AS sup FROM e JOIN seeds s ON e.src = s.seed),
        |d1 AS (
        |  SELECT seed, CAST(COUNT(DISTINCT sup) AS BIGINT) AS n_direct
        |  FROM h1 GROUP BY seed),
        |d2 AS (
        |  SELECT h1.seed, CAST(COUNT(DISTINCT e2.src) AS BIGINT) AS n_two_hop
        |  FROM h1 JOIN e e2 ON e2.dst = h1.sup AND e2.src <> h1.seed
        |  GROUP BY h1.seed)
        |SELECT d1.seed, d1.n_direct,
        |  COALESCE(d2.n_two_hop, 0) AS n_two_hop
        |FROM d1 LEFT JOIN d2 ON d1.seed = d2.seed
        |ORDER BY d1.seed""".stripMargin),
      "seeded 2-hop BFS frontier expansion over the trade graph"),

    // Bounded-depth HIERARCHY traversal — the recursive-CTE query family
    // (BOM explosion, org rollups, category trees) Spark famously lacks:
    // re-expressed as depth-many unrolled keyed self-joins, oracle-checked
    // against DuckDB's native WITH RECURSIVE over the SAME edge table.
    // The hierarchy is derived deterministically from the part table
    // (parent = partkey div 10, roots = single-digit keys, max depth 4 at
    // sf0.1), but the PLAN never exploits the arithmetic — it joins the
    // materialized edge table like any adjacency list. Scale shape: each
    // unrolled round is one hash join keyed on the frontier's ancestor
    // column + a union — O(depth) shuffles of frontier-sized tables, the
    // textbook shape for depth<=10 hierarchies (real BOMs/org charts);
    // for DEEP chains the O(log d) pointer-jumping doubling of
    // [[Dedup]]'s q_dup_clusters is the swap, trading rounds for a
    // closure table that doubles per round.
    "q_hierarchy_rollup" -> GQuery(
      (s, d) => {
        import s.implicits._
        // Money lives in the repo's standard micro-unit integer space
        // (cents BIGINT) so the summed column has ONE cross-engine
        // representation: Spark's sum(decimal(18,2)) widens to
        // decimal(28,2) while DuckDB's widens to decimal(38,2), and the
        // driver hashes representation classes strictly — integer cents
        // sidestep the divergence entirely.
        val part = Tables.load(s, d, "part")
          .select($"p_partkey".cast("long").as("id"),
            expr("CAST(round(CAST(p_retailprice AS DOUBLE) * 100) AS BIGINT)")
              .as("v"))
        val edges = partEdges(s, d)
        // ancestor closure, bounded depth 5: (node, anc) pairs
        var frontier = part.select($"id".as("node"), $"id".as("anc"))
        var closure = frontier
        (1 to 5).foreach { _ =>
          frontier = frontier
            .join(edges, frontier("anc") === edges("child"))
            .select($"node", $"parent".as("anc"))
          closure = closure.union(frontier)
        }
        // subtree rollup at the roots: every node's value contributes to
        // each of its ancestors; filter to root-level ancestors
        closure.filter($"anc" <= 9)
          .join(part.withColumnRenamed("id", "node"), "node")
          .groupBy($"anc".as("root"))
          .agg(count(lit(1)).as("n_desc"),
            sum($"v").as("subtree_value_cents"))
          .orderBy($"root")
      },
      Some("""WITH RECURSIVE
        |p AS (SELECT CAST(p_partkey AS BIGINT) AS id,
        |        CAST(round(CAST(p_retailprice AS DOUBLE) * 100) AS BIGINT)
        |          AS v FROM part),
        |e AS (SELECT id AS child, id // 10 AS parent FROM p WHERE id >= 10),
        |cl AS (
        |  SELECT id AS node, id AS anc, 0 AS k FROM p
        |  UNION ALL
        |  SELECT cl.node, e.parent, cl.k + 1
        |  FROM cl JOIN e ON cl.anc = e.child WHERE cl.k < 5)
        |SELECT cl.anc AS root, CAST(COUNT(*) AS BIGINT) AS n_desc,
        |  CAST(SUM(p.v) AS BIGINT) AS subtree_value_cents
        |FROM cl JOIN p ON cl.node = p.id
        |WHERE cl.anc <= 9
        |GROUP BY cl.anc ORDER BY root""".stripMargin),
      "bounded-depth subtree rollup (recursive-CTE family) vs native " +
        "WITH RECURSIVE"),

    // The materialized-path variant: top-down traversal carrying the
    // root->node path string — level k rows exist only after k rounds,
    // exactly a recursive CTE's iteration semantics. Same O(depth)
    // keyed-join shape as the rollup (here keyed on parent: each round
    // expands the current level to its children).
    "q_hierarchy_path" -> GQuery(
      (s, d) => {
        import s.implicits._
        val part = Tables.load(s, d, "part")
          .select($"p_partkey".cast("long").as("id"))
        val edges = partEdges(s, d)
        var level = part.filter($"id" <= 9)
          .select($"id".as("node"), $"id".cast("string").as("path"),
            lit(0).as("depth"))
        var all = level
        (1 to 5).foreach { _ =>
          level = level.join(edges, level("node") === edges("parent"))
            .select($"child".as("node"),
              concat($"path", lit("/"), $"child".cast("string")).as("path"),
              ($"depth" + 1).as("depth"))
          all = all.union(level)
        }
        all.filter($"node".between(100, 199))
          .orderBy($"node")
      },
      Some("""WITH RECURSIVE
        |p AS (SELECT CAST(p_partkey AS BIGINT) AS id FROM part),
        |e AS (SELECT id AS child, id // 10 AS parent FROM p WHERE id >= 10),
        |t AS (
        |  SELECT id AS node, CAST(id AS VARCHAR) AS path, 0 AS depth
        |  FROM p WHERE id <= 9
        |  UNION ALL
        |  SELECT e.child, t.path || '/' || CAST(e.child AS VARCHAR),
        |    t.depth + 1
        |  FROM t JOIN e ON e.parent = t.node WHERE t.depth < 5)
        |SELECT node, path, CAST(depth AS INT) AS depth FROM t
        |WHERE node BETWEEN 100 AND 199 ORDER BY node""".stripMargin),
      "materialized root->node paths via bounded top-down traversal"),

    // Synchronous min-label propagation over the UNDIRECTED trade graph,
    // 3 unrolled rounds — the bounded-round connected-components /
    // community primitive (each node repeatedly adopts the smallest
    // label in its closed neighborhood; labels are monotone
    // non-increasing, so the fixed point is the component minimum).
    // Deterministic — min over strings — hence fully oracle-checkable,
    // unlike float-iterating PageRank. Scale shape: each round is ONE
    // keyed join of the (node, label) table against the static
    // undirected edge list + a partial-agg min — O(edges) map work,
    // O(nodes) shuffled bytes, the q_pagerank economics; round count
    // bounds label distance, so 3 rounds answer "components of diameter
    // <= 6" and FULL CC on a long-chain graph is [[Dedup]]'s
    // q_dup_clusters pointer-jumping (O(log d) rounds), not more of
    // these. Output: the 20 largest label groups after round 3.
    "q_label_prop" -> GQuery(
      (s, d) => {
        import s.implicits._
        // the SPARSE high-quantity trade subgraph (not the dense memoized
        // one): the dense bipartite graph collapses to one giant
        // component in 3 rounds — a 1-row result that exercises nothing;
        // rare edges leave a real component structure for the hash to pin
        labelProp(sparseTradeEdges(s, d), rounds = 3)
          .groupBy($"lbl".as("component"))
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy($"n_nodes".desc, $"component")
          .limit(20)
      },
      Some {
        def rnd(prev: String, cur: String) =
          s"""$cur AS (
             |  SELECT p.id, LEAST(p.lbl, COALESCE(m.nb, p.lbl)) AS lbl
             |  FROM $prev p LEFT JOIN (
             |    SELECT u.a AS id, MIN(l.lbl) AS nb
             |    FROM u JOIN $prev l ON l.id = u.b GROUP BY u.a) m
             |  ON m.id = p.id)"""
        s"""WITH e AS (
           |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
           |         's' || CAST(l_suppkey AS VARCHAR) AS dst
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  WHERE l_quantity >= 45),
           |u AS (SELECT src AS a, dst AS b FROM e
           |      UNION ALL SELECT dst, src FROM e),
           |l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM u),
           |${rnd("l0", "l1")},
           |${rnd("l1", "l2")},
           |${rnd("l2", "l3")}
           |SELECT lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes
           |FROM l3 GROUP BY lbl
           |ORDER BY n_nodes DESC, component LIMIT 20""".stripMargin
      },
      "bounded-round min-label propagation (connected components) vs " +
        "unrolled DuckDB CTEs"),

    // PERSONALIZED PageRank, 2 unrolled rounds: teleport mass restricted
    // to a seed set (customers 1..25) — the "related to THESE nodes"
    // variant behind personalized recommendations and seed-expanded
    // crawl frontiers. Rank stays EXACTLY zero outside the seeds'
    // forward k-hop cone, so the output is the seeds' neighborhood with
    // scores — at 100 TB the frontier-proportional cost story of
    // [[pageRank]] tightens further: only reachable-node rows ever carry
    // mass (the rank table starts |S| rows, not |V|). Same memoized
    // prepared graph, same per-round join shapes, 6-dp rounded for the
    // cross-engine hash (the q_pagerank2 precedent).
    "q_ppr" -> GQuery(
      (s, d) => {
        import s.implicits._
        val g = tradeGraph(s, d)
        val seedCond: org.apache.spark.sql.Column =
          $"id".startsWith("c") &&
            substring($"id", 2, 20).cast("long").between(1, 25)
        // 1-row seed-count anchor broadcast into the init AND both
        // unrolled rounds — checkpoint so its reduction over the node
        // table runs once, not three times (r13 audit: singlepart x3
        // from the duplicated subtree)
        val nsDf = g.nodes.filter(seedCond)
          .agg(count(lit(1)).cast("double").as("ns"))
          .localCheckpoint()
        var r = g.nodes.filter(seedCond)
          .crossJoin(broadcast(nsDf))
          .select($"id", (lit(1.0) / $"ns").as("rank"))
        (1 to 2).foreach { _ =>
          val contribs = g.eDeg
            .join(r.withColumnRenamed("id", "src"), "src")
            .select($"dst".as("id"), ($"rank" * $"w").as("cc"))
            .groupBy($"id").agg(sum($"cc").as("m"))
          r = g.nodes.crossJoin(broadcast(nsDf))
            .join(contribs, Seq("id"), "left")
            .select($"id",
              (when(seedCond, (lit(1.0) - lit(0.85)) / $"ns")
                .otherwise(lit(0.0)) +
                lit(0.85) * coalesce($"m", lit(0.0))).as("rank"))
        }
        r.filter($"rank" > 0)
          .select($"id", round($"rank", 6).as("ppr2"))
          .orderBy($"id")
      },
      Some("""WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |seeds AS (SELECT id FROM nodes
        |  WHERE id LIKE 'c%' AND CAST(SUBSTR(id, 2) AS BIGINT)
        |    BETWEEN 1 AND 25),
        |ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM seeds),
        |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
        |r0 AS (SELECT id, 1.0 / ns.ns AS rank FROM seeds, ns),
        |c1 AS (
        |  SELECT e.dst AS id, SUM(r0.rank / deg.out_deg) AS m
        |  FROM e JOIN deg ON e.src = deg.src JOIN r0 ON r0.id = e.src
        |  GROUP BY e.dst),
        |r1 AS (
        |  SELECT n.id,
        |    (CASE WHEN n.id LIKE 'c%'
        |       AND CAST(SUBSTR(n.id, 2) AS BIGINT) BETWEEN 1 AND 25
        |     THEN (1.0 - 0.85) / ns.ns ELSE 0.0 END)
        |    + 0.85 * COALESCE(c1.m, 0.0) AS rank
        |  FROM nodes n CROSS JOIN ns LEFT JOIN c1 ON c1.id = n.id),
        |c2 AS (
        |  SELECT e.dst AS id, SUM(r1.rank / deg.out_deg) AS m
        |  FROM e JOIN deg ON e.src = deg.src JOIN r1 ON r1.id = e.src
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT n.id,
        |    (CASE WHEN n.id LIKE 'c%'
        |       AND CAST(SUBSTR(n.id, 2) AS BIGINT) BETWEEN 1 AND 25
        |     THEN (1.0 - 0.85) / ns.ns ELSE 0.0 END)
        |    + 0.85 * COALESCE(c2.m, 0.0) AS rank
        |  FROM nodes n CROSS JOIN ns LEFT JOIN c2 ON c2.id = n.id)
        |SELECT id, round(rank, 6) AS ppr2 FROM r2
        |WHERE rank > 0 ORDER BY id""".stripMargin),
      "personalized PageRank (seed-restricted teleport), 2 unrolled " +
        "rounds vs DuckDB CTEs"),

    // HITS hubs & authorities, 2 unrolled rounds — the OTHER classical
    // link-analysis fixed point (Kleinberg), whose mutual
    // hub<->authority recursion PageRank's single score can't express;
    // on the bipartite trade graph hubs are customers and authorities
    // suppliers, so the top-20 authorities are the suppliers most
    // endorsed by well-connected customers. Intermediate L2 norms are
    // DROPPED on both sides: normalization is a per-round scalar, and
    // scalars commute through the linear updates, so normalizing once
    // at the end yields the identical final authority vector — removing
    // two scalar-anchor stages (and their broadcasts) from the plan.
    // Scale shape: each half-round is one keyed join of the score table
    // against the static edge list + partial-agg sum (O(edges)); the
    // single final norm is a one-row broadcast anchor (never an eager
    // collect). 6-dp rounding + id tie-break make the top-20 cut
    // deterministic across engines.
    "q_hits" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = tradeEdges(s, d)
        // h0 = 1 everywhere, so auth1_raw(v) = in-degree(v)
        val a1r = e.groupBy($"dst".as("id"))
          .agg(count(lit(1)).cast("double").as("ar"))
        val h1r = e.join(a1r.withColumnRenamed("id", "dst"), "dst")
          .groupBy($"src".as("id")).agg(sum($"ar").as("hr"))
        val a2r = e.join(h1r.withColumnRenamed("id", "src"), "src")
          .groupBy($"dst".as("id")).agg(sum($"hr").as("ar"))
        val na2 = a2r.agg(sqrt(sum($"ar" * $"ar")).as("na"))
        a2r.crossJoin(broadcast(na2))
          .select($"id", round($"ar" / $"na", 6).as("authority"))
          .orderBy($"authority".desc, $"id")
          .limit(20)
      },
      Some("""WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |a1r AS (SELECT dst AS id, CAST(COUNT(*) AS DOUBLE) AS ar
        |        FROM e GROUP BY dst),
        |h1r AS (SELECT e.src AS id, SUM(a1r.ar) AS hr
        |        FROM e JOIN a1r ON a1r.id = e.dst GROUP BY e.src),
        |a2r AS (SELECT e.dst AS id, SUM(h1r.hr) AS ar
        |        FROM e JOIN h1r ON h1r.id = e.src GROUP BY e.dst),
        |na2 AS (SELECT sqrt(SUM(ar * ar)) AS na FROM a2r)
        |SELECT id, round(ar / na2.na, 6) AS authority FROM a2r, na2
        |ORDER BY authority DESC, id LIMIT 20""".stripMargin),
      "HITS hubs/authorities, 2 rounds, end-normalized (scalars commute " +
        "through the linear updates) vs DuckDB CTEs"),

    // Degree assortativity of the trade graph: the Pearson correlation
    // between the out-degree of an edge's customer endpoint and the
    // in-degree of its supplier endpoint, over edges — the one-number
    // "do hubs link to hubs" diagnostic (Newman 2002) that tells a
    // pipeline whether degree-capped operators (q_triangles' MaxCustDeg
    // guard) will clip correlated or random structure. All moments are
    // exact integer/decimal sums over the edge table; degrees join back
    // via the two degree rollups (corpus-keyed shuffles with map-side
    // partials — no windows, no collects).
    "q_assortativity" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = tradeEdges(s, d)
        val ds = e.groupBy($"src").agg(count(lit(1)).as("dj"))
        val dd = e.groupBy($"dst").agg(count(lit(1)).as("dk"))
        e.join(ds, "src").join(dd, "dst")
          .agg(count(lit(1)).as("n"),
            sum($"dj").as("sj"), sum($"dk").as("sk"),
            sum($"dj".cast(d38) * $"dk".cast(d38)).as("sjk"),
            sum($"dj".cast(d38) * $"dj".cast(d38)).as("sjj"),
            sum($"dk".cast(d38) * $"dk".cast(d38)).as("skk"))
          .select($"n".as("n_edges"),
            expr("CAST(round((CAST(n AS DOUBLE) * CAST(sjk AS DOUBLE)" +
              " - CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE)) / " +
              "(sqrt(CAST(n AS DOUBLE) * CAST(sjj AS DOUBLE) - " +
              "CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) * " +
              "sqrt(CAST(n AS DOUBLE) * CAST(skk AS DOUBLE) - " +
              "CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))) * " +
              "1000000.0, 0) AS BIGINT)").as("r_micro"))
      },
      Some("""WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |ds AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dj
        |  FROM e GROUP BY 1),
        |dd AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS dk
        |  FROM e GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dj) AS BIGINT) AS sj,
        |    CAST(SUM(dk) AS BIGINT) AS sk,
        |    SUM(CAST(dj AS DECIMAL(38,0)) * CAST(dk AS DECIMAL(38,0)))
        |      AS sjk,
        |    SUM(CAST(dj AS DECIMAL(38,0)) * CAST(dj AS DECIMAL(38,0)))
        |      AS sjj,
        |    SUM(CAST(dk AS DECIMAL(38,0)) * CAST(dk AS DECIMAL(38,0)))
        |      AS skk
        |  FROM e JOIN ds USING (src) JOIN dd USING (dst))
        |SELECT n AS n_edges,
        |  CAST(round((CAST(n AS DOUBLE) * CAST(sjk AS DOUBLE) -
        |    CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sjj AS DOUBLE) -
        |    CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) *
        |    sqrt(CAST(n AS DOUBLE) * CAST(skk AS DOUBLE) -
        |    CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))) * 1000000.0, 0)
        |    AS BIGINT) AS r_micro
        |FROM m""".stripMargin),
      "degree assortativity of the trade graph (exact moment sums " +
        "over edges, two degree rollups, one reduce)"),

    // Global clustering coefficient (transitivity) of the thresholded
    // supplier-similarity graph: 3 * triangles / wedges, where wedges =
    // sum over nodes of C(deg, 2) — the "how cliquish is this
    // similarity graph" number that q_triangles' raw count can't give
    // without its denominator. Reuses the memoized capped-projection
    // edge table; the triangle join is q_triangles' oriented two-join
    // chain, the wedge count one degree rollup over the edge list —
    // both exact integers, one IEEE division at the end.
    "q_clustering_coeff" -> GQuery(
      (s, d) => ccFromEdges(supplierSimEdges(s, d)),
      Some(s"""WITH co0 AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |co AS (
        |  SELECT c, s FROM (
        |    SELECT c, s, COUNT(*) OVER (PARTITION BY c) AS deg FROM co0)
        |  WHERE deg <= $MaxCustDeg),
        |p AS (
        |  SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        |  GROUP BY 1, 2),
        |t AS (SELECT quantile_cont(shared, 0.99) AS thr FROM p),
        |e AS (
        |  SELECT s1, s2 FROM p, t WHERE CAST(shared AS DOUBLE) > t.thr),
        |tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM e ab JOIN e bc ON ab.s2 = bc.s1
        |    JOIN e ac ON ac.s1 = ab.s1 AND ac.s2 = bc.s2),
        |deg AS (
        |  SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT s1 AS s FROM e UNION ALL SELECT s2 FROM e)
        |  GROUP BY 1),
        |w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0) AS BIGINT)
        |    AS n_wedges
        |  FROM deg),
        |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_triangles, n_wedges,
        |  CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) ELSE
        |    CAST(round(3.0 * CAST(n_triangles AS DOUBLE) /
        |    CAST(n_wedges AS DOUBLE) * 1000000.0, 0) AS BIGINT) END
        |    AS cc_micro
        |FROM w, ne, tri""".stripMargin),
      "global clustering coefficient of the supplier-similarity " +
        "graph (exact triangle + wedge counts over the capped " +
        "projection)"),

    // The SCALE-SAFE twin of q_clustering_coeff (r14 VERDICT #1): the
    // percentile-thresholded graph definition densifies — keeping the
    // top 1% OF PAIRS keeps |E| quadratic in the node universe
    // (SWEEP_r14cmp.md measured 102x edge growth for 10x data) — so the
    // production knob is PER-NODE top-k: each supplier keeps its k
    // strongest co-purchase edges (shared DESC, neighbor id ASC ties),
    // an edge survives if EITHER endpoint keeps it (the standard
    // union-kNN graph), and |E| <= k*N by construction — linear in
    // nodes at ANY corpus size. Same exact triangle/wedge readout as
    // the percentile form (shared ccFromEdges). Scale shape: the pair
    // table is the memoized capped projection; ranking is one keyed
    // window (per-node sort, O(deg log deg) map-side work); the
    // triangle join now runs on a degree-bounded edge set, so the
    // wedge work is <= C(2k,2)*N instead of percentile-form quadratic.
    "q_clustering_coeff_topk" -> GQuery(
      (s, d) => {
        import s.implicits._
        val pairs = supplierSimPairs(s, d)
        val dirp = pairs
          .select($"s1".as("node"), $"s2".as("nb"), $"shared")
          .unionAll(pairs
            .select($"s2".as("node"), $"s1".as("nb"), $"shared"))
        val topk = dirp
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"node")
              .orderBy($"shared".desc, $"nb")))
          .filter($"rk" <= TopKSimEdges)
        val edges = topk
          .select(least($"node", $"nb").as("s1"),
            greatest($"node", $"nb").as("s2"))
          .distinct()
          .cut // three triangle self-join consumers + degree rollup
        ccFromEdges(edges)
      },
      Some(s"""WITH co0 AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |co AS (
        |  SELECT c, s FROM (
        |    SELECT c, s, COUNT(*) OVER (PARTITION BY c) AS deg FROM co0)
        |  WHERE deg <= $MaxCustDeg),
        |p AS (
        |  SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM co a JOIN co b ON a.c = b.c AND a.s < b.s
        |  GROUP BY 1, 2),
        |dirp AS (
        |  SELECT s1 AS node, s2 AS nb, shared FROM p
        |  UNION ALL
        |  SELECT s2 AS node, s1 AS nb, shared FROM p),
        |topk AS (
        |  SELECT node, nb FROM (
        |    SELECT node, nb, row_number() OVER (
        |      PARTITION BY node ORDER BY shared DESC, nb) AS rk
        |    FROM dirp)
        |  WHERE rk <= $TopKSimEdges),
        |e AS (
        |  SELECT DISTINCT LEAST(node, nb) AS s1, GREATEST(node, nb) AS s2
        |  FROM topk),
        |tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM e ab JOIN e bc ON ab.s2 = bc.s1
        |    JOIN e ac ON ac.s1 = ab.s1 AND ac.s2 = bc.s2),
        |deg AS (
        |  SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT s1 AS s FROM e UNION ALL SELECT s2 FROM e)
        |  GROUP BY 1),
        |w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0) AS BIGINT)
        |    AS n_wedges
        |  FROM deg),
        |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_triangles, n_wedges,
        |  CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) ELSE
        |    CAST(round(3.0 * CAST(n_triangles AS DOUBLE) /
        |    CAST(n_wedges AS DOUBLE) * 1000000.0, 0) AS BIGINT) END
        |    AS cc_micro
        |FROM w, ne, tri""".stripMargin),
      "global clustering coefficient of the per-node top-k similarity " +
        "graph (|E| <= k*N by construction — the 100 TB-safe graph " +
        "definition the percentile form cannot give)"),

    // (3,3)-core decomposition of the REPEAT-trade graph by
    // simultaneous peeling: edges are customer-supplier pairs with
    // >= 2 line items (one-off purchases are noise for core
    // extraction — on the raw pair graph every node trivially clears
    // degree 3 and nothing peels); each round drops customers with
    // fewer than 3 surviving repeat suppliers AND suppliers with fewer
    // than 3 surviving repeat customers (both degree tables computed
    // on the SAME round input, so the peel order is canonical),
    // reporting the shrinking (nodes, edges) profile per round — the
    // standard dense-subgraph extraction a fraud/abuse pipeline runs
    // to isolate the collusive core from the long tail. 8 rounds are
    // unrolled — a BOUNDED peel profile (at sf0.1 the cascade is
    // still shaving the tail at round 8, stated); a production run
    // iterates the identical per-round cost to fixpoint. Scale shape:
    // each round is two partial-aggregated degree counts plus two hash
    // semi-joins over the surviving edge set — O(edges) map work,
    // O(nodes) shuffled bytes — with a checkpoint per round to cut
    // lineage (the pageRank loop discipline).
    "q_kcore" -> GQuery(
      (s, d) => {
        import s.implicits._
        val k = 3
        var e = Tables.load(s, d, "orders")
          .select($"o_orderkey", $"o_custkey")
          .join(Tables.load(s, d, "lineitem")
            .select($"l_orderkey".as("o_orderkey"), $"l_suppkey"),
            "o_orderkey")
          .groupBy(concat(lit("c"), $"o_custkey").as("src"),
            concat(lit("s"), $"l_suppkey").as("dst"))
          .agg(count(lit(1)).as("m")).filter($"m" >= 2)
          .select($"src", $"dst")
          .cut // scanned 9x by the peel loop
        // r15: per-round stats run as ASYNC jobs over the round's
        // snapshot — the round's checkpoint on cut rounds, a bounded
        // 2-deep lazy plan over the previous cut on uncut rounds (the
        // cut-every-2nd-round change) — so the 9 stat jobs overlap the
        // sequential peel chain instead of serializing with it (guide
        // §2.6). Either snapshot form is immutable, so there is nothing
        // to race; uncut-round stats recompute the 2-deep peel slice,
        // which the overlap hides. Values are byte-identical. (r16
        // measured the alternative — folding the 9 stats into the
        // returned plan as a lazy union, zero extra jobs — at 4.05 s vs
        // 2.27 s: losing the overlap costs more than the jobs save.)
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        val rounds = scala.collection.mutable.ArrayBuffer
          .empty[Future[(Long, Long, Long, Long)]]
        def stat(i: Int): Unit = {
          val snap = e
          rounds += Future {
            val r = snap.agg(countDistinct($"src"), countDistinct($"dst"),
              count(lit(1))).as[(Long, Long, Long)].collect().head
            (i.toLong, r._1, r._2, r._3)
          }
        }
        stat(0)
        for (i <- 1 to 8) {
          val srcOk = e.groupBy($"src")
            .agg(count(lit(1)).as("dg")).filter($"dg" >= k)
            .select($"src")
          val dstOk = e.groupBy($"dst")
            .agg(count(lit(1)).as("dg")).filter($"dg" >= k)
            .select($"dst")
          val peeled = e.join(srcOk, Seq("src"), "left_semi")
            .join(dstOk, Seq("dst"), "left_semi")
            .select($"src", $"dst")
          // r15: cut every SECOND round (plus the last) instead of every
          // round — a 2-round lineage is still bounded (two stacked
          // degree-agg + semi-join layers) and halving the eager cut
          // jobs removes ~4 sequential barriers; stat(i) on uncut
          // rounds aggregates the 2-deep lazy plan, same values
          e = if (i % 2 == 0 || i == 8) peeled.cut else peeled
          stat(i)
        }
        s.createDataFrame(
            Await.result(Future.sequence(rounds.toSeq), Duration.Inf))
          .toDF("round", "n_cust", "n_supp", "n_edges")
          .orderBy($"round")
      },
      Some(kcoreSql),
      "(3,3)-core peeling profile of the repeat-trade graph " +
        "(>= 2 line items per edge): per-round surviving customers/" +
        "suppliers/edges over 8 unrolled simultaneous-peel rounds"),

    // Adamic-Adar link prediction over the customer co-purchase
    // projection: for supplier pairs sharing customers, AA =
    // sum over common customers of 1/ln(customer degree) — the
    // common-neighbor score that discounts promiscuous neighbors
    // (a customer buying from everyone says nothing about any pair).
    // Top-20 predicted links by AA, with the exact common count and
    // capped-set Jaccard alongside. Mega-degree customers above the
    // q_triangles cap are dropped BEFORE the pair self-join (deg^2
    // blowup, no signal), and degree-1 customers generate no pairs;
    // 1/ln(deg) terms freeze at 9 dp into exact decimal sums so the
    // ranking is deterministic (ties to the smaller pair ids).
    // Hot-path representation (measured at the sf5 tier, 559M pair
    // rows): the pair shuffle is near-irreducible (most supplier pairs
    // share exactly one customer, so map-side combine removes almost
    // nothing) — the lever is BYTES PER ROW, so the whole pipeline
    // runs on LONG supplier keys and LONG nano-frozen 1/ln(deg) terms
    // (sum of <= 64 nano terms fits comfortably; codegen long-sum agg,
    // no decimal objects, no string hashing in the joins) and the
    // 's'-prefixed ids are formatted onto the 20 output rows only.
    // round(x, 9) as DECIMAL and nano-LONG are the same quantization,
    // so results are identical to the decimal formulation.
    "q_link_predict" -> GQuery(
      (s, d) => {
        import s.implicits._
        // r15: e and kept each feed multiple consumers (cdeg + kept;
        // sdeg + both pair-join sides) — the lazy plan rebuilt the
        // orders⋈lineitem distinct projection for every one (32 parquet
        // scans in the before-plan). Two checkpoints make the corpus
        // join run once; the capped projection is exactly the edge
        // index a production run materializes beside the fact tables.
        val e = Tables.load(s, d, "orders")
          .select($"o_orderkey", $"o_custkey")
          .join(Tables.load(s, d, "lineitem")
            .select($"l_orderkey".as("o_orderkey"), $"l_suppkey"),
            "o_orderkey")
          .select($"o_custkey".as("src"),
            $"l_suppkey".cast("long").as("dst"))
          .distinct()
          .cut
        val cdeg = e.groupBy($"src").agg(count(lit(1)).as("cd"))
          .filter($"cd" >= 2 && $"cd" <= MaxCustDeg)
        val kept = e.join(cdeg, "src")
          .withColumn("aa9",
            expr("CAST(round(1.0 / ln(CAST(cd AS DOUBLE)) * " +
              "1000000000.0, 0) AS BIGINT)"))
          .cut
        val sdeg = kept.groupBy($"dst").agg(count(lit(1)).as("sd"))
        val pairs = kept.select($"src", $"dst".as("k1"), $"aa9")
          .join(kept.select($"src", $"dst".as("k2")), "src")
          .filter($"k1" < $"k2")
          .groupBy($"k1", $"k2")
          .agg(count(lit(1)).as("n_common"), sum($"aa9").as("aa"))
        pairs
          .join(sdeg.select($"dst".as("k1"), $"sd".as("sd1")), "k1")
          .join(sdeg.select($"dst".as("k2"), $"sd".as("sd2")), "k2")
          .select(concat(lit("s"), $"k1").as("s1"),
            concat(lit("s"), $"k2").as("s2"), $"n_common",
            expr("CAST(round(CAST(aa AS DOUBLE) / 1000.0, 0) " +
              "AS BIGINT)").as("aa_micro"),
            expr("CAST(round(CAST(n_common AS DOUBLE) / " +
              "CAST(sd1 + sd2 - n_common AS DOUBLE) * 1000000.0, 0) " +
              "AS BIGINT)").as("jaccard_micro"))
          .orderBy($"aa_micro".desc, $"s1", $"s2")
          .limit(20)
      },
      Some(linkPredictSql),
      "Adamic-Adar link prediction: top-20 supplier pairs by " +
        "1/ln(deg) common-customer score over the capped co-purchase " +
        "projection (9-dp frozen terms, exact Jaccard)"),
  )

  /** q_kcore's oracle: the 8 simultaneous-peel rounds unrolled as
    * chained CTEs (the q_fps_sample generation pattern — one loop in
    * Scala emits both engines' structure). Every e$i is MATERIALIZED:
    * each round table is referenced by the next round AND its stats
    * row, and DuckDB 1.0 inlines multiply-referenced CTEs by default,
    * which makes the 8-deep chain exponential (measured: >15 min at
    * sf0.01 plain vs 0.35 s materialized — same results). */
  private def kcoreSql: String = {
    val rounds = (1 to 8).map { i =>
      s"""d$i AS (SELECT src FROM e${i - 1} GROUP BY src
         |  HAVING COUNT(*) >= 3),
         |t$i AS (SELECT dst FROM e${i - 1} GROUP BY dst
         |  HAVING COUNT(*) >= 3),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN d$i USING (src) JOIN t$i USING (dst))""".stripMargin
    }.mkString(",\n")
    val stats = (0 to 8).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  CAST(COUNT(DISTINCT src) AS BIGINT) AS n_cust,
         |  CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_supp,
         |  CAST(COUNT(*) AS BIGINT) AS n_edges FROM e$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |         's' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |$rounds
       |$stats
       |ORDER BY round""".stripMargin
  }

  /** q_link_predict's oracle — the same capped projection on NUMERIC
    * supplier keys with nano-frozen terms (mirroring the hot-path
    * representation above), prefixed to 's' ids on output only. */
  private def linkPredictSql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS src,
       |    CAST(l_suppkey AS BIGINT) AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |cdeg AS (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS cd FROM e
       |  GROUP BY 1 HAVING COUNT(*) >= 2 AND COUNT(*) <= $MaxCustDeg),
       |kept AS (
       |  SELECT e.src, e.dst,
       |    CAST(round(1.0 / ln(CAST(cd AS DOUBLE)) * 1000000000.0, 0)
       |      AS BIGINT) AS aa9
       |  FROM e JOIN cdeg USING (src)),
       |sdeg AS (
       |  SELECT dst, CAST(COUNT(*) AS BIGINT) AS sd FROM kept
       |  GROUP BY 1),
       |pairs AS (
       |  SELECT a.dst AS k1, b.dst AS k2,
       |    CAST(COUNT(*) AS BIGINT) AS n_common,
       |    CAST(SUM(a.aa9) AS BIGINT) AS aa
       |  FROM kept a JOIN kept b ON a.src = b.src AND a.dst < b.dst
       |  GROUP BY 1, 2)
       |SELECT 's' || CAST(k1 AS VARCHAR) AS s1,
       |  's' || CAST(k2 AS VARCHAR) AS s2, n_common,
       |  CAST(round(CAST(aa AS DOUBLE) / 1000.0, 0) AS BIGINT)
       |    AS aa_micro,
       |  CAST(round(CAST(n_common AS DOUBLE) /
       |    CAST(d1.sd + d2.sd - n_common AS DOUBLE) * 1000000.0, 0)
       |    AS BIGINT) AS jaccard_micro
       |FROM pairs JOIN sdeg d1 ON k1 = d1.dst
       |  JOIN sdeg d2 ON k2 = d2.dst
       |ORDER BY aa_micro DESC, s1, s2 LIMIT 20""".stripMargin
}
