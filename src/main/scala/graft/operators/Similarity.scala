package graft.operators

import graft.{GQuery, Memo, Tables}
import graft.functions.VectorOps.cosine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.11 X3):
  * brute-force cosine top-k as the correctness baseline, a k-NN similarity
  * join, an IVF-style coarse-quantizer search as the scale path, and a
  * label-blocked embedding near-dup pass.
  *
  * Scale notes: brute force is a broadcast of the (tiny) query set against a
  * scan of the corpus — embarrassingly parallel, no shuffle until top-k
  * (TakeOrderedAndProject). The IVF variant is the 100 TB shape: nearest
  * coarse centroid prunes the corpus to one cell before scoring, turning a
  * full scan into a partition-pruned scan when the corpus is written
  * partitioned by cell id. */
object Similarity {

  /** The embeddings table. INPUT-DOMAIN ASSUMPTION (q_mmd / scatter's
    * LONG milli-unit sums): coordinates are unit-scale, |x| <= ~1 (the
    * generator emits unit-normalized vectors), so milli-frozen products
    * are bounded by ~1e6 and a per-cell long sum stays below 2^63 up to
    * ~9.2e12 vectors; the horizon shrinks with |x|^2. Past it the query
    * fails: every graft session runs Spark's ANSI mode
    * (`spark.sql.ansi.enabled`, on by default), where a BIGINT product
    * or sum past 2^63 throws ARITHMETIC_OVERFLOW instead of wrapping
    * (pinned by AnsiOverflowSpec). Embeddings far off unit scale would
    * need the decimal sum form back — revisit the q_mmd/scatter freeze
    * if the generator ever changes scale. */
  private def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  /** The 64x64 centered-scatter table M = n·S - m·mᵀ (exact integer
    * entries from milli-frozen coordinates), memoized per (session,
    * embeddings stamp) and eagerly checkpointed — the shared O(data)
    * input of q_pca_power and q_pca_var_explained. */
  private def scatter(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Memo(s, "Similarity.scatter", Tables.roots(d, "embeddings")) {
      import s.implicits._
      // r15: Gram sufficient statistics via the IN-ROW outer product
      // (nested transform + one explode) instead of the vec_id
      // self-join of the exploded table — the coordinate pairs live
      // inside one row's array, so no exchange is needed before the
      // (i,j) partial agg (same rows, same long sums, same results;
      // the q_mmd rewrite, shared rationale there).
      val xs = emb(s, d)
        .select(expr("transform(embedding, x -> " +
            "CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))")
          .as("xs"))
        .localCheckpoint() // three consumers: Gram, mean, count
      val n = xs.agg((sum(size($"xs")) / 64).cast("bigint").as("n"))
      val m = xs.select(posexplode($"xs").as(Seq("i", "xi")))
        .groupBy($"i").agg(sum($"xi").as("mi"))
      // chained posexplode, not nested transform — see the q_mmd
      // pairSums note (HOF lambdas are interpreted + boxed)
      val gram = xs
        .select($"xs", posexplode($"xs").as(Seq("i", "a")))
        .select($"i", $"a", posexplode($"xs").as(Seq("j", "b")))
        .groupBy($"i", $"j")
        .agg(sum($"a" * $"b").as("s_ij"))
      gram
        .join(broadcast(m), "i")
        .join(broadcast(m.select($"i".as("j"), $"mi".as("mj"))), "j")
        .crossJoin(broadcast(n))
        .select($"i", $"j",
          ($"n" * $"s_ij" - $"mi" * $"mj").as("m_ij"))
        .localCheckpoint() // consumers: power steps + Rayleigh terms
    }

  /** One power step from v0 = 1 over the scatter, max-normalized to
    * frozen integer micro-units — q_pca_power's v1' and the direction
    * q_pca_var_explained measures. Checkpointed (64 rows) so the norm
    * anchor reduces once, not per broadcast consumer. */
  private def pc1(mm: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import mm.sparkSession.implicits._
    val v1 = mm.groupBy($"j".as("vj")).agg(sum($"m_ij").as("v1"))
    val mx1 = v1.agg(max(abs($"v1")).as("mx1"))
    v1.crossJoin(broadcast(mx1))
      .select($"vj",
        round($"v1".cast("double") / $"mx1".cast("double") * 1e6, 0)
          .cast("bigint").as("v1n"))
      .localCheckpoint()
  }

  /** Shared oracle CTE prefix rebuilding the scatter + frozen first
    * power step (e/nn/m/g/mm/v1/mx1/v1n) — DuckDB's side of
    * [[scatter]] + [[pc1]]. */
  private val pcaCteE: String =
    """e AS (
      |  SELECT vec_id, CAST(u.i - 1 AS INT) AS i,
      |    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000, 0)
      |      AS BIGINT) AS xi
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) AS u(i)),
      |nn AS (SELECT CAST(COUNT(*) / 64 AS BIGINT) AS n FROM e),
      |m AS (SELECT i, CAST(SUM(xi) AS BIGINT) AS mi FROM e GROUP BY 1),
      |g AS (
      |  SELECT a.i AS i, b.i AS j,
      |    CAST(SUM(a.xi * b.xi) AS BIGINT) AS s_ij
      |  FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
      |mm AS (
      |  SELECT g.i, g.j, nn.n * g.s_ij - ma.mi * mb.mi AS m_ij
      |  FROM g JOIN m ma ON g.i = ma.i JOIN m mb ON g.j = mb.i, nn),
      |v1 AS (SELECT j AS vj, CAST(SUM(m_ij) AS BIGINT) AS v1
      |       FROM mm GROUP BY 1),
      |mx1 AS (SELECT MAX(abs(v1)) AS mx1 FROM v1),
      |v1n AS (
      |  SELECT vj, CAST(round(CAST(v1 AS DOUBLE) / CAST(mx1 AS DOUBLE)
      |    * 1e6, 0) AS BIGINT) AS v1n
      |  FROM v1, mx1)""".stripMargin

  /** q_mmd per-moment half difference E_x[.] - E_y[.] (milli units):
    * the halves' exact integer sums `a`/`b` over their counts. */
  private def mmdDiffE(a: String, b: String): String =
    // empty-half guard: nx/ny are count-div-64 and CAN be 0 with
    // non-NULL moment sums (e.g. sub-64-dim vectors), where x/0 gives
    // Inf in Spark but a CAST(round(Inf)) error in DuckDB — emit NULL
    // in both engines instead (the q_rdd degenerate-side contract)
    s"(CASE WHEN nx = 0 OR ny = 0 THEN NULL ELSE " +
      s"CAST($a AS DOUBLE) / CAST(nx AS DOUBLE) - " +
      s"CAST($b AS DOUBLE) / CAST(ny AS DOUBLE) END)"

  /** DuckDB cosine over DOUBLE[] — float inputs are widened first so both
    * engines do exact float→double conversion then identical double math. */
  private def duckCos(a: String, b: String) =
    s"list_cosine_similarity(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  // ----- Product quantization (q_pq_encode / q_pq_search) -----------------
  //
  // Geometry: the 64-dim embedding splits into 4 subvectors of 16 dims;
  // each subvector maps to its nearest of 8 centroids. All math happens in
  // EXACT micro-unit integer space (round(v*1e6) as bigint — the
  // q_srp_lsh/q_embed_pool recipe), and the codebook itself is a fixed
  // integer formula c(m,k,j) = (((m*31 + k*17 + j*7) % 13) - 6) * 80000
  // (±0.48 in micro units, spanning the data's ±0.6 range) — so NO float
  // literal ever crosses the engine boundary and DuckDB recomputes codes
  // bit-for-bit. Production would train the codebook with the IvfIndex
  // k-means machinery and broadcast it; the formula stands in for the
  // trained table to keep the encode/ADC math itself oracle-verifiable.

  /** Spark SQL expression: array of 8 squared L2 distances (micro-unit
    * longs) from subvector `m` of `embedding` to each formula centroid.
    * Reads the hoisted `vi` micro-unit array (computed ONCE per row) so
    * the float→micro-unit conversion isn't repeated per centroid. */
  private def pqDistsSpark(m: Int): String = {
    val diff = s"element_at(vi, ${m * 16} + j + 1) - CAST(((($m * 31 + k * 17 + j * 7) % 13) - 6) * 80000 AS BIGINT)"
    s"transform(sequence(0, 7), k -> aggregate(transform(sequence(0, 15), j -> $diff), CAST(0 AS BIGINT), (acc, x) -> acc + x * x))"
  }

  /** The hoisted per-row micro-unit view of `embedding`. */
  private val pqViSpark =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  /** DuckDB fragment mirroring [[pqDistsSpark]] (same hoisted `vi`). */
  private def pqDistsDuck(m: Int): String = {
    val diff = s"(vi[CAST(${m * 16} + j + 1 AS INT)] - ((($m * 31 + k * 17 + j * 7) % 13) - 6) * 80000)"
    s"list_transform(generate_series(0, 7), k -> list_reduce(list_transform(generate_series(0, 15), j -> $diff * $diff), (acc, x) -> acc + x))"
  }

  /** DuckDB CTE producing (vec_id, c1..c4, err) — textually shared by both
    * PQ oracles so they can never drift. Codes are 1-based centroid ids
    * (first-minimum argmin on both engines). */
  private val pqEncodeSql: String = {
    val dists = (0 until 4).map(m => s"${pqDistsDuck(m)} AS d${m + 1}")
      .mkString(",\n|      ")
    s"""enc AS (
    |  SELECT vec_id,
    |    CAST(list_position(d1, list_min(d1)) AS BIGINT) AS c1,
    |    CAST(list_position(d2, list_min(d2)) AS BIGINT) AS c2,
    |    CAST(list_position(d3, list_min(d3)) AS BIGINT) AS c3,
    |    CAST(list_position(d4, list_min(d4)) AS BIGINT) AS c4,
    |    CAST(list_min(d1) + list_min(d2) + list_min(d3) + list_min(d4)
    |      AS BIGINT) AS err
    |  FROM (
    |    SELECT vec_id,
    |      $dists
    |    FROM (SELECT vec_id,
    |      list_transform(embedding,
    |        x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vi
    |      FROM embeddings)))""".stripMargin
  }

  /** The Spark encode plan shared by q_pq_encode and q_pq_search. */
  private def pqEncode(s: SparkSession, d: String) = {
    import s.implicits._
    var df = emb(s, d).withColumn("vi", expr(pqViSpark))
    (0 until 4).foreach(m => df = df.withColumn(s"d${m + 1}", expr(pqDistsSpark(m))))
    df.select($"vec_id", $"embedding",
      array_position($"d1", array_min($"d1")).as("c1"),
      array_position($"d2", array_min($"d2")).as("c2"),
      array_position($"d3", array_min($"d3")).as("c3"),
      array_position($"d4", array_min($"d4")).as("c4"),
      (array_min($"d1") + array_min($"d2") + array_min($"d3") +
        array_min($"d4")).as("err"))
  }

  val queries: Seq[(String, GQuery)] = Seq(

    // X3 brute-force cosine top-k for one query vector, scored by the
    // native codegen expression (functions.CosineSimilarityExpr): one fused
    // loop per pair, no per-element lambda dispatch, math identical to
    // VectorOps.cosine.
    "q_similarity" -> GQuery(
      (s, d) => {
        import s.implicits._
        import graft.functions.VectorOps
        val e = emb(s, d)
        val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
        e.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .select($"vec_id",
            expr("cosine_sim(embedding, q_emb)").as("cos_sim"))
          .orderBy($"cos_sim".desc, $"vec_id")
          .limit(10)
      },
      Some(s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, ${duckCos("e.embedding", "q.q_emb")} AS cos_sim
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
      "brute-force cosine top-k (extension X3)"),

    // X3 k-NN similarity join: top-3 neighbors for each of 5 query vectors
    // via a per-query rank window (partitioned — no global sort).
    "q_knn_join" -> GQuery(
      (s, d) => {
        import s.implicits._
        import graft.functions.VectorOps
        val e = emb(s, d)
        val q = e.filter($"vec_id" < 5)
          .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
        e.crossJoin(broadcast(q))
          .filter($"vec_id" =!= $"q_id")
          .select($"q_id", $"vec_id",
            expr("cosine_sim(embedding, q_emb)").as("cos_sim"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"q_id", $"vec_id", $"cos_sim", $"rn")
          .orderBy($"q_id", $"rn")
      },
      Some(s"""WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, e.vec_id, ${duckCos("e.embedding", "q.q_emb")} AS cos_sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.q_id)
        |SELECT q_id, vec_id, cos_sim, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rn
        |  FROM scored) WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin),
      "k-NN similarity join (extension X3)"),

    // X3 IVF-style search: coarse centroids (per-label element-wise mean),
    // route the query to its nearest cell, brute-force only inside the cell.
    // Centroids come from the PRECOMPUTED persisted index (IvfIndex) — the
    // query path never re-trains; decimal-exact sums in the index keep the
    // centroid bit-identical to the oracle's formulation.
    "q_ivf_search" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val cent = IvfIndex.centroidsExact(s, d)
        val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
        val best = cent.crossJoin(broadcast(q))
          .select($"label", cosine($"cvec", $"q_emb").as("ccos"))
          .orderBy($"ccos".desc, $"label")
          .limit(1)
          .select($"label")
        e.join(broadcast(best), Seq("label"))
          .filter($"vec_id" =!= 0)
          .crossJoin(broadcast(q))
          .select($"vec_id", cosine($"embedding", $"q_emb").as("cos_sim"))
          .orderBy($"cos_sim".desc, $"vec_id")
          .limit(10)
      },
      Some(s"""WITH x AS (
        |  SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
        |  FROM x GROUP BY 1, 2),
        |centa AS (SELECT label, list(cv ORDER BY pos) AS cvec FROM cent GROUP BY label),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |best AS (
        |  SELECT label FROM centa, q
        |  ORDER BY list_cosine_similarity(cvec, CAST(q_emb AS DOUBLE[])) DESC, label
        |  LIMIT 1)
        |SELECT e.vec_id, ${duckCos("e.embedding", "q.q_emb")} AS cos_sim
        |FROM embeddings e JOIN best USING (label), q
        |WHERE e.vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
      "IVF coarse-quantizer ANN search (extension X3)"),

    // X3 ANN quality evaluation: recall@10 of the IVF search against the
    // brute-force exact top-10, per query vector, at nprobe=1 AND
    // nprobe=3 — the metric any ANN deployment is judged by, and the knob
    // (cells probed vs recall) every index is tuned with before it
    // replaces the exact join at scale. Both rankings are deterministic
    // (native codegen cosine, bit-identical to DuckDB on widened doubles,
    // vec_id tie-break), so the recall itself is oracle-EXACT — not a
    // flaky statistical assertion. Shape: the 5-query set broadcasts
    // against one corpus scan per ranking (the exact side is the
    // ground-truth cost you pay once to certify the index; the IVF side
    // scores only the ≤3 probed cells), per-query rank windows are
    // q_id-partitioned, and the final intersection joins ≤50-row tables.
    "q_ivf_recall" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val q = e.filter($"vec_id" < 5)
          .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        val w = Window.partitionBy($"q_id")
          .orderBy($"cos_sim".desc, $"vec_id")
        val exact = e.crossJoin(broadcast(q))
          .filter($"vec_id" =!= $"q_id")
          .select($"q_id", $"vec_id",
            expr("cosine_sim(embedding, q_emb)").as("cos_sim"))
          .withColumn("rn", row_number().over(w)).filter($"rn" <= 10)
          .select($"q_id", $"vec_id")
        val probed = IvfIndex.centroidsExact(s, d).crossJoin(broadcast(q))
          .select($"q_id", $"label", cosine($"cvec", $"q_emb").as("ccos"))
          .withColumn("crank", row_number().over(
            Window.partitionBy($"q_id").orderBy($"ccos".desc, $"label")))
          .filter($"crank" <= 3).select($"q_id", $"label", $"crank")
        val cand = e.join(broadcast(probed), Seq("label"))
          .filter($"vec_id" =!= $"q_id")
          .join(broadcast(q), Seq("q_id"))
          .select($"q_id", $"vec_id", $"crank",
            expr("cosine_sim(embedding, q_emb)").as("cos_sim"))
        def topk(df: org.apache.spark.sql.DataFrame, hit: String) = df
          .withColumn("rn", row_number().over(w)).filter($"rn" <= 10)
          .select($"q_id", $"vec_id", lit(1).as(hit))
        val p1 = topk(cand.filter($"crank" === 1), "h1")
        val p3 = topk(cand, "h3")
        // p1/p3 are ≤ 10·|q| rows by construction (rank ≤ 10 per query) —
        // broadcast them or the post-window unknown-stats default is SMJ.
        exact.join(broadcast(p1), Seq("q_id", "vec_id"), "left")
          .join(broadcast(p3), Seq("q_id", "vec_id"), "left")
          .groupBy($"q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce($"h1", lit(0))).cast("bigint").as("n_hit_p1"),
            sum(coalesce($"h3", lit(0))).cast("bigint").as("n_hit_p3"))
          .select($"q_id", $"n_exact",
            $"n_hit_p1",
            round($"n_hit_p1".cast("double") / $"n_exact", 6)
              .as("recall_p1"),
            $"n_hit_p3",
            round($"n_hit_p3".cast("double") / $"n_exact", 6)
              .as("recall_p3"))
          .orderBy($"q_id")
      },
      Some(s"""WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 5),
        |exact AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.q_id, e.vec_id, row_number() OVER (
        |      PARTITION BY q.q_id
        |      ORDER BY ${duckCos("e.embedding", "q.q_emb")} DESC, e.vec_id)
        |      AS rn
        |    FROM embeddings e, q WHERE e.vec_id <> q.q_id)
        |  WHERE rn <= 10),
        |x AS (
        |  SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |      / COUNT(*) AS cv
        |  FROM x GROUP BY 1, 2),
        |centa AS (
        |  SELECT label, list(cv ORDER BY pos) AS cvec FROM cent
        |  GROUP BY label),
        |probed AS (
        |  SELECT q_id, label, crank FROM (
        |    SELECT q.q_id, c.label, row_number() OVER (
        |      PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(c.cvec,
        |        CAST(q.q_emb AS DOUBLE[])) DESC, c.label) AS crank
        |    FROM centa c, q) WHERE crank <= 3),
        |cand AS (
        |  SELECT b.q_id, e.vec_id, b.crank,
        |    ${duckCos("e.embedding", "q.q_emb")} AS cos_sim
        |  FROM embeddings e JOIN probed b USING (label)
        |  JOIN q ON q.q_id = b.q_id
        |  WHERE e.vec_id <> b.q_id),
        |p1 AS (
        |  SELECT q_id, vec_id, 1 AS h1 FROM (
        |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |    FROM cand WHERE crank = 1) WHERE rn <= 10),
        |p3 AS (
        |  SELECT q_id, vec_id, 1 AS h3 FROM (
        |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |    FROM cand) WHERE rn <= 10)
        |SELECT x.q_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST(SUM(CASE WHEN p1.h1 IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit_p1,
        |  round(CAST(SUM(CASE WHEN p1.h1 IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS recall_p1,
        |  CAST(SUM(CASE WHEN p3.h3 IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit_p3,
        |  round(CAST(SUM(CASE WHEN p3.h3 IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS recall_p3
        |FROM exact x
        |LEFT JOIN p1 USING (q_id, vec_id)
        |LEFT JOIN p3 USING (q_id, vec_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      "IVF recall@10 vs exact ground truth at nprobe=1 and 3 (oracle-exact)"),

    // X3 ANN ranking quality: nDCG@10 of the IVF (nprobe=3) ranking
    // against the exact cosine ranking — recall says WHETHER the true
    // neighbors surface; nDCG says whether they surface in the right
    // ORDER (position-discounted), the metric retrieval evals actually
    // report. Relevance grades are integers from the exact rank
    // (rel = 11 - exact_rank, 0 for non-top-10), discounts 1/log2(pos+1)
    // are rounded to 9 dp into DECIMAL per term before the ≤10-term sum —
    // both engines evaluate identical small-integer logs, so nDCG is
    // oracle-EXACT. Same sub-linear shapes as q_ivf_recall: broadcast
    // query set, probed-cells-only candidate scoring, q_id-partitioned
    // rank windows, ≤50-row final joins.
    "q_ndcg" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val q = e.filter($"vec_id" < 5)
          .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        val w = Window.partitionBy($"q_id")
          .orderBy($"cos_sim".desc, $"vec_id")
        val exact = e.crossJoin(broadcast(q))
          .filter($"vec_id" =!= $"q_id")
          .select($"q_id", $"vec_id",
            expr("cosine_sim(embedding, q_emb)").as("cos_sim"))
          .withColumn("rn", row_number().over(w)).filter($"rn" <= 10)
          .select($"q_id", $"vec_id", (lit(11) - $"rn").as("rel"))
        val probed = IvfIndex.centroidsExact(s, d).crossJoin(broadcast(q))
          .select($"q_id", $"label", cosine($"cvec", $"q_emb").as("ccos"))
          .withColumn("crank", row_number().over(
            Window.partitionBy($"q_id").orderBy($"ccos".desc, $"label")))
          .filter($"crank" <= 3).select($"q_id", $"label")
        val ivf = e.join(broadcast(probed), Seq("label"))
          .filter($"vec_id" =!= $"q_id")
          .join(broadcast(q), Seq("q_id"))
          .select($"q_id", $"vec_id",
            expr("cosine_sim(embedding, q_emb)").as("cos_sim"))
          .withColumn("pos", row_number().over(w)).filter($"pos" <= 10)
          .select($"q_id", $"vec_id", $"pos")
        val disc = (p: org.apache.spark.sql.Column) =>
          round(lit(1.0) / log2(p + 1), 9).cast("decimal(12,9)")
        val dcg = ivf.join(broadcast(exact), Seq("q_id", "vec_id"), "left")
          .select($"q_id",
            (coalesce($"rel", lit(0)).cast("decimal(12,0)") * disc($"pos"))
              .as("term"))
          .groupBy($"q_id").agg(sum($"term").as("dcg"))
        val idcg = exact
          .withColumn("pos", row_number().over(
            Window.partitionBy($"q_id").orderBy($"rel".desc, $"vec_id")))
          .select($"q_id",
            ($"rel".cast("decimal(12,0)") * disc($"pos")).as("term"))
          .groupBy($"q_id").agg(sum($"term").as("idcg"))
        dcg.join(broadcast(idcg), Seq("q_id"))
          .select($"q_id",
            round($"dcg".cast("double"), 6).as("dcg10"),
            round($"idcg".cast("double"), 6).as("idcg10"),
            round($"dcg".cast("double") / $"idcg".cast("double"), 6)
              .as("ndcg10"))
          .orderBy($"q_id")
      },
      Some(s"""WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 5),
        |exact AS (
        |  SELECT q_id, vec_id, 11 - rn AS rel FROM (
        |    SELECT q.q_id, e.vec_id, row_number() OVER (
        |      PARTITION BY q.q_id
        |      ORDER BY ${duckCos("e.embedding", "q.q_emb")} DESC, e.vec_id)
        |      AS rn
        |    FROM embeddings e, q WHERE e.vec_id <> q.q_id)
        |  WHERE rn <= 10),
        |x AS (
        |  SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |      / COUNT(*) AS cv
        |  FROM x GROUP BY 1, 2),
        |centa AS (
        |  SELECT label, list(cv ORDER BY pos) AS cvec FROM cent
        |  GROUP BY label),
        |probed AS (
        |  SELECT q_id, label FROM (
        |    SELECT q.q_id, c.label, row_number() OVER (
        |      PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(c.cvec,
        |        CAST(q.q_emb AS DOUBLE[])) DESC, c.label) AS crank
        |    FROM centa c, q) WHERE crank <= 3),
        |ivf AS (
        |  SELECT q_id, vec_id, pos FROM (
        |    SELECT b.q_id, e.vec_id, row_number() OVER (
        |      PARTITION BY b.q_id
        |      ORDER BY ${duckCos("e.embedding", "q.q_emb")} DESC, e.vec_id)
        |      AS pos
        |    FROM embeddings e JOIN probed b USING (label)
        |    JOIN q ON q.q_id = b.q_id
        |    WHERE e.vec_id <> b.q_id)
        |  WHERE pos <= 10),
        |dcg AS (
        |  SELECT i.q_id,
        |    SUM(CAST(COALESCE(x.rel, 0) AS DECIMAL(12,0)) *
        |      CAST(round(1.0 / log2(i.pos + 1), 9) AS DECIMAL(12,9)))
        |      AS dcg
        |  FROM ivf i LEFT JOIN exact x USING (q_id, vec_id)
        |  GROUP BY i.q_id),
        |idcg AS (
        |  SELECT q_id,
        |    SUM(CAST(rel AS DECIMAL(12,0)) *
        |      CAST(round(1.0 / log2(ipos + 1), 9) AS DECIMAL(12,9)))
        |      AS idcg
        |  FROM (
        |    SELECT q_id, rel, row_number() OVER (PARTITION BY q_id
        |      ORDER BY rel DESC, vec_id) AS ipos
        |    FROM exact)
        |  GROUP BY q_id)
        |SELECT dcg.q_id,
        |  round(CAST(dcg.dcg AS DOUBLE), 6) AS dcg10,
        |  round(CAST(idcg.idcg AS DOUBLE), 6) AS idcg10,
        |  round(CAST(dcg.dcg AS DOUBLE) / CAST(idcg.idcg AS DOUBLE), 6)
        |    AS ndcg10
        |FROM dcg JOIN idcg USING (q_id)
        |ORDER BY dcg.q_id""".stripMargin),
      "nDCG@10 of the IVF ranking vs exact cosine ranking (oracle-exact)"),

    // X3 embedding-space drift monitor — the PSI of the vector world: per
    // label, the cosine between the centroid of even vec_ids and odd
    // vec_ids (the production version splits old batch vs new batch; the
    // parity split is the deterministic stand-in). A drift_cos well below
    // 1 on a supposedly-stable corpus means the embedder or the upstream
    // mix changed — checked BEFORE retraining an IVF/PQ index against a
    // moved distribution. Shapes: one (label, half, pos)-keyed partial-agg
    // shuffle over exploded vectors (linear in corpus bytes), then
    // per-label centroid pairs — dims × labels rows. Exactness: the
    // centroidsExact recipe (float→double→DECIMAL(28,12) sums), cosine on
    // widened doubles bit-identical to DuckDB's list_cosine_similarity,
    // rounded at the display edge.
    "q_embed_drift" -> GQuery(
      (s, d) => {
        import s.implicits._
        val x = emb(s, d)
          .select($"label", pmod($"vec_id", lit(2L)).as("half"),
            $"vec_id", posexplode($"embedding").as(Seq("pos", "v")))
        val cent = x.groupBy($"label", $"half", $"pos")
          .agg((sum($"v".cast("double").cast("decimal(28,12)"))
            .cast("double") / count(lit(1))).as("cv"),
            countDistinct($"vec_id").as("n"))
        val ca = cent.groupBy($"label", $"half")
          .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), x -> x.cv)")
            .as("cvec"), max($"n").as("n"))
        val a = ca.filter($"half" === 0)
          .select($"label", $"cvec".as("c0"), $"n".as("n_even"))
        val b = ca.filter($"half" === 1)
          .select($"label", $"cvec".as("c1"), $"n".as("n_odd"))
        a.join(b, "label")
          .select($"label", $"n_even", $"n_odd",
            round(cosine($"c0", $"c1"), 6).as("drift_cos"))
          .orderBy($"label")
      },
      Some("""WITH x AS (
        |  SELECT label, vec_id % 2 AS half, vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, half, pos,
        |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |      / COUNT(*) AS cv,
        |    CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
        |  FROM x GROUP BY 1, 2, 3),
        |ca AS (
        |  SELECT label, half, list(cv ORDER BY pos) AS cvec,
        |    MAX(n) AS n
        |  FROM cent GROUP BY 1, 2)
        |SELECT a.label, a.n AS n_even, b.n AS n_odd,
        |  round(list_cosine_similarity(a.cvec, b.cvec), 6) AS drift_cos
        |FROM ca a JOIN ca b ON a.label = b.label
        |WHERE a.half = 0 AND b.half = 1
        |ORDER BY a.label""".stripMargin),
      "per-label embedding centroid drift, even vs odd half (extension X3)"),

    // X2/X3 embedding near-dup, blocked by label (the blocked-join shape:
    // candidate pairs only within a coarse block, never the full n² join),
    // scored by the native codegen cosine.
    "q_embed_neardup" -> GQuery(
      (s, d) => {
        import s.implicits._
        import graft.functions.VectorOps
        val e = emb(s, d)
        val a = e.select($"label", $"vec_id".as("v1"), $"embedding".as("e1"))
        val b = e.select($"label", $"vec_id".as("v2"), $"embedding".as("e2"))
        a.join(b, Seq("label"))
          .filter($"v1" < $"v2")
          .select($"v1", $"v2",
            expr("cosine_sim(e1, e2)").as("cos_sim"))
          .orderBy($"cos_sim".desc, $"v1", $"v2")
          .limit(20)
      },
      Some(s"""SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  ${duckCos("a.embedding", "b.embedding")} AS cos_sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |ORDER BY cos_sim DESC, v1, v2 LIMIT 20""".stripMargin),
      "label-blocked embedding near-dup pairs (extension X2)"),

    // X3 mean-pooling: the element-wise centroid of each label's vectors —
    // the pooled-document-embedding / class-prototype primitive. Shape:
    // posexplode to (label, pos, val), one partial-agg shuffle on
    // (label, pos) — never collects vectors to the driver. Sums need an
    // ORDER-INDEPENDENT exact representation (float addition orders differ
    // between engines AND between Spark partitions); decimal accumulation
    // gave that but cost 23.7 s at sf0.1 (VERDICT r3 #1). Long micro-units
    // are equally exact and stay in cheap integer codegen: widen float ->
    // double (exact), scale by 1e9, round half-up (identical semantics in
    // both engines), sum as BIGINT (associative). A single global long sum
    // would wrap once a (label,pos) group exceeds ~9e9 rows (ADVICE r4), so
    // the sum is two-stage: stage 1 groups by (label, pos, physical input
    // partition) and sums longs — bounded by rows-per-scan-partition (a
    // 1 GiB partition of floats is ~2.7e8 values -> |partial| <= ~2.7e17
    // for unit-normalized embeddings, 33x under Long.MaxValue; holds for
    // any |v| <= 30) — then stage 2 merges the <=num_partitions partials
    // per group in decimal(38,0), which is exact for any group size. Only
    // the tiny merge (num_partitions rows/group) pays decimal cost; the
    // per-element hot path stays integer codegen. The mean then divides
    // engine-identical integers in double space (both engines round the
    // same exact integer to the nearest double).
    "q_embed_pool" -> GQuery(
      (s, d) => {
        import s.implicits._
        emb(s, d)
          .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
          .withColumn("part", spark_partition_id())
          .groupBy($"label", $"pos", $"part")
          .agg(
            sum(round($"v".cast("double") * lit(1e9), 0).cast("long"))
              .as("psum"),
            count(lit(1)).as("pn"))
          .groupBy($"label", $"pos")
          .agg(
            sum($"psum".cast("decimal(38,0)")).as("sum_u"),
            sum($"pn").as("n"))
          .select($"label", $"pos",
            ($"sum_u".cast("double") / lit(1e9) / $"n").as("mean_v"))
          .orderBy($"label", $"pos")
      },
      Some("""SELECT label, CAST(u.i - 1 AS INT) AS pos,
        |  CAST(SUM(CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1e9, 0)
        |    AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS mean_v
        |FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin),
      "per-label mean-pooled embedding (extension X3)"),

    // X3 centroid-distance outlier detection: squared L2 distance of each
    // vector to its LABEL centroid, top-20 farthest — the embedding-space
    // quality gate that surfaces mislabeled/corrupt vectors before they
    // poison training. Centroids are the exact pooled means (q_embed_pool
    // shape: micro-unit long partials, broadcast back as a labels×dims
    // dim table); per-position squared deviations are doubles over
    // identical operands, rounded to 12 dp and decimal-summed so the
    // 64-term reduction is order-independent (the 9-dp-log recipe,
    // squared-deviation edition).
    "q_embed_outliers" -> GQuery(
      (s, d) => {
        import s.implicits._
        val pool = emb(s, d)
          .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
          .withColumn("part", spark_partition_id())
          .groupBy($"label", $"pos", $"part")
          .agg(
            sum(round($"v".cast("double") * lit(1e9), 0).cast("long"))
              .as("psum"),
            count(lit(1)).as("pn"))
          .groupBy($"label", $"pos")
          .agg(sum($"psum".cast("decimal(38,0)")).as("sum_u"),
            sum($"pn").as("n"))
          .select($"label", $"pos",
            ($"sum_u".cast("double") / lit(1e9) / $"n").as("mean_v"))
        val dev = $"v".cast("double") - $"mean_v"
        emb(s, d)
          .select($"vec_id", $"label",
            posexplode($"embedding").as(Seq("pos", "v")))
          .join(broadcast(pool), Seq("label", "pos"))
          .select($"vec_id", $"label",
            round(dev * dev, 12).cast("decimal(28,12)").as("term"))
          .groupBy($"vec_id", $"label")
          .agg(sum($"term").as("ssum"))
          .select($"vec_id", $"label",
            round($"ssum".cast("double"), 6).as("dist2"))
          .orderBy($"dist2".desc, $"vec_id")
          .limit(20)
      },
      Some("""WITH pool AS (
        |  SELECT label, CAST(u.i - 1 AS INT) AS pos,
        |    CAST(SUM(CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1e9, 0)
        |      AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS mean_v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
        |  GROUP BY label, pos),
        |x AS (
        |  SELECT e.vec_id, e.label, u.i,
        |    CAST(e.embedding[u.i] AS DOUBLE) AS v
        |  FROM embeddings e,
        |    unnest(generate_series(1, len(embedding))) AS u(i)),
        |terms AS (
        |  SELECT x.vec_id, x.label,
        |    CAST(round((x.v - pool.mean_v) * (x.v - pool.mean_v), 12)
        |      AS DECIMAL(28,12)) AS term
        |  FROM x JOIN pool ON pool.label = x.label AND pool.pos = x.i - 1)
        |SELECT vec_id, label, round(CAST(SUM(term) AS DOUBLE), 6) AS dist2
        |FROM terms GROUP BY vec_id, label
        |ORDER BY dist2 DESC, vec_id LIMIT 20""".stripMargin),
      "centroid-distance embedding outliers, top-20 farthest (extension X3)"),

    // X3 reciprocal-rank fusion: merge the EXACT cosine ranking and the
    // compressed PQ/ADC ranking for one probe into a single hybrid
    // top-10 — the standard fusion step every hybrid retrieval stack
    // (dense + compressed, or dense + lexical) runs, score =
    // sum of 1/(60 + rank) over the lists a candidate appears in.
    // Both input rankings are already oracle-exact here (q_similarity,
    // q_pq_search), ranks come from row_number with total tie-breaks,
    // and the fused score is one or two exact double terms — so the
    // FUSION, not just the inputs, is verified.
    "q_rrf_fusion" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val probe = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
        val wCos = Window.orderBy($"cos_sim".desc, $"vec_id")
        val rankA = e.filter($"vec_id" =!= 0)
          .crossJoin(broadcast(probe))
          .select($"vec_id", expr("cosine_sim(embedding, q_emb)").as("cos_sim"))
          .withColumn("ra", row_number().over(wCos)).filter($"ra" <= 50)
          .select($"vec_id", $"ra")
        def adc(m: Int): String = {
          val diff = s"CAST(round(CAST(element_at(p, ${m * 16} + j + 1) AS DOUBLE) * 1000000) AS BIGINT) - CAST(((($m * 31 + (c${m + 1} - 1) * 17 + j * 7) % 13) - 6) * 80000 AS BIGINT)"
          s"aggregate(transform(sequence(0, 15), j -> $diff), CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
        }
        val wAdc = Window.orderBy($"adc_dist", $"vec_id")
        val rankB = pqEncode(s, d).drop("embedding")
          .crossJoin(broadcast(e.filter($"vec_id" === 0)
            .select($"embedding".as("p"))))
          .filter($"vec_id" =!= 0)
          .select($"vec_id",
            expr(s"${adc(0)} + ${adc(1)} + ${adc(2)} + ${adc(3)}")
              .as("adc_dist"))
          .withColumn("rb", row_number().over(wAdc)).filter($"rb" <= 50)
          .select($"vec_id", $"rb")
        rankA.join(rankB, Seq("vec_id"), "full_outer")
          .select($"vec_id",
            round(coalesce(lit(1.0) / (lit(60) + $"ra"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + $"rb"), lit(0.0)), 9)
              .as("rrf_score"))
          .orderBy($"rrf_score".desc, $"vec_id")
          .limit(10)
      },
      Some({
        def adc(m: Int): String = {
          val diff = s"(CAST(round(CAST(p[CAST(${m * 16} + j + 1 AS INT)] AS DOUBLE) * 1000000) AS BIGINT) - ((($m * 31 + (c${m + 1} - 1) * 17 + j * 7) % 13) - 6) * 80000)"
          s"list_reduce(list_transform(generate_series(0, 15), j -> $diff * $diff), (acc, x) -> acc + x)"
        }
        s"""WITH $pqEncodeSql,
        |probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
        |ra AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY cos_sim DESC, vec_id)
        |    AS ra
        |  FROM (SELECT e.vec_id,
        |          ${duckCos("e.embedding", "probe.p")} AS cos_sim
        |        FROM embeddings e, probe WHERE e.vec_id <> 0)
        |  QUALIFY ra <= 50),
        |rb AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY adc_dist, vec_id)
        |    AS rb
        |  FROM (SELECT enc.vec_id,
        |          CAST(${adc(0)} + ${adc(1)} + ${adc(2)} + ${adc(3)}
        |            AS BIGINT) AS adc_dist
        |        FROM enc, probe WHERE vec_id != 0)
        |  QUALIFY rb <= 50)
        |SELECT COALESCE(ra.vec_id, rb.vec_id) AS vec_id,
        |  round(COALESCE(1.0 / (60 + ra), 0.0)
        |    + COALESCE(1.0 / (60 + rb), 0.0), 9) AS rrf_score
        |FROM ra FULL OUTER JOIN rb ON ra.vec_id = rb.vec_id
        |ORDER BY rrf_score DESC, vec_id LIMIT 10""".stripMargin
      }),
      "reciprocal-rank fusion of exact-cosine and PQ/ADC rankings (X3)"),

    // X3 sign-random-projection (SRP) LSH — the hashing-family companion
    // to the IVF index: 8 fixed hyperplanes, each embedding mapped to the
    // 8-bit sign pattern of its projections, near-dup candidates = pairs
    // sharing a bucket (P[bit match] = 1 - angle/pi, the SRP guarantee).
    // Everything is EXACTLY oracle-checkable, which float-dot LSH never
    // is: the "random" planes are a deterministic integer formula
    // w(j,i) = ((j*31 + i*17) mod 7) - 3 both engines compute literally,
    // and dots are taken in micro-unit longs (round(v*1e6) as bigint), so
    // the SIGN — the only thing that matters — cannot flip on float
    // summation order. Shape: one posexplode + one vec-keyed partial-agg
    // shuffle for signatures (the embed_pool shape), then a self-join on
    // the 8-bit bucket — sub-linear candidates, no all-pairs.
    "q_srp_lsh" -> GQuery(
      (s, d) => {
        import s.implicits._
        val planes = 0 until 8
        val dots = planes.map(j =>
          sum($"u" * (pmod(lit(j * 31) + $"i" * 17, lit(7)) - 3))
            .as(s"d$j"))
        val sigs = emb(s, d)
          .select($"vec_id", posexplode(
            transform($"embedding",
              x => round(x.cast("double") * lit(1e6), 0).cast("long")))
            .as(Seq("i", "u")))
          .groupBy($"vec_id")
          .agg(dots.head, dots.tail: _*)
          .select($"vec_id",
            planes.map(j =>
              when(col(s"d$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
              .reduce(_ + _).as("sig"))
        sigs.as("a").join(sigs.as("b"),
            $"a.sig" === $"b.sig" && $"a.vec_id" < $"b.vec_id")
          .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"),
            $"a.sig".as("sig"))
          .orderBy($"v1", $"v2")
      },
      Some("""WITH u AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS uu
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id, j,
        |    SUM(uu[i] * (((j*31 + (i-1)*17) % 7) - 3)) AS dot
        |  FROM u,
        |       unnest(generate_series(1, len(uu))) AS s(i),
        |       unnest(generate_series(0, 7)) AS sj(j)
        |  GROUP BY vec_id, j),
        |sig AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN dot >= 0 THEN (1 << j) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM d GROUP BY vec_id)
        |SELECT a.vec_id AS v1, b.vec_id AS v2, a.sig
        |FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
        |ORDER BY v1, v2""".stripMargin),
      "sign-random-projection LSH buckets + candidate pairs (X3)"),

    // X3 L2-normalize + symmetric int8 quantization — the storage-shrink
    // pass before ANN indexing (4x smaller vectors). Per-row map only: the
    // squared-norm folds the array IN INDEX ORDER on both engines
    // (aggregate / list_reduce), so the doubles are bit-identical; the
    // int8 codes are emitted as one comma-joined signature string per
    // vector (robust cross-engine compare, no array-type equality games).
    "q_embed_quantize" -> GQuery(
      (s, d) => {
        import s.implicits._
        emb(s, d)
          .withColumn("norm", sqrt(expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE), " +
              "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")))
          .select($"vec_id", $"norm",
            expr("concat_ws(',', transform(embedding, " +
              "x -> CAST(round(127.0 * CAST(x AS DOUBLE) / norm, 0) AS INT)))")
              .as("qsig"))
          .orderBy($"vec_id")
      },
      Some("""WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(
        |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |      (acc, x) -> acc + x)) AS norm
        |  FROM embeddings)
        |SELECT vec_id, norm,
        |  array_to_string(list_transform(embedding,
        |    x -> CAST(round(127.0 * CAST(x AS DOUBLE) / norm, 0) AS INT)), ',') AS qsig
        |FROM n ORDER BY vec_id""".stripMargin),
      "L2-normalize + int8 quantization signature (extension X3)"),

    // X3 product-quantization encode: each embedding compresses to 4
    // centroid codes (one per 16-dim subvector) + its total squared
    // reconstruction error — the memory-compression step under every
    // billion-vector ANN index (codes are 4 bytes/vector vs 256 bytes of
    // floats). Pure per-row expression work, no shuffle but the final
    // order; codes verified bit-for-bit (see the codebook note above).
    "q_pq_encode" -> GQuery(
      (s, d) => {
        import s.implicits._
        pqEncode(s, d).drop("embedding").orderBy($"vec_id")
      },
      Some(s"""WITH $pqEncodeSql
        |SELECT vec_id, c1, c2, c3, c4, err FROM enc
        |ORDER BY vec_id""".stripMargin),
      "product-quantization codes + reconstruction error (extension X3)"),

    // X3 PQ asymmetric-distance search (ADC): the probe vector stays
    // EXACT while every corpus vector is represented only by its 4 codes —
    // distance = sum over subvectors of (probe subvector ↔ coded centroid)
    // squared L2, the lookup-table trick that makes PQ search scan
    // 4-byte codes instead of raw vectors. Probe is a one-row broadcast;
    // top-10 is TakeOrderedAndProject. Same micro-unit integer math, so
    // the ADC distances (and the ranking) are oracle-exact.
    "q_pq_search" -> GQuery(
      (s, d) => {
        import s.implicits._
        def adc(m: Int): String = {
          val diff = s"CAST(round(CAST(element_at(p, ${m * 16} + j + 1) AS DOUBLE) * 1000000) AS BIGINT) - CAST(((($m * 31 + (c${m + 1} - 1) * 17 + j * 7) % 13) - 6) * 80000 AS BIGINT)"
          s"aggregate(transform(sequence(0, 15), j -> $diff), CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
        }
        val probe = emb(s, d).filter($"vec_id" === 0)
          .select($"embedding".as("p"))
        pqEncode(s, d).drop("embedding")
          .crossJoin(broadcast(probe))
          .filter($"vec_id" =!= 0)
          .select($"vec_id", $"c1", $"c2", $"c3", $"c4",
            expr(s"${adc(0)} + ${adc(1)} + ${adc(2)} + ${adc(3)}")
              .as("adc_dist"))
          .orderBy($"adc_dist", $"vec_id")
          .limit(10)
      },
      Some({
        def adc(m: Int): String = {
          val diff = s"(CAST(round(CAST(p[CAST(${m * 16} + j + 1 AS INT)] AS DOUBLE) * 1000000) AS BIGINT) - ((($m * 31 + (c${m + 1} - 1) * 17 + j * 7) % 13) - 6) * 80000)"
          s"list_reduce(list_transform(generate_series(0, 15), j -> $diff * $diff), (acc, x) -> acc + x)"
        }
        s"""WITH $pqEncodeSql,
        |probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, c1, c2, c3, c4,
        |  CAST(${adc(0)} + ${adc(1)} + ${adc(2)} + ${adc(3)} AS BIGINT)
        |    AS adc_dist
        |FROM enc, probe WHERE vec_id != 0
        |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin
      }),
      "PQ asymmetric-distance (ADC) top-10 search (extension X3)"),

    // X3 IVF+PQ combined search — the production ANN composition (the
    // FAISS IndexIVFPQ shape): the coarse quantizer prunes the corpus to
    // ONE cell (q_ivf_search's centroid argmax), and candidates inside
    // the cell are scored by PQ asymmetric distance against the QUERY'S
    // per-subspace lookup table (8 distances x 4 subspaces, built once
    // from the query vector — each candidate costs 4 table lookups + 3
    // adds, never a 64-dim loop). 100 TB shape: centroids and the
    // 32-entry query table broadcast; with codes stored partitioned by
    // cell id the scan prunes to one partition and reads 4 SMALLINT
    // codes per row instead of 256 bytes of floats — the two separately
    // demonstrated halves (partition-pruned IVF scan, constant-size PQ
    // codes) composed into the index an actual deployment runs. All math
    // in the PQ queries' exact micro-unit integer space, so cell choice,
    // codes, table entries, and the final ADC ranking are oracle-exact.
    "q_ivfpq_search" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
        val best = IvfIndex.centroidsExact(s, d).crossJoin(broadcast(q))
          .select($"label", cosine($"cvec", $"q_emb").as("ccos"))
          .orderBy($"ccos".desc, $"label").limit(1).select($"label")
        var qt = e.filter($"vec_id" === 0).select($"embedding")
          .withColumn("vi", expr(pqViSpark))
        (0 until 4).foreach(m =>
          qt = qt.withColumn(s"qd${m + 1}", expr(pqDistsSpark(m))))
        val qtab = qt.select($"qd1", $"qd2", $"qd3", $"qd4")
        var cell = e.join(broadcast(best), "label")
          .filter($"vec_id" =!= 0)
          .withColumn("vi", expr(pqViSpark))
        (0 until 4).foreach(m =>
          cell = cell.withColumn(s"d${m + 1}", expr(pqDistsSpark(m))))
        cell.select($"vec_id",
            array_position($"d1", array_min($"d1")).cast("int").as("c1"),
            array_position($"d2", array_min($"d2")).cast("int").as("c2"),
            array_position($"d3", array_min($"d3")).cast("int").as("c3"),
            array_position($"d4", array_min($"d4")).cast("int").as("c4"))
          .crossJoin(broadcast(qtab))
          .select($"vec_id",
            (element_at($"qd1", $"c1") + element_at($"qd2", $"c2") +
              element_at($"qd3", $"c3") + element_at($"qd4", $"c4"))
              .cast("bigint").as("adc"))
          .orderBy($"adc", $"vec_id")
          .limit(10)
      },
      Some {
        val dists = (0 until 4).map(m => s"${pqDistsDuck(m)} AS d${m + 1}")
          .mkString(",\n|    ")
        val viSql =
          "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        s"""WITH x AS (
        |  SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |      / COUNT(*) AS cv
        |  FROM x GROUP BY 1, 2),
        |centa AS (
        |  SELECT label, list(cv ORDER BY pos) AS cvec FROM cent
        |  GROUP BY label),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |best AS (
        |  SELECT label FROM centa, q
        |  ORDER BY list_cosine_similarity(cvec, CAST(q_emb AS DOUBLE[]))
        |    DESC, label
        |  LIMIT 1),
        |qt AS (
        |  SELECT $dists
        |  FROM (SELECT $viSql AS vi
        |    FROM (SELECT q_emb AS embedding FROM q))),
        |cell AS (
        |  SELECT e.vec_id, $viSql AS vi
        |  FROM embeddings e JOIN best USING (label) WHERE e.vec_id <> 0),
        |enc AS (
        |  SELECT vec_id,
        |    CAST(list_position(d1, list_min(d1)) AS INT) AS c1,
        |    CAST(list_position(d2, list_min(d2)) AS INT) AS c2,
        |    CAST(list_position(d3, list_min(d3)) AS INT) AS c3,
        |    CAST(list_position(d4, list_min(d4)) AS INT) AS c4
        |  FROM (SELECT vec_id, $dists FROM cell))
        |SELECT enc.vec_id,
        |  CAST(qt.d1[enc.c1] + qt.d2[enc.c2] + qt.d3[enc.c3]
        |    + qt.d4[enc.c4] AS BIGINT) AS adc
        |FROM enc CROSS JOIN qt
        |ORDER BY adc, vec_id LIMIT 10""".stripMargin
      },
      "IVF coarse prune + PQ ADC scoring within the probed cell — the " +
        "combined production ANN index (extension X3)"),

    // X2/X3 SemDeDup-style semantic deduplication: embedding-space
    // near-duplicates found WITHIN clusters only (here the label column;
    // production uses k-means cells exactly like IvfIndex) — the
    // sub-quadratic shape, n²/k pairs instead of all-pairs. The keep rule
    // is the greedy SemDeDup one: a vector is dropped when a
    // higher-similarity twin with a smaller id exists in its cluster.
    // Output is the per-cluster dedup report (sizes, drops, drop rate).
    // Cosine is the native codegen expression, bit-identical to DuckDB's
    // list_cosine_similarity on widened doubles (the q_similarity pin),
    // so the >= threshold cut agrees across engines exactly.
    "q_semantic_dedup" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val a = e.select($"label", $"vec_id".as("v1"), $"embedding".as("e1"))
        val b = e.select($"label", $"vec_id".as("v2"), $"embedding".as("e2"))
        val drops = a.join(b, Seq("label")).filter($"v1" < $"v2")
          .filter(expr("cosine_sim(e1, e2)") >= 0.45)
          .select($"label", $"v2".as("vec_id")).distinct()
        e.groupBy($"label").agg(count(lit(1)).as("n_vectors"))
          .join(drops.groupBy($"label").agg(count(lit(1)).as("nd")),
            Seq("label"), "left")
          .select($"label", $"n_vectors",
            coalesce($"nd", lit(0L)).as("n_dropped"),
            round(coalesce($"nd", lit(0L)).cast("double") /
              $"n_vectors".cast("double"), 6).as("drop_frac"))
          .orderBy($"label")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
        |  FROM embeddings),
        |dr AS (
        |  SELECT DISTINCT b.label, b.vec_id
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.45),
        |n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
        |      FROM e GROUP BY 1),
        |dd AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS nd
        |       FROM dr GROUP BY 1)
        |SELECT n.label, n.n_vectors,
        |  COALESCE(dd.nd, 0) AS n_dropped,
        |  round(CAST(COALESCE(dd.nd, 0) AS DOUBLE)
        |    / CAST(n.n_vectors AS DOUBLE), 6) AS drop_frac
        |FROM n LEFT JOIN dd USING (label) ORDER BY n.label""".stripMargin),
      "SemDeDup-style within-cluster embedding dedup report (X2/X3)"),

    // X3 one Lloyd iteration of k-means, oracle-exact — pins the TRAINING
    // math that IvfIndex runs internally (assign to nearest centroid,
    // recompute centroids) the same way q_pagerank2 pins the PageRank
    // loop: k = 8 deterministic seeds (smallest vec_ids, a TakeOrdered —
    // no full sort), assignment is a broadcast of 8 rows against the scan
    // with the native codegen cosine (bit-identical to DuckDB
    // list_cosine_similarity on widened doubles — the q_similarity pin),
    // tie-broken on centroid id, and the new centroids reuse
    // q_embed_pool's two-stage nano-unit recipe (per-partition long sums,
    // decimal(38,0) merge — exact at any group size, integer codegen in
    // the hot path). Shapes: one broadcast join + two key-partitioned
    // partial-agg shuffles — exactly what a 1000-executor Lloyd round
    // should be; a full k-means is this step iterated with the new
    // centroids re-broadcast (IvfIndex.scala does precisely that).
    "q_kmeans_step" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val seeds = e.orderBy($"vec_id").limit(8)
          .select($"vec_id".as("cid"), $"embedding".as("cvec"))
        val best = e.crossJoin(broadcast(seeds))
          .select($"vec_id", $"embedding", $"cid",
            expr("cosine_sim(embedding, cvec)").as("cs"))
          .groupBy($"vec_id")
          .agg(max(struct($"cs", (-$"cid").as("ncid"))).as("b"),
            first($"embedding").as("embedding"))
          .select((-$"b.ncid").as("cid"), $"embedding")
        best.select($"cid", posexplode($"embedding").as(Seq("pos", "v")))
          .withColumn("part", spark_partition_id())
          .groupBy($"cid", $"pos", $"part")
          .agg(
            sum(round($"v".cast("double") * lit(1e9), 0).cast("long"))
              .as("psum"),
            count(lit(1)).as("pn"))
          .groupBy($"cid", $"pos")
          .agg(sum($"psum".cast("decimal(38,0)")).as("sum_u"),
            sum($"pn").as("n"))
          .select($"cid", $"pos", $"n",
            ($"sum_u".cast("double") / lit(1e9) / $"n").as("mean_v"))
          .orderBy($"cid", $"pos")
      },
      Some(s"""WITH seeds AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |sc AS (
        |  SELECT e.vec_id, e.embedding, s.cid,
        |    ${duckCos("e.embedding", "s.cvec")} AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |best AS (
        |  SELECT vec_id, embedding, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY cs DESC, cid ASC) AS rn
        |  FROM sc),
        |b AS (SELECT cid, embedding FROM best WHERE rn = 1)
        |SELECT cid, CAST(u.i - 1 AS INT) AS pos,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1e9, 0)
        |    AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS mean_v
        |FROM b, unnest(generate_series(1, len(embedding))) AS u(i)
        |GROUP BY cid, pos ORDER BY cid, pos""".stripMargin),
      "one oracle-exact Lloyd k-means iteration over embeddings (X3)"),

    // X3 distributed PCA: the dominant principal direction of the
    // embedding cloud via TWO unrolled power-iteration steps on the
    // (scaled) covariance — the q_pagerank2/q_kmeans_step treatment
    // applied to eigen-math, so the whole loop is DuckDB-replayable and
    // hash-exact. All math is integer: milli-unit coordinates make the
    // Gram matrix S = Σxxᵀ and mean vector m exact BIGINTs; the centered
    // scatter M = N·S − m·mᵀ is exact (scaling by N instead of dividing
    // keeps integers; direction is scale-invariant); step 1 (v1 = M·1)
    // stays < 2^53 so the renormalization to 1e6 scale (round(v1/max·1e6))
    // is exact IEEE; step 2 accumulates M·v1' in DECIMAL(38,0)/HUGEINT.
    // Scale shape: the Gram build is one (i,j)-keyed partial-agg shuffle
    // over dims² rows per vector (64² here — at higher dims switch to
    // per-partition outer-product accumulation); every later stage
    // operates on the 64- or 4096-row aggregate tables with broadcast
    // joins. Deterministic start v0 = 1 (no randomness contract).
    "q_pca_power" -> GQuery(
      (s, d) => {
        import s.implicits._
        // the 64x64 centered scatter is a derived corpus statistic —
        // memoized per (session, dir) so the Gram build (the query's
        // only O(data) work, eagerly checkpointed for its two power-step
        // consumers) runs once, not once per invocation (the
        // q_pagerank2 rep-cost lesson); shared with q_pca_var_explained
        val mm = scatter(s, d)
        val v1n = pc1(mm)
        val v2 = mm.join(broadcast(v1n), $"j" === $"vj")
          .groupBy($"i")
          .agg(sum(($"m_ij" * $"v1n").cast("decimal(38,0)")).as("v2"))
        val mx2 = v2.agg(max(abs($"v2")).as("mx2"))
        v2.crossJoin(broadcast(mx2))
          .select($"i",
            round($"v2".cast("double") / $"mx2".cast("double"), 6)
              .as("loading"))
          .orderBy($"i")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, CAST(u.i - 1 AS INT) AS i,
        |    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000, 0)
        |      AS BIGINT) AS xi
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS u(i)),
        |nn AS (SELECT CAST(COUNT(*) / 64 AS BIGINT) AS n FROM e),
        |m AS (SELECT i, CAST(SUM(xi) AS BIGINT) AS mi FROM e GROUP BY 1),
        |g AS (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(SUM(a.xi * b.xi) AS BIGINT) AS s_ij
        |  FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
        |mm AS (
        |  SELECT g.i, g.j, nn.n * g.s_ij - ma.mi * mb.mi AS m_ij
        |  FROM g JOIN m ma ON g.i = ma.i JOIN m mb ON g.j = mb.i, nn),
        |v1 AS (SELECT j AS vj, CAST(SUM(m_ij) AS BIGINT) AS v1
        |       FROM mm GROUP BY 1),
        |mx1 AS (SELECT MAX(abs(v1)) AS mx1 FROM v1),
        |v1n AS (
        |  SELECT vj, CAST(round(CAST(v1 AS DOUBLE) / CAST(mx1 AS DOUBLE)
        |    * 1e6, 0) AS BIGINT) AS v1n
        |  FROM v1, mx1),
        |v2 AS (
        |  SELECT mm.i, SUM(CAST(mm.m_ij * v1n.v1n AS HUGEINT)) AS v2
        |  FROM mm JOIN v1n ON mm.j = v1n.vj GROUP BY 1),
        |mx2 AS (SELECT MAX(abs(v2)) AS mx2 FROM v2)
        |SELECT i, round(CAST(v2 AS DOUBLE) / CAST(mx2 AS DOUBLE), 6)
        |  AS loading
        |FROM v2, mx2 ORDER BY i""".stripMargin),
      "dominant PCA direction via 2 oracle-exact power-iteration steps"),

    // Variance share of the dominant PCA direction — the number that
    // tells an embedding-quality dashboard whether the space has
    // COLLAPSED (PC1 share near 1 = representations on a line, the
    // standard anisotropy/collapse symptom) or stays spread. Uses the
    // same memoized scatter M and frozen integer direction v1' as
    // q_pca_power: Rayleigh quotient lambda1 = v1'ᵀMv1' / v1'ᵀv1', and
    // share = lambda1 / trace(M) — all three bilinear terms are EXACT
    // decimal sums of integer products (no floats until the two final
    // divisions). Scale: everything runs on the checkpointed 4096-row
    // scatter + 64-row direction; the only corpus work is the shared
    // (already-cached) scatter build.
    "q_pca_var_explained" -> GQuery(
      (s, d) => {
        import s.implicits._
        val mm = scatter(s, d)
        val v1n = pc1(mm)
        val vn = v1n.agg(sum(($"v1n" * $"v1n").cast("decimal(38,0)"))
          .as("vtv"))
        mm.join(broadcast(v1n.select($"vj".as("i"), $"v1n".as("vi"))),
            "i")
          .join(broadcast(v1n.select($"vj".as("j"), $"v1n".as("vj_"))),
            "j")
          .agg(
            sum(($"vi".cast("decimal(19,0)") * $"m_ij".cast("decimal(19,0)"))
              .cast("decimal(38,0)") * $"vj_".cast("decimal(38,0)"))
              .as("vmv"),
            sum(when($"i" === $"j", $"m_ij".cast("decimal(38,0)")))
              .as("tr"),
            sum(when($"i" === $"j", 1L).otherwise(0L)).as("n_dims"))
          .crossJoin(broadcast(vn))
          .select($"n_dims",
            expr("CAST(round(CAST(vmv AS DOUBLE) / " +
              "CAST(vtv AS DOUBLE) / CAST(tr AS DOUBLE) " +
              "* 1000000.0, 0) AS BIGINT)").as("pc1_share_micro"),
            expr("CAST(tr AS BIGINT)").as("trace_m"))
      },
      Some(s"""WITH $pcaCteE,
        |vn AS (
        |  SELECT SUM(CAST(v1n AS HUGEINT) * CAST(v1n AS HUGEINT))
        |    AS vtv
        |  FROM v1n),
        |ray AS (
        |  SELECT
        |    SUM(CAST(a.v1n AS HUGEINT) * CAST(mm.m_ij AS HUGEINT)
        |      * CAST(b.v1n AS HUGEINT)) AS vmv,
        |    SUM(CASE WHEN mm.i = mm.j
        |      THEN CAST(mm.m_ij AS HUGEINT) END) AS tr,
        |    CAST(SUM(CASE WHEN mm.i = mm.j THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_dims
        |  FROM mm JOIN v1n a ON mm.i = a.vj JOIN v1n b ON mm.j = b.vj)
        |SELECT n_dims,
        |  CAST(round(CAST(vmv AS DOUBLE) / CAST(vtv AS DOUBLE) /
        |    CAST(tr AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |    AS pc1_share_micro,
        |  CAST(tr AS BIGINT) AS trace_m
        |FROM ray, vn""".stripMargin),
      "PC1 variance share (Rayleigh quotient over trace) — the " +
        "embedding-collapse / anisotropy readout on the shared scatter"),

    // Quadratic-kernel MMD^2 between the even/odd vec_id halves — the
    // SECOND-ORDER distribution-shift test q_embed_drift's centroid
    // cosine cannot see (a variance or covariance change with frozen
    // means is invisible to any first-moment monitor). For the
    // polynomial kernel k(a,b) = (a.b + 1)^2 the kernel mean embedding
    // is FINITE-dimensional — pairs {a_i a_j}, scaled firsts
    // {sqrt(2) a_i}, constant — so MMD^2 = |mu_x - mu_y|^2 collapses
    // to moment differences: SUM_ij (E_x[a_i a_j] - E_y[a_i a_j])^2 +
    // 2 SUM_i (E_x[a_i] - E_y[a_i])^2. NO pair-of-points join ever
    // forms: the statistic needs one (i,j)-keyed partial agg over
    // exploded vectors (the scatter-build shape) and bounded grids
    // after. The mean-only first-order part is emitted alongside so a
    // dashboard sees exactly what a centroid monitor would and what it
    // would miss. Exactness: milli-frozen coordinates, exact
    // conditional integer sums per half, per-cell term frozen at 9 dp
    // into DECIMAL (milli-unit scale; /1e12 to raw^2 only at the
    // nano-unit output edge).
    "q_mmd" -> GQuery(
      (s, d) => {
        import s.implicits._
        // r15 hot-path representation (guide §2.3/§2.4): the (i,j)
        // moment battery needs every within-vector coordinate pair, and
        // a vec_id self-join produced exactly those rows at the price of
        // TWO exchanges plus a sort-merge of the exploded table against
        // itself. The pairs are WITHIN one row's array, so the outer
        // product is computed in-row (nested `transform` + one explode)
        // — zero exchanges before the (i,j) partial agg. Sums run on
        // LONG instead of DECIMAL(38): milli-frozen coords bound each
        // product by 1e6, so a per-(i,j)-cell half-sum overflows only
        // past ~9.2e12 vectors — far above 100 TB of 64-dim embeddings
        // (~4e11 vectors) — and integer long sums are order-independent
        // and CAST to the same DOUBLE as the decimal form, so results
        // are bit-identical (oracle unchanged).
        val xs = emb(s, d)
          .select(pmod($"vec_id", lit(2L)).as("hf"),
            expr("transform(embedding, x -> " +
              "CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))")
              .as("xs"))
          .localCheckpoint() // three consumers: pairs, dims, counts
        val cnt = xs.agg(
          expr("sum(CASE WHEN hf = 0 THEN size(xs) ELSE 0 END) div 64")
            .as("nx"),
          expr("sum(CASE WHEN hf = 1 THEN size(xs) ELSE 0 END) div 64")
            .as("ny"))
          .localCheckpoint() // 1-row anchor, two consumers
        // two chained posexplode generators, NOT a nested-transform
        // struct array: higher-order-function lambdas run interpreted
        // (no whole-stage codegen) and boxed per element — measured
        // slower than the join they replaced — while Generate+Generate
        // streams through codegen with primitive long math
        val pairSums = xs
          .select($"hf", $"xs", posexplode($"xs").as(Seq("i", "a")))
          .select($"hf", $"i", $"a", posexplode($"xs").as(Seq("j", "b")))
          .groupBy($"i", $"j")
          .agg(sum(when($"hf" === 0, $"a" * $"b")).as("sx"),
            sum(when($"hf" === 1, $"a" * $"b")).as("sy"))
        val dimSums = xs
          .select($"hf", posexplode($"xs").as(Seq("i", "xi")))
          .groupBy($"i")
          .agg(sum(when($"hf" === 0, $"xi")).as("mx"),
            sum(when($"hf" === 1, $"xi")).as("my"))
        val cellT = pairSums.crossJoin(broadcast(cnt))
          .select(lit("x2").as("part"),
            expr(s"CAST(round(${mmdDiffE("sx", "sy")} * " +
              s"${mmdDiffE("sx", "sy")}, 9) AS DECIMAL(28,9))")
              .as("t9"))
        val dimT = dimSums.crossJoin(broadcast(cnt))
          .select(lit("m").as("part"),
            expr(s"CAST(round(2.0 * ${mmdDiffE("mx", "my")} * " +
              s"${mmdDiffE("mx", "my")} * 1000000.0, 9) " +
              "AS DECIMAL(28,9))").as("t9"))
        cellT.unionAll(dimT)
          .agg(sum($"t9").as("tot"),
            sum(when($"part" === "m", $"t9")).as("mt"))
          .crossJoin(broadcast(cnt))
          .select($"nx".as("n_even"), $"ny".as("n_odd"),
            expr("CAST(round(CAST(tot AS DOUBLE) / 1000.0, 0) " +
              "AS BIGINT)").as("mmd2_nano"),
            expr("CAST(round(CAST(mt AS DOUBLE) / 1000.0, 0) " +
              "AS BIGINT)").as("mean_part_nano"))
      },
      Some(s"""WITH e AS (
        |  SELECT vec_id, vec_id % 2 AS hf, CAST(u.i - 1 AS INT) AS i,
        |    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000, 0)
        |      AS BIGINT) AS xi
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS u(i)),
        |cnt AS (
        |  SELECT SUM(CASE WHEN hf = 0 THEN 1 ELSE 0 END) // 64 AS nx,
        |         SUM(CASE WHEN hf = 1 THEN 1 ELSE 0 END) // 64 AS ny
        |  FROM e),
        |ps AS (
        |  SELECT a.i, b.i AS j,
        |    SUM(CASE WHEN a.hf = 0 THEN CAST(a.xi * b.xi AS
        |      DECIMAL(38,0)) END) AS sx,
        |    SUM(CASE WHEN a.hf = 1 THEN CAST(a.xi * b.xi AS
        |      DECIMAL(38,0)) END) AS sy
        |  FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
        |ds AS (
        |  SELECT i,
        |    SUM(CASE WHEN hf = 0 THEN CAST(xi AS DECIMAL(38,0)) END)
        |      AS mx,
        |    SUM(CASE WHEN hf = 1 THEN CAST(xi AS DECIMAL(38,0)) END)
        |      AS my
        |  FROM e GROUP BY 1),
        |terms AS (
        |  SELECT 'x2' AS part,
        |    CAST(round(${mmdDiffE("sx", "sy")} *
        |      ${mmdDiffE("sx", "sy")}, 9) AS DECIMAL(28,9)) AS t9
        |  FROM ps, cnt
        |  UNION ALL
        |  SELECT 'm' AS part,
        |    CAST(round(2.0 * ${mmdDiffE("mx", "my")} *
        |      ${mmdDiffE("mx", "my")} * 1000000.0, 9)
        |      AS DECIMAL(28,9)) AS t9
        |  FROM ds, cnt),
        |agg_ AS (
        |  SELECT SUM(t9) AS tot,
        |    SUM(CASE WHEN part = 'm' THEN t9 END) AS mt
        |  FROM terms)
        |SELECT CAST(nx AS BIGINT) AS n_even, CAST(ny AS BIGINT)
        |    AS n_odd,
        |  CAST(round(CAST(tot AS DOUBLE) / 1000.0, 0) AS BIGINT)
        |    AS mmd2_nano,
        |  CAST(round(CAST(mt AS DOUBLE) / 1000.0, 0) AS BIGINT)
        |    AS mean_part_nano
        |FROM agg_, cnt""".stripMargin),
      "quadratic-kernel MMD^2 between vec_id-parity halves via exact " +
        "finite-dimensional kernel mean embeddings (moment " +
        "differences — no point-pair join), mean-only part alongside"),

    // Mean reciprocal rank over a FIXED 8-probe panel — the retrieval-
    // eval metric beside q_ndcg/q_ivf_recall/q_rrf_fusion: for each
    // probe vector, rank the candidate pool by cosine and take the
    // reciprocal rank of the first SAME-LABEL hit. The fixed panel is
    // what keeps the shape linear: 8·N cosines in one broadcast pass at
    // any corpus size (a %-of-corpus probe set would be quadratic).
    // rank = 1 + |{candidates with cos > best same-label cos}| — exact
    // on bit-identical doubles (the q_similarity cosine contract), so
    // no per-probe sort is needed; per-probe reciprocal ranks freeze to
    // micro-units before the cross-probe mean (house discipline).
    // Probes with no same-label candidate drop out (inner join).
    "q_mrr" -> GQuery(
      (s, d) => {
        import s.implicits._
        import graft.functions.VectorOps
        val e = emb(s, d)
        val probes = broadcast(e.filter($"vec_id" < 8)
          .select($"vec_id".as("q_id"), $"label".as("q_label"),
            $"embedding".as("q_emb")))
        val scored = e.filter($"vec_id" >= 8).crossJoin(probes)
          .select($"q_id", $"q_label", $"label",
            expr("cosine_sim(embedding, q_emb)").as("cos"))
        val best = scored.filter($"label" === $"q_label")
          .groupBy($"q_id").agg(max($"cos").as("best"))
        scored.join(broadcast(best), "q_id")
          .groupBy($"q_id")
          .agg((sum(($"cos" > $"best").cast("long")) + lit(1L)).as("rnk"))
          .select(expr("CAST(round(1000000.0 / CAST(rnk AS DOUBLE), 0) " +
            "AS BIGINT)").as("rr6"))
          .agg(count(lit(1)).as("n_probes"),
            expr("CAST(round(CAST(SUM(rr6) AS DOUBLE) / " +
              "CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT)").as("mrr_micro"))
      },
      Some(s"""WITH p AS (
        |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 8),
        |sc AS (
        |  SELECT q_id, q_label, e.label,
        |    ${duckCos("e.embedding", "q_emb")} AS cos
        |  FROM embeddings e, p WHERE e.vec_id >= 8),
        |b AS (
        |  SELECT q_id, MAX(cos) AS best FROM sc
        |  WHERE label = q_label GROUP BY q_id),
        |r AS (
        |  SELECT sc.q_id,
        |    CAST(SUM(CASE WHEN cos > best THEN 1 ELSE 0 END) + 1
        |      AS BIGINT) AS rnk
        |  FROM sc JOIN b ON sc.q_id = b.q_id GROUP BY 1),
        |rr AS (
        |  SELECT CAST(round(1000000.0 / CAST(rnk AS DOUBLE), 0)
        |    AS BIGINT) AS rr6 FROM r)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
        |  CAST(round(CAST(SUM(rr6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
        |    0) AS BIGINT) AS mrr_micro
        |FROM rr""".stripMargin),
      "mean reciprocal rank of first same-label hit over a fixed " +
        "8-probe panel (count-based ranks on bit-identical cosines)"),

    // Average precision @ 10 per probe — the retrieval metric between
    // q_mrr (first hit only) and q_ndcg (graded positions): AP@10 =
    // mean over relevant hits in the top-10 of precision-at-that-rank,
    // normalized by min(R, 10) where R is the probe's total same-label
    // pool. Same fixed 8-probe panel as q_mrr (8*N cosines in one
    // broadcast pass at any corpus size); ranks come from q_id-
    // partitioned windows on bit-identical cosines (the q_ndcg
    // convention), per-hit precisions freeze to micro-units before the
    // per-probe mean (house discipline). The output is driven from the
    // probe PANEL itself: a probe with no top-10 hit — or no same-label
    // pool at all — reports r_tot/ap_micro = 0 instead of vanishing.
    "q_map" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val probes = broadcast(e.filter($"vec_id" < 8)
          .select($"vec_id".as("q_id"), $"label".as("q_label"),
            $"embedding".as("q_emb")))
        val scored = e.filter($"vec_id" >= 8).crossJoin(probes)
          .select($"q_id", $"q_label", $"vec_id", $"label",
            expr("cosine_sim(embedding, q_emb)").as("cos"))
        val rtot = scored.filter($"label" === $"q_label")
          .groupBy($"q_id").agg(count(lit(1)).as("r_tot"))
        val w = Window.partitionBy($"q_id")
          .orderBy($"cos".desc, $"vec_id")
        val wc = Window.partitionBy($"q_id").orderBy($"pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val hits = scored
          .withColumn("pos", row_number().over(w)).filter($"pos" <= 10)
          .select($"q_id", $"pos",
            ($"label" === $"q_label").cast("long").as("rel"))
          .withColumn("cumrel", sum($"rel").over(wc))
          .filter($"rel" === 1L)
          .select($"q_id",
            expr("CAST(round(CAST(cumrel AS DOUBLE) / " +
              "CAST(pos AS DOUBLE) * 1000000.0, 0) AS BIGINT)")
              .as("p6"))
          .groupBy($"q_id")
          .agg(count(lit(1)).as("n_hits"), sum($"p6").as("sp"))
        // drive the output from the PROBE PANEL, not rtot (ADVICE r11):
        // a probe whose label has zero same-label pool still reports a
        // row (r_tot = 0, ap_micro = 0) instead of silently vanishing
        probes.select($"q_id")
          .join(rtot, Seq("q_id"), "left")
          .join(hits, Seq("q_id"), "left")
          .select($"q_id", coalesce($"n_hits", lit(0L)).as("n_hits"),
            coalesce($"r_tot", lit(0L)).as("r_tot"),
            coalesce(expr("CAST(round(CAST(sp AS DOUBLE) / " +
              "CAST(LEAST(r_tot, 10) AS DOUBLE), 0) AS BIGINT)"),
              lit(0L)).as("ap_micro"))
          .orderBy($"q_id")
      },
      Some(s"""WITH p AS (
        |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 8),
        |sc AS (
        |  SELECT q_id, q_label, e.vec_id, e.label,
        |    ${duckCos("e.embedding", "q_emb")} AS cos
        |  FROM embeddings e, p WHERE e.vec_id >= 8),
        |rt AS (
        |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS r_tot FROM sc
        |  WHERE label = q_label GROUP BY 1),
        |top AS (
        |  SELECT q_id, pos,
        |    CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel
        |  FROM (
        |    SELECT q_id, q_label, label, row_number() OVER (
        |      PARTITION BY q_id ORDER BY cos DESC, vec_id) AS pos
        |    FROM sc) WHERE pos <= 10),
        |h AS (
        |  SELECT q_id,
        |    CAST(round(CAST(SUM(rel) OVER (PARTITION BY q_id
        |      ORDER BY pos ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
        |      CAST(pos AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS p6,
        |    rel
        |  FROM top),
        |ha AS (
        |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |    CAST(SUM(p6) AS BIGINT) AS sp
        |  FROM h WHERE rel = 1 GROUP BY 1)
        |SELECT p.q_id, COALESCE(ha.n_hits, 0) AS n_hits,
        |  COALESCE(rt.r_tot, 0) AS r_tot,
        |  COALESCE(CAST(round(CAST(ha.sp AS DOUBLE) /
        |    CAST(LEAST(rt.r_tot, 10) AS DOUBLE), 0) AS BIGINT), 0)
        |    AS ap_micro
        |FROM p LEFT JOIN rt ON p.q_id = rt.q_id
        |LEFT JOIN ha ON p.q_id = ha.q_id
        |ORDER BY p.q_id""".stripMargin),
      "average precision @ 10 per probe over the fixed 8-probe panel " +
        "(micro-frozen per-hit precisions, left-join zero for no-hit)"),

    // Recall @ 10 per probe — the fourth retrieval metric beside
    // q_mrr (first hit), q_map (precision-weighted), q_ndcg (graded):
    // recall@k = |relevant ∩ top-k| / R with the UNCAPPED pool size R
    // as denominator (the q_map variant divides by min(R, k); both
    // conventions exist — this one reports how much of the pool the
    // cut retrieves). Same fixed 8-probe panel, same q_id-partitioned
    // rank windows on bit-identical cosines; the output is driven from
    // the probe PANEL (the q_map r12 contract), so zero-pool probes
    // report r_tot = 0 / recall_micro = 0 instead of vanishing.
    "q_recall_at_k" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val probes = broadcast(e.filter($"vec_id" < 8)
          .select($"vec_id".as("q_id"), $"label".as("q_label"),
            $"embedding".as("q_emb")))
        val scored = e.filter($"vec_id" >= 8).crossJoin(probes)
          .select($"q_id", $"q_label", $"vec_id", $"label",
            expr("cosine_sim(embedding, q_emb)").as("cos"))
        val rtot = scored.filter($"label" === $"q_label")
          .groupBy($"q_id").agg(count(lit(1)).as("r_tot"))
        val w = Window.partitionBy($"q_id")
          .orderBy($"cos".desc, $"vec_id")
        val hits = scored
          .withColumn("pos", row_number().over(w)).filter($"pos" <= 10)
          .filter($"label" === $"q_label")
          .groupBy($"q_id").agg(count(lit(1)).as("n_hits"))
        probes.select($"q_id")
          .join(rtot, Seq("q_id"), "left")
          .join(hits, Seq("q_id"), "left")
          .select($"q_id", coalesce($"r_tot", lit(0L)).as("r_tot"),
            coalesce($"n_hits", lit(0L)).as("n_hits"),
            coalesce(expr("CAST(round(CAST(n_hits AS DOUBLE) / " +
              "CAST(r_tot AS DOUBLE) * 1000000.0, 0) AS BIGINT)"),
              lit(0L)).as("recall_micro"))
          .orderBy($"q_id")
      },
      Some(s"""WITH p AS (
        |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 8),
        |sc AS (
        |  SELECT q_id, q_label, e.vec_id, e.label,
        |    ${duckCos("e.embedding", "q_emb")} AS cos
        |  FROM embeddings e, p WHERE e.vec_id >= 8),
        |rt AS (
        |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS r_tot FROM sc
        |  WHERE label = q_label GROUP BY 1),
        |h AS (
        |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM (
        |    SELECT q_id, q_label, label, row_number() OVER (
        |      PARTITION BY q_id ORDER BY cos DESC, vec_id) AS pos
        |    FROM sc) WHERE pos <= 10 AND label = q_label GROUP BY 1)
        |SELECT p.q_id, COALESCE(rt.r_tot, 0) AS r_tot,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(CAST(round(CAST(h.n_hits AS DOUBLE) /
        |    CAST(rt.r_tot AS DOUBLE) * 1000000.0, 0) AS BIGINT), 0)
        |    AS recall_micro
        |FROM p LEFT JOIN rt ON p.q_id = rt.q_id
        |LEFT JOIN h ON p.q_id = h.q_id
        |ORDER BY p.q_id""".stripMargin),
      "recall @ 10 per probe over the fixed 8-probe panel (uncapped " +
        "pool denominator, panel-driven zero rows)"),

    // Expected reciprocal rank @ 10 — the cascade-model retrieval
    // metric (Chapelle et al. 2009): a user scans ranks top-down and
    // stops at a relevant hit with probability R; ERR = sum over
    // relevant ranks r of (1/r) * R * (1-R)^(#relevant above r), with
    // the binary same-label relevance mapped to the standard graded
    // R = (2^1-1)/2^1 = 0.5 — so each term is EXACTLY 1e6/(r * 2^(k+1))
    // micro-units with an integer denominator (no float powers). Same
    // fixed 8-probe panel as q_mrr; the output is panel-driven (the
    // q_map lesson): a probe with no top-10 hit reports err_micro = 0.
    "q_err" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val probes = broadcast(e.filter($"vec_id" < 8)
          .select($"vec_id".as("q_id"), $"label".as("q_label"),
            $"embedding".as("q_emb")))
        val w = Window.partitionBy($"q_id")
          .orderBy($"cos".desc, $"vec_id")
        val top = e.filter($"vec_id" >= 8).crossJoin(probes)
          .select($"q_id", $"vec_id",
            ($"label" === $"q_label").cast("long").as("rel"),
            expr("cosine_sim(embedding, q_emb)").as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 10)
          .withColumn("kprev", sum($"rel").over(w) - $"rel")
        val hits = top.filter($"rel" === 1L)
          .select($"q_id", expr("CAST(round(1000000.0 / " +
            "CAST(rn * shiftleft(1, CAST(kprev + 1 AS INT)) " +
            "AS DOUBLE), 0) AS BIGINT)").as("t6"))
          .groupBy($"q_id")
          .agg(count(lit(1)).as("n_rel"), sum($"t6").as("err"))
        probes.select($"q_id").join(hits, Seq("q_id"), "left")
          .select($"q_id", coalesce($"n_rel", lit(0L)).as("n_rel"),
            coalesce($"err", lit(0L)).as("err_micro"))
          .orderBy($"q_id")
      },
      Some(s"""WITH p AS (
        |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 8),
        |sc AS (
        |  SELECT q_id, e.vec_id,
        |    CASE WHEN e.label = q_label THEN 1 ELSE 0 END AS rel,
        |    ${duckCos("e.embedding", "q_emb")} AS cos
        |  FROM embeddings e, p WHERE e.vec_id >= 8),
        |top AS (
        |  SELECT q_id, rel, rn,
        |    SUM(rel) OVER (PARTITION BY q_id ORDER BY cos DESC,
        |      vec_id) - rel AS kprev
        |  FROM (
        |    SELECT q_id, vec_id, rel, cos, row_number() OVER (
        |      PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
        |    FROM sc) WHERE rn <= 10),
        |h AS (
        |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_rel,
        |    CAST(SUM(CAST(round(1000000.0 /
        |      CAST(rn * (1 << CAST(kprev + 1 AS INT)) AS DOUBLE), 0)
        |      AS BIGINT)) AS BIGINT) AS err
        |  FROM top WHERE rel = 1 GROUP BY 1)
        |SELECT p.q_id, COALESCE(h.n_rel, 0) AS n_rel,
        |  COALESCE(h.err, 0) AS err_micro
        |FROM p LEFT JOIN h ON p.q_id = h.q_id
        |ORDER BY p.q_id""".stripMargin),
      "expected reciprocal rank @ 10 per probe (cascade model, exact " +
        "integer 1/(r*2^(k+1)) terms, panel-driven zero rows)"),

    // Mean silhouette per label over a fixed 256-vector panel — the
    // "do the labels cohere in embedding space" diagnostic that grades
    // the embedding column itself (q_knn_classify grades prediction;
    // this grades geometry). Cosine distances freeze to micro on the
    // bounded 256x256 pair grid; a(i) = mean intra-label distance,
    // b(i) = min over other labels of mean distance, s = (b-a)/max(a,b)
    // frozen per point then averaged per label. Points whose label has
    // no second panel member are excluded (silhouette undefined) — the
    // standard contract. Scale: the panel is FIXED size; the only
    // corpus-sized work is the vec_id < 256 scan prune.
    "q_silhouette" -> GQuery(
      (s, d) => {
        import s.implicits._
        val p = emb(s, d).filter($"vec_id" < 256)
          .select($"vec_id", $"label", $"embedding")
        val pairs = p.as("a")
          .join(broadcast(p.select($"vec_id".as("j"),
            $"label".as("lj"), $"embedding".as("ej"))),
            $"vec_id" =!= $"j")
          .select($"vec_id".as("i"), $"label".as("li"), $"lj",
            expr("CAST(round((1.0 - cosine_sim(embedding, ej)) * " +
              "1000000.0, 0) AS BIGINT)").as("d6"))
        val byLab = pairs.groupBy($"i", $"li", $"lj")
          .agg(sum($"d6").as("sd"), count(lit(1)).as("cnt"))
        val aDist = byLab.filter($"li" === $"lj")
          .select($"i", $"li",
            expr("CAST(sd AS DOUBLE) / CAST(cnt AS DOUBLE)").as("a"))
        val bDist = byLab.filter($"li" =!= $"lj")
          .groupBy($"i")
          .agg(min(expr("CAST(sd AS DOUBLE) / CAST(cnt AS DOUBLE)"))
            .as("b"))
        aDist.join(bDist, "i")
          .select($"li".as("label"),
            expr("CAST(round((b - a) / greatest(a, b) * 1000000.0, " +
              "0) AS BIGINT)").as("s6"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n"),
            expr("CAST(round(CAST(SUM(s6) AS DOUBLE) / " +
              "CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT)")
              .as("mean_sil_micro"))
          .orderBy($"label")
      },
      Some(s"""WITH p AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  WHERE vec_id < 256),
        |pairs AS (
        |  SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
        |    CAST(round((1.0 -
        |      ${duckCos("a.embedding", "b.embedding")}) * 1000000.0,
        |      0) AS BIGINT) AS d6
        |  FROM p a JOIN p b ON a.vec_id <> b.vec_id),
        |bylab AS (
        |  SELECT i, li, lj, CAST(SUM(d6) AS BIGINT) AS sd,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM pairs GROUP BY 1, 2, 3),
        |ad AS (
        |  SELECT i, li, CAST(sd AS DOUBLE) / CAST(cnt AS DOUBLE) AS a
        |  FROM bylab WHERE li = lj),
        |bd AS (
        |  SELECT i, MIN(CAST(sd AS DOUBLE) / CAST(cnt AS DOUBLE)) AS b
        |  FROM bylab WHERE li <> lj GROUP BY 1)
        |SELECT li AS label, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(round(CAST(SUM(CAST(round((b - a) / greatest(a, b) *
        |    1000000.0, 0) AS BIGINT)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT) AS mean_sil_micro
        |FROM ad JOIN bd USING (i)
        |GROUP BY 1 ORDER BY label""".stripMargin),
      "mean silhouette per label over a fixed 256-vector panel " +
        "(micro-frozen cosine distances, bounded pair grid)"),

    // Maximal Marginal Relevance selection (Carbonell & Goldstein
    // 1998) — the diversity-aware re-ranker a RAG/training-data
    // pipeline runs AFTER retrieval: greedily pick k=5 of the top-20
    // candidates maximizing lambda*relevance - (1-lambda)*max-
    // similarity-to-already-picked, lambda = 0.7. Every score is an
    // EXACT INTEGER (7*rel6 - 3*maxsim6 over micro-frozen cosines,
    // ties to the smaller vec_id), so the greedy argmax chain is
    // deterministic in both engines: Spark collects the 20-row
    // candidate panel + its 380 pair similarities (metadata-scale,
    // the kmeans-centroid pattern) and runs the 5 steps in plain
    // integer arithmetic; the oracle unrolls the same 5 steps as
    // generated CTEs. Distributed work: one corpus top-20 + one
    // bounded pair grid.
    "q_mmr_select" -> GQuery(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val probe = broadcast(e.filter($"vec_id" === 0)
          .select($"embedding".as("q_emb")))
        val cands = e.filter($"vec_id" >= 8).crossJoin(probe)
          .select($"vec_id", $"embedding",
            expr("CAST(round(cosine_sim(embedding, q_emb) * " +
              "1000000.0, 0) AS BIGINT)").as("rel6"))
          .orderBy($"rel6".desc, $"vec_id").limit(20)
          .localCheckpoint()
        val rel = cands.select($"vec_id", $"rel6")
          .as[(Long, Long)].collect().toMap
        val sim = cands.as("a")
          .join(cands.select($"vec_id".as("j"),
            $"embedding".as("ej")).as("b"), $"vec_id" =!= $"j")
          .select($"vec_id".as("i"), $"j",
            expr("CAST(round(cosine_sim(embedding, ej) * 1000000.0, " +
              "0) AS BIGINT)").as("sim6"))
          .as[(Long, Long, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        // greedy integer MMR, up to 5 steps — bounded by the panel
        // size so a thin corpus emits fewer picks (the oracle's
        // LIMIT-1 CTE chain degrades to fewer rows the same way)
        var sel = Vector.empty[(Long, Long, Long)] // (vec_id, rel6, score)
        for (_ <- 1 to math.min(5, rel.size)) {
          val remaining = rel.keys.filterNot(sel.map(_._1).contains)
          val scored = remaining.map { c =>
            val score =
              if (sel.isEmpty) 7L * rel(c)
              else 7L * rel(c) - 3L * sel.map(s => sim((c, s._1))).max
            (c, rel(c), score)
          }
          sel = sel :+ scored.minBy(x => (-x._3, x._1))
        }
        s.createDataFrame(sel.zipWithIndex.map { case ((v, r, sc), i) =>
          ((i + 1).toLong, v, r, sc) })
          .toDF("rank", "vec_id", "rel_micro", "score")
          .orderBy($"rank")
      },
      Some(mmrOracle),
      "MMR diverse top-5 from the top-20 retrieval panel (integer " +
        "7*rel6 - 3*maxsim6 greedy, unrolled oracle CTEs)"),

    // Farthest-point (k-center greedy) sampling: pick k=8 maximally
    // spread vectors from the fixed 64-vector panel — THE diversity
    // sampler for training-data curation (coreset seeding, kmeans++
    // first phase, eval-set spreading) where q_mmr_select trades
    // against relevance, this maximizes pure coverage: each step takes
    // the candidate whose MINIMUM cosine distance to the already-
    // selected set is LARGEST (2-approximation to the k-center
    // optimum). Seeded at vec_id 0 (stated). Distances are micro-
    // frozen integers, ties to the smaller vec_id, so the greedy chain
    // is deterministic; Spark collects the 64-row panel + pair grid
    // (metadata-scale) and runs integer steps; the oracle unrolls the
    // same 7 steps as generated CTEs.
    "q_fps_sample" -> GQuery(
      (s, d) => {
        import s.implicits._
        val p = emb(s, d).filter($"vec_id" < 64)
          .select($"vec_id", $"embedding")
        val sim = p.as("a")
          .join(broadcast(p.select($"vec_id".as("j"),
            $"embedding".as("ej"))), $"vec_id" =!= $"j")
          .select($"vec_id".as("i"), $"j",
            expr("CAST(round((1.0 - cosine_sim(embedding, ej)) * " +
              "1000000.0, 0) AS BIGINT)").as("d6"))
          .as[(Long, Long, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        val ids = (sim.keys.map(_._1) ++ sim.keys.map(_._2)).toSet
        var sel = Vector((0L, 0L)) // (vec_id, min-dist at selection)
        // bounded by the panel size: a <8-vector panel yields fewer
        // picks, matching the oracle's empty-CTE tail
        for (_ <- 2 to math.min(8, ids.size)) {
          val rem = ids.filterNot(c => sel.exists(_._1 == c))
          val scored = rem.map { c =>
            (c, sel.map(s => sim((c, s._1))).min) }
          val pick = scored.minBy(x => (-x._2, x._1))
          sel = sel :+ pick
        }
        s.createDataFrame(sel.zipWithIndex.map { case ((v, md), i) =>
          ((i + 1).toLong, v, md) })
          .toDF("rank", "vec_id", "min_dist_micro")
          .orderBy($"rank")
      },
      Some(fpsOracle),
      "farthest-point diversity sample: k=8 greedy k-center picks " +
        "from the 64-vector panel (integer micro distances, unrolled " +
        "oracle CTEs)"),
  )

  /** q_fps_sample's oracle: the same 7 greedy steps unrolled as CTEs,
    * generated to share one selection rule with the Spark loop. */
  private def fpsOracle: String = {
    val steps = (2 to 8).map { k =>
      s"""f$k AS (
         |  SELECT p.i AS vec_id, MIN(p.d6) AS md
         |  FROM pairs p JOIN fsel${k - 1} s ON p.j = s.vec_id
         |  WHERE p.i NOT IN (SELECT vec_id FROM fsel${k - 1})
         |  GROUP BY p.i
         |  ORDER BY md DESC, p.i LIMIT 1),
         |fsel$k AS (SELECT vec_id FROM fsel${k - 1}
         |  UNION ALL SELECT vec_id FROM f$k)""".stripMargin
    }.mkString(",\n")
    val out = Seq(
      "SELECT CAST(1 AS BIGINT) AS rank, CAST(0 AS BIGINT) AS vec_id," +
        " CAST(0 AS BIGINT) AS min_dist_micro") ++
      (2 to 8).map(k =>
        s"SELECT CAST($k AS BIGINT), vec_id, md FROM f$k")
    s"""WITH p0 AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 64),
       |pairs AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j,
       |    CAST(round((1.0 - ${duckCos("a.embedding", "b.embedding")})
       |      * 1000000.0, 0) AS BIGINT) AS d6
       |  FROM p0 a JOIN p0 b ON a.vec_id <> b.vec_id),
       |fsel1 AS (SELECT CAST(0 AS BIGINT) AS vec_id),
       |$steps
       |${out.mkString("\nUNION ALL\n")}
       |ORDER BY rank""".stripMargin
  }

  /** q_mmr_select's oracle: the same 5 greedy steps unrolled as CTEs,
    * generated so both engines share one selection rule. */
  private def mmrOracle: String = {
    val steps = (2 to 5).map { k =>
      s"""s$k AS (
         |  SELECT c.vec_id, c.rel6,
         |    7 * c.rel6 - 3 * MAX(p.sim6) AS score
         |  FROM cands c
         |  JOIN pairs p ON p.i = c.vec_id
         |  JOIN sel${k - 1} s ON p.j = s.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  GROUP BY c.vec_id, c.rel6
         |  ORDER BY score DESC, c.vec_id LIMIT 1),
         |sel$k AS (SELECT vec_id FROM sel${k - 1}
         |  UNION ALL SELECT vec_id FROM s$k)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, vec_id, rel6 AS rel_micro," +
        s" score FROM s$k").mkString("\nUNION ALL\n")
    s"""WITH p0 AS (
       |  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       |cands AS (
       |  SELECT vec_id, embedding,
       |    CAST(round(${duckCos("embedding", "q_emb")} * 1000000.0, 0)
       |      AS BIGINT) AS rel6
       |  FROM embeddings, p0 WHERE vec_id >= 8
       |  ORDER BY rel6 DESC, vec_id LIMIT 20),
       |pairs AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j,
       |    CAST(round(${duckCos("a.embedding", "b.embedding")} *
       |      1000000.0, 0) AS BIGINT) AS sim6
       |  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
       |s1 AS (
       |  SELECT vec_id, rel6, 7 * rel6 AS score FROM cands
       |  ORDER BY rel6 DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id FROM s1),
       |$steps
       |$out
       |ORDER BY rank""".stripMargin
  }
}
