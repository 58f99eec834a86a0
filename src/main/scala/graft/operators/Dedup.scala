package graft.operators

import graft.{Fns, GQuery, Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Checkpoint.CutOps

/** Deduplication operators over `documents` (SURVEY.md §2.11 X1/X2).
  *
  * The oracle-verified tier here is exact dedup (hash-groupBy) and n-gram
  * Jaccard similarity (the brute-force candidate generator). The sub-linear
  * scale paths — MinHash+LSH banding and SimHash — are in
  * [[graft.functions.MinHash]] / [[graft.functions.SimHash]] and are
  * property-tested (ScalaTest) against the brute-force Jaccard here, since
  * their xxhash64-based hash functions are engine-specific; the MATH of
  * both is additionally oracle-pinned via md5-hash twins (`q_minhash_sig`,
  * `q_simhash`) that DuckDB replays bit-for-bit.
  */
object Dedup {
  import Fns._

  /** Shingles appearing in more than this many documents are treated as
    * stop-phrases and excluded from the Jaccard shingle universe (mirrored
    * exactly in the DuckDB oracle). */
  val MaxShingleDf = 100

  /** Modulus for the cross-engine MinHash permutations (q_minhash_sig):
    * the Mersenne prime 2^31-1. Multipliers stay below 2^20 so a*h with
    * h < 2^32 peaks near 2^52 — exact in BIGINT on both engines. */
  val MhPrime = 2147483647L

  /** Eight fixed affine permutations (a, b) for q_minhash_sig. */
  val mhPerms: Seq[(Long, Long)] = Seq(
    (387461L, 98651L), (554111L, 202021L), (731641L, 315467L),
    (123457L, 47563L), (982451L, 873127L), (286543L, 551239L),
    (665981L, 90907L), (449363L, 668207L))

  /** q_lsh_bucket_join's distinct (doc_id, h) 3-gram shingle-hash table,
    * UNcheckpointed — the registered query materializes it once (r15);
    * exposed so PlanSpec can pin the builder's plan shape (the
    * scan+explode+md5+distinct) independent of the checkpoint. */
  private[operators] def lshShingleTable(
      s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    spread(Tables.load(s, d, "documents")
        .select($"doc_id", $"text"))
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks)-2), i -> concat_ws(' ', slice(toks, i, 3)))"))
        .as("sh"))
      .withColumn("h",
        conv(substring(md5($"sh"), 1, 8), 16, 10).cast("long"))
      .select($"doc_id", $"h").distinct()
  }

  /** q_lsh_bucket_join's doc-keyed signature table, UNcheckpointed.
    * MIN is duplicate-insensitive, so the distinct shingle-hash table
    * serves both the signatures and the exact-Jaccard verify stage;
    * the 8 mins AND the per-doc shingle count ride ONE doc-keyed
    * aggregation (nsh was its own groupBy over a second build of the
    * shingle table — fused, both aggregate the same distinct
    * (doc_id, h) rows). PlanSpec pins the partial-min map-side shape
    * here. */
  private[operators] def lshSignatures(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val mins = mhPerms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * $"h" + lit(b), lit(MhPrime))).as(s"m${i + 1}") }
    sh.groupBy($"doc_id")
      .agg(mins.head, (mins.tail :+ count(lit(1)).as("nsh")): _*)
  }

  /** Connected components over near-dup candidate pairs — the step after
    * pair generation in a real dedup pass: every document in a duplicate
    * cluster maps to one canonical keeper (the smallest id reachable
    * through any chain of pairs, so A~B, B~C collapses to one keeper even
    * when A and C never paired directly).
    *
    * Iterative min-label propagation with POINTER JUMPING: each round a
    * node takes the min of its own label, its neighbors' labels, and its
    * label's label (path halving) — so even a path graph converges in
    * O(log diameter) rounds, not O(diameter). Each round is two shuffle
    * joins, and each round's result is lineage-cut via
    * [[Checkpoint.cut]]: an iterative join MUST cut lineage per round —
    * a plain cache leaves the logical plan doubling every iteration
    * until analysis itself blows up (the classic iterative-Spark trap).
    * Under `spark.graft.checkpoint.mode=reliable` the per-round cut is
    * a fault-tolerant FS checkpoint, the preemptible-cluster setting.
    *
    * Returns (id, cluster_id). */
  def clusters(
      pairs: org.apache.spark.sql.DataFrame,
      maxIter: Int = 25): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, coalesce, least, min => fmin}
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct().cut
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).cut
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"),
          col("label").as("dst_label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(fmin(col("dst_label")).as("nbr_label"))
      val jump = labels.select(col("id"), col("label")).as("a")
        .join(labels.select(col("id").as("lid"),
          col("label").as("jmp_label")), col("label") === col("lid"))
        .select(col("id"), col("jmp_label"))
      // The new label and a did-it-change flag come out of ONE projection
      // over the same join, so the convergence probe below scans the
      // already-materialized checkpoint instead of paying a second keyed
      // join against the previous round's labels.
      val newLabel = least(col("label"),
        coalesce(col("nbr_label"), col("label")),
        coalesce(col("jmp_label"), col("label")))
      val next = labels
        .join(neighborMin, Seq("id"), "left")
        .join(jump, Seq("id"), "left")
        .select(col("id"), newLabel.as("label"),
          (newLabel =!= col("label")).as("chg"))
        .cut
      val changed = next.filter(col("chg")).limit(1).count()
      labels = next.select(col("id"), col("label"))
      converged = changed == 0L
      i += 1
    }
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** The full corpus dedup pass, composed the way a training-data job
    * runs it: (1) exact dedup by normalized fingerprint — one cheap
    * hash-groupBy that removes byte-identical copies before anything
    * quadratic; (2) MinHash+LSH candidate pairs over the survivors;
    * (3) connected-component clustering so transitive chains collapse;
    * (4) keep one canonical document (smallest id) per cluster.
    * Every stage is the sub-linear shape — nothing all-pairs. */
  def deduplicate(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    val exact = docs
      .withColumn("__fp",
        md5(regexp_replace(lower(col(textCol)), "\\s+", " ")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__fp")
    val pairs = graft.functions.MinHash.nearDuplicates(
      exact.select(col(idCol), tokens(col(textCol)).as("__toks")),
      idCol, col("__toks"), threshold = threshold)
    val losers = clusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    exact.join(losers, Seq(idCol), "left_anti")
  }

  /** Memoized corpus indexes: the Jaccard pair set and the cluster map
    * are INDEX structures — built once per corpus and reused by every
    * consumer (`q_ngram_jaccard`, `q_dup_clusters`, `q_split_safe`,
    * `q_dedup_keep_best`), exactly the [[IvfIndex]] persisted-centroid
    * treatment: production materializes them next to the corpus; here
    * `localCheckpoint` is the in-process stand-in. Without this, every
    * downstream query re-runs the same pair self-join + iterative
    * clustering. Every index here is built from `documents` alone and is
    * rebuilt when that table changes ([[Memo]]). */
  private def memo(s: SparkSession, d: String, id: String)(
      build: => DataFrame): DataFrame =
    Memo(s, s"Dedup.$id", Tables.roots(d, "documents"))(build)

  /** Cached (d1, d2, jaccard) pairs for the corpus at `d`. */
  private def jaccardPairs(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    memo(s, d, "jaccardPairs")(jaccardPairsUncached(s, d).localCheckpoint())

  /** Cached (doc_id, cluster_id) map over >=0.5-Jaccard pairs at `d`. */
  private def clusterMap(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    memo(s, d, "clusterMap") {
      import org.apache.spark.sql.functions.col
      val edges = jaccardPairs(s, d).filter(col("jaccard") >= 0.5)
        .select(col("d1").as("id1"), col("d2").as("id2"))
      clusters(edges).withColumnRenamed("id", "doc_id").localCheckpoint()
    }

  /** Cached [[prefixSets]], the corpus index of q_prefix_join and
    * q_minhash_lsh's exact verify. */
  private def prefixSetsCached(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    memo(s, d, "prefixSets")(prefixSets(s, d).localCheckpoint())

  /** Dictionary-encoded sorted shingle sets for the prefix-filtered
    * set-similarity join (q_prefix_join): each document becomes a sorted
    * long array of global rarest-first shingle ranks. Ranks come from
    * [[graft.Fns.zipRank]] over the (df, shingle) total order on the
    * distinct-shingle universe — the DISTRIBUTED zipWithIndex assigner
    * (range-partitioned sort + per-partition offsets), NOT a row_number
    * window whose unpartitioned sort would funnel the billions-row
    * distinct-shingle universe of a 100 TB corpus through one partition
    * (VERDICT r5 #1). Ranks are identical to row_number's; any consistent
    * total order preserves the prefix-filter guarantee because both join
    * sides read this one table. Dictionary-encoding itself is the scale
    * win: sets become 8-byte longs instead of ~60-byte strings through
    * every join and intersection (~8x fewer shuffle bytes), and ranks are
    * collision-free unlike hashing. Exposed uncheckpointed so PlanSpec can
    * pin "no single-partition exchange" on the REAL plan (q_prefix_join
    * itself checkpoints this, which would hide the dictionary step). */
  /** 64-bit IDF-WEIGHTED SimHash as TWO 32-bit halves
    * `(doc_id, fp_hi, fp_lo)`: per-bit votes are weighted by an
    * integer-exact IDF proxy `greatest(1, least(1024, n_docs div df))`
    * (common tokens → 1, rare → capped 1024; pure integer division, so
    * DuckDB replays it bit-for-bit), each half over an independent md5
    * substring so the SQL replay never touches signed-64 overflow.
    *
    * Why weighted (round-7 Zipf-vocab sweep): UNWEIGHTED votes are
    * majority-ruled by the highest-frequency tokens, and real (Zipfian)
    * text shares those tokens across every document — fingerprints
    * cluster, 16-bit chunk buckets saturate, and the "quadratic-safe"
    * candidate join measured 112M fp-space pairs on a realistic-vocab
    * corpus vs 19M on the synthetic 30-word one. IDF weighting is the
    * standard Charikar-variant remedy: the vote mass moves to the
    * tokens that discriminate documents, fingerprints spread, and the
    * chunk join returns to its n²/65536-per-chunk envelope.
    *
    * Shape: explode → broadcast-join the vocabulary-bounded weight
    * table → ONE groupBy(doc_id) with 64 codegen'd conditional sums
    * (the q_minhash_sig recipe — map-side partial aggregation, no
    * per-bit corpus rescan, no interpreted lambdas). The corpus count
    * enters as a lazy plan scalar (the q_market_basket anchor pattern).
    * Shared by `q_simhash_near` and its brute-force losslessness test. */
  private[operators] def simhash64(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, d, "documents")
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= 1)
      .select($"doc_id", $"toks")
    val tok = docs.select($"doc_id", explode($"toks").as("t"))
    val dfreq = tok.distinct().groupBy($"t").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val wt = dfreq.crossJoin(broadcast(nDocs))
      .select($"t",
        greatest(lit(1L), least(lit(1024L), expr("n_docs div df")))
          .as("tw"))
    val hw = tok.join(wt, "t")
      .select($"doc_id",
        expr("CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)")
          .as("hl"),
        expr("CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT)")
          .as("hh"),
        $"tw")
    val votes =
      (0 until 32).map(i =>
        sum(when(expr(s"(hl >> $i) & 1") === 1, $"tw").otherwise(-$"tw"))
          .as(s"vl$i")) ++
      (0 until 32).map(i =>
        sum(when(expr(s"(hh >> $i) & 1") === 1, $"tw").otherwise(-$"tw"))
          .as(s"vh$i"))
    val packed = hw.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
    def pack(p: String) = expr((0 until 32)
      .map(i => s"(CASE WHEN $p$i > 0 THEN shiftleft(CAST(1 AS BIGINT), $i)" +
        s" ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + "))
    packed.select($"doc_id", pack("vh").as("fp_hi"), pack("vl").as("fp_lo"))
  }

  private[operators] def prefixSets(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val wsh = org.apache.spark.sql.expressions.Window.partitionBy($"shingle")
    // Checkpointed ONCE because it has two consumers with a materialization
    // between them: the dict is built eagerly (zipRank), so without this
    // the scan + explode + df-window pipeline would run twice — once for
    // the dict, once for the rank join below. (Production materializes
    // the shingle table next to the corpus for the same reason.)
    val sh = spread(Tables.load(s, d, "documents")
          .select($"doc_id", $"text"))
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(array_distinct(expr(
        "transform(sequence(1, size(toks)-2), i -> concat_ws(' ', slice(toks, i, 3)))")))
        .as("shingle"))
      .withColumn("df", count(lit(1)).over(wsh))
      .filter($"df" <= MaxShingleDf)
      .localCheckpoint()
    val dict = graft.Fns.zipRank(
      sh.select($"shingle", $"df").distinct(), "rank", $"df", $"shingle")
    sh.join(dict.select($"shingle", $"rank"), "shingle")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"rank")).as("set"))
      .withColumn("nsh", size($"set"))
  }

  /** Brute-force n-gram-Jaccard candidate pairs (d1 < d2, jaccard) —
    * shared by `q_ngram_jaccard` (top-k view) and `q_dup_clusters` (edge
    * input). Per-doc/per-shingle counts ride along on every shingle row
    * (window counts), so the pair aggregation needs NO extra count-joins
    * and the two self-join sides are identical plans (ReusedExchange). */
  /** Brute-force pair statistics (d1, d2, inter, n1, n2) over the
    * df-capped shingle sets — the one expensive self-join every
    * symmetric (Jaccard) and asymmetric (containment) similarity view
    * projects from. */
  private def pairStatsUncached(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
    val wsh = org.apache.spark.sql.expressions.Window.partitionBy($"shingle")
    val sh = spread(Tables.load(s, d, "documents")
          .select($"doc_id", $"text"))
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(array_distinct(expr(
        "transform(sequence(1, size(toks)-2), i -> concat_ws(' ', slice(toks, i, 3)))")))
        .as("shingle"))
      .withColumn("df", count(lit(1)).over(wsh))
      .filter($"df" <= MaxShingleDf)
      .drop("df")
      .withColumn("nsh", count(lit(1)).over(w))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        $"a.nsh".as("n1"), $"b.nsh".as("n2"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Memoized pair statistics (same derived-index contract as the
    * caches above). */
  private def pairStats(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    memo(s, d, "pairStats")(pairStatsUncached(s, d).localCheckpoint())

  private def jaccardPairsUncached(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    pairStats(s, d).select($"d1", $"d2",
      ($"inter".cast("double") /
        ($"n1" + $"n2" - $"inter")).as("jaccard"))
  }

  /** DuckDB CTE block computing the same (d1, d2, jaccard) pair set —
    * textually shared by the two oracles so they can never drift. */
  private val pairSql = """t AS (
    |  SELECT doc_id,
    |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t != '') AS toks
    |  FROM documents),
    |s0 AS (
    |  SELECT DISTINCT doc_id, shingle FROM (
    |    SELECT doc_id,
    |      unnest(list_transform(generate_series(1, len(toks)-2),
    |        i -> array_to_string(toks[i:i+2], ' '))) AS shingle
    |    FROM t WHERE len(toks) >= 3)),
    |s AS (
    |  SELECT doc_id, shingle FROM (
    |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    |    FROM s0) WHERE df <= 100),
    |c AS (SELECT doc_id, COUNT(*) AS nsh FROM s GROUP BY doc_id),
    |p AS (
    |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
    |  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    |  GROUP BY 1, 2),
    |pairs AS (
    |  SELECT d1, d2,
    |    CAST(inter AS DOUBLE) / (c1.nsh + c2.nsh - inter) AS jaccard
    |  FROM p JOIN c c1 ON p.d1 = c1.doc_id JOIN c c2 ON p.d2 = c2.doc_id)""".stripMargin

  val queries: Seq[(String, GQuery)] = Seq(

    // X1 exact dedup via content fingerprint: one hash-groupBy, map-side
    // combine, shuffle only distinct fingerprints. At 100 TB this is the
    // cheapest dedup pass and runs first to shrink later stages.
    "q_dedup_exact" -> GQuery(
      (s, d) => {
        import s.implicits._
        Tables.load(s, d, "documents")
          .select($"doc_id",
            md5(regexp_replace(lower($"text"), "\\s+", " ")).as("fp"))
          .groupBy($"fp")
          .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
          .orderBy($"fp")
      },
      Some("""SELECT fp, min(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM (SELECT doc_id,
        |        md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |      FROM documents)
        |GROUP BY fp ORDER BY fp""".stripMargin),
      "exact dedup by normalized-content hash (extension X1)"),

    // X2 n-gram Jaccard near-dup, brute force: distinct word-3-shingles per
    // doc, inverted-index self-join on shingle (the candidate generator),
    // |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. Top-20 most similar pairs.
    // Hot (stop-phrase) shingles — doc frequency > MaxShingleDf — are
    // dropped BEFORE the self-join: a shingle in k docs contributes k² join
    // rows while carrying ~zero discrimination, so the cap bounds the join
    // blowup (the similarity becomes Jaccard over the capped shingle
    // universe, identically on both engines). Scale notes: the explode→join
    // is the exact-candidate path; at 100 TB the MinHash/LSH banding
    // (functions.MinHash) replaces the full join.
    "q_ngram_jaccard" -> GQuery(
      (s, d) =>
        jaccardPairs(s, d)
          .orderBy(col("jaccard").desc, col("d1"), col("d2"))
          .limit(20),
      Some(s"""WITH $pairSql
        |SELECT d1, d2, jaccard FROM pairs
        |ORDER BY jaccard DESC, d1, d2 LIMIT 20""".stripMargin),
      "n-gram Jaccard near-dup candidate pairs (extension X2)"),

    // X2 asymmetric CONTAINMENT C(A,B) = |A∩B| / |A|: the direction-aware
    // near-dup signal Jaccard hides — a short document quoted inside a
    // long one has low Jaccard but high containment, and production
    // dedup keeps the superstring, not "the better of two equals".
    // Projects off the same memoized pair-statistics index the Jaccard
    // view uses (one self-join, many views); reports both directions and
    // the containment-based keeper (drop the contained doc). Oracle
    // reuses the shared CTE block so the pair set can never drift from
    // q_ngram_jaccard's.
    "q_containment" -> GQuery(
      (s, d) => {
        import s.implicits._
        pairStats(s, d)
          .select($"d1", $"d2",
            round($"inter".cast("double") / $"n1", 6).as("c_in_d1"),
            round($"inter".cast("double") / $"n2", 6).as("c_in_d2"))
          .filter($"c_in_d1" >= 0.8 || $"c_in_d2" >= 0.8)
          .withColumn("keep",
            when($"c_in_d1" >= $"c_in_d2", $"d2").otherwise($"d1"))
          .orderBy($"d1", $"d2")
      },
      Some(s"""WITH $pairSql,
        |cont AS (
        |  SELECT p.d1, p.d2,
        |    round(CAST(inter AS DOUBLE) / c1.nsh, 6) AS c_in_d1,
        |    round(CAST(inter AS DOUBLE) / c2.nsh, 6) AS c_in_d2
        |  FROM p JOIN c c1 ON p.d1 = c1.doc_id
        |         JOIN c c2 ON p.d2 = c2.doc_id)
        |SELECT d1, d2, c_in_d1, c_in_d2,
        |  CASE WHEN c_in_d1 >= c_in_d2 THEN d2 ELSE d1 END AS keep
        |FROM cont WHERE c_in_d1 >= 0.8 OR c_in_d2 >= 0.8
        |ORDER BY d1, d2""".stripMargin),
      "asymmetric shingle containment pairs + superstring keeper (X2)"),

    // X2 edit-distance near-dup with two-key blocking: character-level
    // Levenshtein catches small in-place edits that token shingles blur,
    // but is O(len²) per pair — so candidates come from BLOCKING, never
    // all-pairs: each doc enters two buckets (first-16-chars and
    // last-16-chars of the normalized text, within language), pairs are
    // generated only inside buckets, and any bucket holding > 50 docs is
    // dropped (boilerplate-prefix guard, the same df-cap idea as the
    // shingle index). Distance gate is pure-integer (5·dist ≤ maxlen ⟺
    // dist ≤ 0.2·maxlen) — no double→int cast whose rounding differs
    // across engines. At 100 TB: blocking keys are a map-side projection,
    // bucket sizes are capped constants, and the quadratic work is
    // bounded per bucket.
    "q_edit_blocking" -> GQuery(
      (s, d) => {
        import s.implicits._
        // r15: the normalized-text table feeds the key build (twice,
        // via the former union) and both candidate join-backs — the
        // lazy plan re-ran the regexp normalization scan for each (12
        // parquet scans in the before-plan). Materialize n once and
        // emit both block keys from ONE pass (explode of a 2-element
        // array instead of a union of two selects).
        val n = Tables.load(s, d, "documents").select($"doc_id", $"lang",
          regexp_replace(lower(trim($"text")), "\\s+", " ").as("t"))
          .cut
        val keyed = n.select($"doc_id", $"lang",
          explode(array(substring($"t", 1, 16),
            expr("substring(t, greatest(1, length(t) - 15), 16)")))
            .as("bk"))
        val capped = keyed
          .withColumn("bn", count(lit(1))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy($"lang", $"bk")))
          .filter($"bn" <= 50)
        val cand = capped.alias("a").join(capped.alias("b"),
            $"a.lang" === $"b.lang" && $"a.bk" === $"b.bk" &&
              $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2")).distinct()
        cand
          .join(n.select($"doc_id".as("d1"), $"t".as("t1")), "d1")
          .join(n.select($"doc_id".as("d2"), $"t".as("t2")), "d2")
          // Length pre-filter BEFORE the O(len²) DP: levenshtein ≥
          // |len1−len2| (insertions alone), so a pair failing the gate
          // on length difference alone can never pass it on distance —
          // dropping it here is lossless and skips the expensive
          // comparison for most capped-block pairs (sf1 sweep: the DP
          // dominated this query's cost before the filter).
          .filter(lit(5L) * abs(length($"t1") - length($"t2")) <=
            greatest(length($"t1"), length($"t2")))
          .select($"d1", $"d2",
            levenshtein($"t1", $"t2").cast("bigint").as("dist"),
            greatest(length($"t1"), length($"t2")).cast("bigint")
              .as("maxlen"))
          .filter(lit(5L) * $"dist" <= $"maxlen")
          .select($"d1", $"d2", $"dist", $"maxlen",
            round(lit(1.0) - $"dist".cast("double") / $"maxlen", 6)
              .as("sim"))
          .orderBy($"d1", $"d2")
      },
      Some("""WITH n AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |k0 AS (
        |  SELECT doc_id, lang, substring(t, 1, 16) AS bk FROM n
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    substring(t, greatest(1, len(t) - 15), 16) AS bk FROM n),
        |k AS (
        |  SELECT doc_id, lang, bk FROM (
        |    SELECT doc_id, lang, bk,
        |      COUNT(*) OVER (PARTITION BY lang, bk) AS bn FROM k0)
        |  WHERE bn <= 50),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM k a JOIN k b
        |    ON a.lang = b.lang AND a.bk = b.bk AND a.doc_id < b.doc_id),
        |p AS (
        |  SELECT c.d1, c.d2,
        |    CAST(levenshtein(x.t, y.t) AS BIGINT) AS dist,
        |    CAST(greatest(len(x.t), len(y.t)) AS BIGINT) AS maxlen
        |  FROM cand c JOIN n x ON c.d1 = x.doc_id
        |              JOIN n y ON c.d2 = y.doc_id
        |  WHERE 5 * abs(len(x.t) - len(y.t)) <= greatest(len(x.t), len(y.t)))
        |SELECT d1, d2, dist, maxlen,
        |  round(1.0 - CAST(dist AS DOUBLE) / maxlen, 6) AS sim
        |FROM p WHERE 5 * dist <= maxlen ORDER BY d1, d2""".stripMargin),
      "Levenshtein near-dup pairs via two-key capped blocking (X2)"),

    // X2 record linkage via native Jaro-Winkler: the entity-resolution
    // primitive (customer/product matching) the edit-distance family
    // doesn't cover — transpositions are cheap and the Winkler prefix
    // boost rewards the same-entity-typo-late shape real names have.
    // Similarity is graft's native `jaro_winkler` codegen expression;
    // the ORACLE is DuckDB's own independent jaro_winkler_similarity, so
    // the match (filter, order, and 6-dp values) cross-checks two
    // implementations of the metric. Candidates come from blocking on
    // (brand, type, size) with the q_edit_blocking hot-block cap (>60
    // dropped) — never all-pairs; exact-equal names are q_dedup_exact's
    // job, so the view keeps the near-miss band [0.85, 1).
    "q_record_linkage" -> GQuery(
      (s, d) => {
        import s.implicits._
        val p = Tables.load(s, d, "part")
          .select($"p_partkey", $"p_name", $"p_brand", $"p_type", $"p_size")
        val capped = p
          .withColumn("bn", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"p_brand", $"p_type", $"p_size")))
          .filter($"bn" <= 60)
        capped.alias("a").join(capped.alias("b"),
            $"a.p_brand" === $"b.p_brand" && $"a.p_type" === $"b.p_type" &&
              $"a.p_size" === $"b.p_size" &&
              $"a.p_partkey" < $"b.p_partkey")
          .select($"a.p_partkey".as("p1"), $"b.p_partkey".as("p2"),
            $"a.p_name".as("name1"), $"b.p_name".as("name2"),
            expr("jaro_winkler(a.p_name, b.p_name)").as("sim0"))
          .filter($"sim0" >= 0.85 && $"sim0" < 1.0)
          .select($"p1", $"p2", $"name1", $"name2",
            round($"sim0", 6).as("sim"))
          .orderBy($"sim".desc, $"p1", $"p2")
          .limit(20)
      },
      Some("""WITH capped AS (
        |  SELECT * FROM (
        |    SELECT p_partkey, p_name, p_brand, p_type, p_size,
        |      COUNT(*) OVER (PARTITION BY p_brand, p_type, p_size) AS bn
        |    FROM part) WHERE bn <= 60)
        |SELECT a.p_partkey AS p1, b.p_partkey AS p2,
        |  a.p_name AS name1, b.p_name AS name2,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
        |FROM capped a JOIN capped b
        |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
        |    AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.85
        |  AND jaro_winkler_similarity(a.p_name, b.p_name) < 1.0
        |ORDER BY sim DESC, p1, p2 LIMIT 20""".stripMargin),
      "record linkage: blocked Jaro-Winkler name matching, near-miss band"),

    // X2 duplicate-cluster assignment: connected components over the
    // near-dup pair graph, so transitive chains (A~B, B~C) collapse to one
    // cluster with one canonical keeper (the min doc_id in the component).
    // Spark side runs [[clusters]] — O(log diameter) pointer-jumping
    // rounds, each two keyed shuffle joins over (id, label) pairs only,
    // lineage cut per round — the shape that survives a billion-node dup
    // graph. The DuckDB oracle computes the same fixpoint via a recursive
    // transitive-closure CTE (fine at oracle scale, quadratic in cluster
    // size — exactly the formulation the Spark side exists to avoid).
    "q_dup_clusters" -> GQuery(
      (s, d) => {
        import s.implicits._
        val comp = clusterMap(s, d)
        val sizes = comp.groupBy($"cluster_id")
          .agg(count(lit(1)).as("cluster_size"))
        comp.join(sizes, "cluster_id")
          .select($"doc_id", $"cluster_id", $"cluster_size")
          .orderBy($"doc_id")
      },
      Some(s"""WITH RECURSIVE $pairSql,
        |j AS (SELECT d1, d2 FROM pairs WHERE jaccard >= 0.5),
        |e AS (SELECT d1 AS src, d2 AS dst FROM j
        |      UNION SELECT d2, d1 FROM j),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |m AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        |      FROM reach GROUP BY src)
        |SELECT m.doc_id, m.cluster_id, n.cluster_size
        |FROM m JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
        |             FROM m GROUP BY 1) n USING (cluster_id)
        |ORDER BY doc_id""".stripMargin),
      "connected-component duplicate clusters over near-dup pairs (X2)"),

    // X2 MinHash+LSH banded near-dup — the PRODUCTION path that replaces
    // the all-pairs shingle join above: constant-size signature per doc,
    // candidates only from shared band buckets (sub-linear pair count),
    // then EXACT-Jaccard verification of candidates only — the textbook
    // LSH+verify shape (candidates are hash-dependent; the verified
    // survivors are not). That last step is what makes this
    // oracle-checkable (r14 VERDICT #3; previously rows-only): the
    // output is (pair, exact jaccard) and the DuckDB oracle is the
    // brute-force pair set at the same threshold, so the hash match
    // proves RECALL — every true >=0.7 pair was surfaced by some band
    // bucket. Recall of banded LSH is probabilistic in general; on this
    // corpus it is exactly 1.0 (bimodal jaccard: planted dup families
    // >=0.8, background <0.55 — DedupFunctionsSpec asserts the same),
    // and the estimate pre-filter keeps a >=2-sigma margin at 64
    // hashes. Precision is 1.0 by construction (exact verify).
    "q_minhash_lsh" -> GQuery(
      (s, d) => {
        import s.implicits._
        // spread guard: the signature battery (64 hashes × shingles) is
        // the CPU; a one-split documents scan would serialize it
        val docs = spread(Tables.load(s, d, "documents")
            .select($"doc_id", $"text"))
          .withColumn("toks", tokens($"text"))
        val cand = graft.functions.MinHash
          .nearDuplicates(docs, "doc_id", $"toks", threshold = 0.7)
          .select($"id1", $"id2")
        // exact verify on the candidate set only: join back to the
        // dictionary-encoded shingle sets (the q_prefix_join corpus
        // index, memoized) — O(|candidates|) work, never all-pairs
        val sets = prefixSetsCached(s, d)
        // r15 (guide §3.1): shuffled-hash hints on the two set
        // join-backs — they planned as SortMergeJoin, paying sorts of
        // the array-carrying set table that nothing downstream uses
        // (same rationale and build-side bound as q_prefix_join below)
        cand
          .join(sets.select($"doc_id".as("id1"), $"set".as("s1"),
            $"nsh".as("n1")).hint("shuffle_hash"), "id1")
          .join(sets.select($"doc_id".as("id2"), $"set".as("s2"),
            $"nsh".as("n2")).hint("shuffle_hash"), "id2")
          .withColumn("inter", size(array_intersect($"s1", $"s2")))
          .select($"id1", $"id2",
            ($"inter".cast("double") / ($"n1" + $"n2" - $"inter"))
              .as("jaccard"))
          .filter($"jaccard" >= 0.7)
          .orderBy($"id1", $"id2")
      },
      Some(s"""WITH $pairSql
        |SELECT d1 AS id1, d2 AS id2, jaccard FROM pairs
        |WHERE jaccard >= 0.7 ORDER BY id1, id2""".stripMargin),
      "MinHash+LSH banded candidates + exact verify (X2 scale path), " +
        "recall oracle-proven vs the brute-force pair set"),

    // X2 prefix-filtered set-similarity join (the PPJoin-family candidate
    // generator): for Jaccard >= t, two sets MUST share a token within
    // each set's first |s| - ceil(t*|s|) + 1 tokens under a fixed global
    // (rarest-first) order — so the self-join runs on PREFIX tokens only,
    // and the full intersection is computed just for surviving candidate
    // pairs via per-pair array intersection. The PPJoin LENGTH filter
    // rides the prefix join: Jaccard >= t forces ceil(t*|s1|) <= |s2| <=
    // |s1|/t, so size-incompatible candidates drop BEFORE the distinct
    // and the set join-backs (~30% off the pair stage here; at scale it
    // prunes the candidate shuffle itself). The oracle is the plain
    // brute-force pair join at the same threshold, so the hash match
    // PROVES prefix + length filters lossless, not merely plausible. At
    // scale this replaces the all-pairs shingle join with a join whose
    // width is the prefix (rare tokens -> few collisions), the textbook
    // set-similarity-join shape.
    "q_prefix_join" -> GQuery(
      (s, d) => {
        import s.implicits._
        val t = 0.7
        // The dictionary-encoded shingle sets are a derived corpus index
        // (production materializes them next to the corpus, like the IVF
        // centroids); memoized like the pair set, so repeated queries
        // against the same corpus pay the shingle + zipRank dictionary
        // build once. prefixSets itself stays uncheckpointed for
        // PlanSpec's no-single-partition pin.
        val sets = prefixSetsCached(s, d)
        // r15 (guide §3.1): every join here ran as SortMergeJoin — four
        // sorts of exploded-prefix / shingle-set tables whose ordering
        // nothing downstream reuses. Shuffled-hash hints drop the sorts;
        // join output is unchanged. Build-side memory: a per-partition
        // slice of the exploded-prefix / set table fits at MEASURED
        // scales (hash-spread prefixes, df-capped sets), but unlike SMJ
        // a shuffled-hash build cannot spill gracefully if one
        // partition's slice grows (a skewed hot prefix at much larger
        // SF) — if that appears, drop the hint and let SMJ spill.
        val a = sets.select($"doc_id".as("d1"), $"nsh".as("na"),
          explode(expr(s"slice(set, 1, size(set) - CAST(ceil($t * size(set)) AS INT) + 1)")).as("p"))
        val b = sets.select($"doc_id".as("d2"), $"nsh".as("nb"),
          explode(expr(s"slice(set, 1, size(set) - CAST(ceil($t * size(set)) AS INT) + 1)")).as("p"))
        a.join(b.hint("shuffle_hash"), Seq("p"))
          .filter($"d1" < $"d2" &&
            $"nb" >= ceil(lit(t) * $"na") && $"na" >= ceil(lit(t) * $"nb"))
          .select($"d1", $"d2").distinct()
          .join(sets.select($"doc_id".as("d1"), $"set".as("s1"),
            $"nsh".as("n1")).hint("shuffle_hash"), "d1")
          .join(sets.select($"doc_id".as("d2"), $"set".as("s2"),
            $"nsh".as("n2")).hint("shuffle_hash"), "d2")
          .withColumn("inter", size(array_intersect($"s1", $"s2")))
          .select($"d1", $"d2",
            ($"inter".cast("double") / ($"n1" + $"n2" - $"inter"))
              .as("jaccard"))
          .filter($"jaccard" >= t)
          .orderBy($"d1", $"d2")
      },
      Some(s"""WITH $pairSql
        |SELECT d1, d2, jaccard FROM pairs WHERE jaccard >= 0.7
        |ORDER BY d1, d2""".stripMargin),
      "prefix-filtered set-similarity join, oracle-proven lossless (X2)"),

    // X2 quality-aware canonical selection: production dedup keeps the
    // BEST document of a duplicate cluster, not the lowest id — dropping
    // a clean original in favor of a truncated mirror copy is a real
    // corpus-quality bug. Keeper = argmax on a deterministic quality
    // score (distinct-token count; ties -> smallest doc_id) via one
    // max_by aggregation over the cluster map. Oracle replays the
    // recursive-CTE clusters and the argmax as the max-score join-back
    // (the q_argmax recipe).
    "q_dedup_keep_best" -> GQuery(
      (s, d) => {
        import s.implicits._
        val comp = clusterMap(s, d)
        val score = Tables.load(s, d, "documents")
          .select($"doc_id",
            size(array_distinct(tokens($"text"))).cast("bigint").as("score"))
        comp.join(score, "doc_id")
          .groupBy($"cluster_id")
          .agg(
            count(lit(1)).as("cluster_size"),
            max($"score").as("best_score"),
            max_by($"doc_id", struct($"score", -$"doc_id")).as("keeper"))
          .select($"cluster_id", $"cluster_size", $"keeper", $"best_score")
          .orderBy($"cluster_id")
      },
      Some(s"""WITH RECURSIVE $pairSql,
        |j AS (SELECT d1, d2 FROM pairs WHERE jaccard >= 0.5),
        |e AS (SELECT d1 AS src, d2 AS dst FROM j
        |      UNION SELECT d2, d1 FROM j),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |m AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        |      FROM reach GROUP BY src),
        |sc AS (SELECT doc_id, CAST(len(list_distinct(toks)) AS BIGINT)
        |         AS score FROM t),
        |g AS (SELECT m.cluster_id, COUNT(*) AS cluster_size,
        |        MAX(score) AS best_score
        |      FROM m JOIN sc USING (doc_id) GROUP BY 1)
        |SELECT g.cluster_id, g.cluster_size, MIN(sc.doc_id) AS keeper,
        |  g.best_score
        |FROM g JOIN m ON g.cluster_id = m.cluster_id
        |       JOIN sc ON m.doc_id = sc.doc_id AND sc.score = g.best_score
        |GROUP BY g.cluster_id, g.cluster_size, g.best_score
        |ORDER BY g.cluster_id""".stripMargin),
      "quality-argmax keeper per duplicate cluster (extension X2)"),

    // X2 leakage-safe train/val/test split: the doc-level hash split
    // (q_split) leaks when near-duplicates straddle the train/test
    // boundary — the model sees the test set's twin at training time. The
    // fix every serious pipeline applies: split by DUPLICATE CLUSTER, so
    // a whole near-dup family lands in one split. Composition: Jaccard
    // pairs → pointer-jumping components → md5-bucket split on the
    // CLUSTER id (docs in no pair are their own cluster). Oracle replays
    // the recursive-CTE cluster map + the same split expression.
    "q_split_safe" -> GQuery(
      (s, d) => {
        import s.implicits._
        val comp = clusterMap(s, d)
        val bucket = pmod(conv(
          substring(md5($"cluster_id".cast("string")), 1, 8), 16, 10)
          .cast("bigint"), lit(100))
        Tables.load(s, d, "documents")
          .join(comp, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id"))
          .withColumn("split", when(bucket < 80, "train")
            .when(bucket < 90, "val").otherwise("test"))
          .select($"doc_id", $"cluster_id", $"split")
          .orderBy($"doc_id")
      },
      Some(s"""WITH RECURSIVE $pairSql,
        |j AS (SELECT d1, d2 FROM pairs WHERE jaccard >= 0.5),
        |e AS (SELECT d1 AS src, d2 AS dst FROM j
        |      UNION SELECT d2, d1 FROM j),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |m AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        |      FROM reach GROUP BY src)
        |SELECT d.doc_id,
        |  COALESCE(m.cluster_id, d.doc_id) AS cluster_id,
        |  CASE
        |    WHEN ('0x' || substring(md5(CAST(COALESCE(m.cluster_id, d.doc_id)
        |      AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
        |    WHEN ('0x' || substring(md5(CAST(COALESCE(m.cluster_id, d.doc_id)
        |      AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |ORDER BY d.doc_id""".stripMargin),
      "leakage-safe split: near-dup clusters stay in one split (X2)"),

    // X2 exactly-verified MinHash signatures: the signature math of the
    // production LSH path, re-based on a CROSS-ENGINE hash so DuckDB can
    // recompute it bit-for-bit (the q_srp_lsh recipe applied to text).
    // h(shingle) = first 8 md5 hex digits as a bigint in [0, 2^32); eight
    // affine permutations (a*h + b) mod p with p = 2^31-1 and a < 2^20 so
    // a*h stays far under Long range; per-doc min per permutation is the
    // signature, and md5 over each 4-slot half is the LSH band key — the
    // same banding the scale path buckets on. MIN is duplicate-insensitive
    // so no shingle distinct is needed: one scan, one doc-keyed partial
    // agg (8 mins ride one shuffle).
    "q_minhash_sig" -> GQuery(
      (s, d) => {
        import s.implicits._
        val sh = spread(Tables.load(s, d, "documents")
              .select($"doc_id", $"text"))
          .withColumn("toks", tokens($"text"))
          .filter(size($"toks") >= 3)
          .select($"doc_id", explode(expr(
            "transform(sequence(1, size(toks)-2), i -> concat_ws(' ', slice(toks, i, 3)))"))
            .as("sh"))
          .withColumn("h",
            conv(substring(md5($"sh"), 1, 8), 16, 10).cast("long"))
        val mins = mhPerms.zipWithIndex.map { case ((a, b), i) =>
          min(pmod(lit(a) * $"h" + lit(b), lit(MhPrime))).as(s"m${i + 1}") }
        sh.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
          .withColumn("band1", md5(concat_ws("|", $"m1", $"m2", $"m3", $"m4")))
          .withColumn("band2", md5(concat_ws("|", $"m5", $"m6", $"m7", $"m8")))
          .orderBy($"doc_id")
      },
      Some({
        val minExprs = mhPerms.zipWithIndex.map { case ((a, b), i) =>
          s"    MIN(($a * h + $b) % $MhPrime) AS m${i + 1}"
        }.mkString(",\n|")
        s"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks)-2),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |h AS (
        |  SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h
        |  FROM sh),
        |m AS (
        |  SELECT doc_id,
        |$minExprs
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id, m1, m2, m3, m4, m5, m6, m7, m8,
        |  md5(m1::VARCHAR || '|' || m2::VARCHAR || '|' || m3::VARCHAR
        |    || '|' || m4::VARCHAR) AS band1,
        |  md5(m5::VARCHAR || '|' || m6::VARCHAR || '|' || m7::VARCHAR
        |    || '|' || m8::VARCHAR) AS band2
        |FROM m ORDER BY doc_id""".stripMargin
      }),
      "exactly-verified MinHash signatures + LSH band keys (extension X2)"),

    // X2 the banded LSH JOIN itself, oracle-exact: candidate pairs come
    // ONLY from band-key equality over the cross-engine md5 signatures
    // (never an all-pairs stage), then the exact Jaccard is computed for
    // candidates alone — the end-to-end bucket-join shape the xxhash64
    // production path (q_minhash_lsh) runs, here hash-proven against
    // DuckDB replaying the identical signatures, banding, and
    // verification. Shapes at scale: signature build is one doc-keyed
    // partial agg (8 mins ride one shuffle), the bucket join shuffles on
    // (band_no, band_key) — constant bytes/doc — and the verify stage
    // touches candidate pairs only (shingle join-back keyed on doc id).
    // 2 bands × 4 rows: exact/near-exact dups always collide; the
    // recall-vs-threshold tuning of the production banding is covered by
    // the LSH recall ScalaTest, not this query.
    "q_lsh_bucket_join" -> GQuery(
      (s, d) => {
        import s.implicits._
        // r15: materialized once — the lazy plan rebuilt the
        // scan+explode+md5+distinct subtree for EVERY consumer
        // (signatures, both verify join-backs, and transitively the
        // band/count views: 8 Generate nodes in the before-plan).
        // The distinct fingerprint table is the derived corpus index
        // production materializes anyway (the prefixSets rationale);
        // PlanSpec pins the PRE-checkpoint builder plans below.
        val sh = lshShingleTable(s, d).cut
        // r15: doc-keyed signature table, consumed by bands (x2 via
        // the union), the candidate self-join, and both nsh
        // join-backs — one materialization instead of 6 rebuilds
        val sig = lshSignatures(sh).cut
        val bands = sig.select($"doc_id", lit(1).as("band_no"),
            md5(concat_ws("|", $"m1", $"m2", $"m3", $"m4")).as("bk"))
          .union(sig.select($"doc_id", lit(2).as("band_no"),
            md5(concat_ws("|", $"m5", $"m6", $"m7", $"m8")).as("bk")))
        val cand = bands.as("x").join(bands.as("y"),
            col("x.band_no") === col("y.band_no") &&
              col("x.bk") === col("y.bk") &&
              col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .agg(count(lit(1)).as("n_bands"))
        val c = sig.select($"doc_id", $"nsh")
        cand.join(sh.select($"doc_id".as("d1"), $"h"), "d1")
          .join(sh.select($"doc_id".as("d2"), $"h"), Seq("d2", "h"))
          .groupBy($"d1", $"d2", $"n_bands").agg(count(lit(1)).as("inter"))
          .join(c.select($"doc_id".as("d1"), $"nsh".as("n1")), "d1")
          .join(c.select($"doc_id".as("d2"), $"nsh".as("n2")), "d2")
          .select($"d1", $"d2", $"n_bands",
            round($"inter".cast("double") / ($"n1" + $"n2" - $"inter"), 6)
              .as("jaccard"))
          .orderBy($"d1", $"d2")
      },
      Some({
        val minExprs = mhPerms.zipWithIndex.map { case ((a, b), i) =>
          s"    MIN(($a * h + $b) % $MhPrime) AS m${i + 1}"
        }.mkString(",\n|")
        s"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substring(md5(sg), 1, 8))::BIGINT AS h
        |  FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(toks)-2),
        |        i -> array_to_string(toks[i:i+2], ' '))) AS sg
        |    FROM t WHERE len(toks) >= 3)),
        |m AS (
        |  SELECT doc_id,
        |$minExprs
        |  FROM sh GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 1 AS band_no,
        |    md5(m1::VARCHAR || '|' || m2::VARCHAR || '|' || m3::VARCHAR
        |      || '|' || m4::VARCHAR) AS bk FROM m
        |  UNION ALL
        |  SELECT doc_id, 2,
        |    md5(m5::VARCHAR || '|' || m6::VARCHAR || '|' || m7::VARCHAR
        |      || '|' || m8::VARCHAR) FROM m),
        |cand AS (
        |  SELECT x.doc_id AS d1, y.doc_id AS d2,
        |    CAST(COUNT(*) AS BIGINT) AS n_bands
        |  FROM bands x JOIN bands y ON x.band_no = y.band_no
        |    AND x.bk = y.bk AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
        |i AS (
        |  SELECT cand.d1, cand.d2, cand.n_bands,
        |    CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM cand JOIN sh a ON a.doc_id = cand.d1
        |    JOIN sh b ON b.doc_id = cand.d2 AND b.h = a.h
        |  GROUP BY 1, 2, 3)
        |SELECT d1, d2, n_bands,
        |  round(CAST(inter AS DOUBLE) / (c1.nsh + c2.nsh - inter), 6)
        |    AS jaccard
        |FROM i JOIN c c1 ON i.d1 = c1.doc_id JOIN c c2 ON i.d2 = c2.doc_id
        |ORDER BY d1, d2""".stripMargin
      }),
      "banded LSH bucket join + exact verify on candidates (oracle-exact)"),

    // X2 dedup-yield tuning curve: how many documents each Jaccard
    // threshold would remove (d2 of any >=t pair = the dropped side under
    // lowest-id-keeps), as counts and corpus share — the table an operator
    // reads BEFORE committing a threshold to a 100 TB dedup run, where a
    // 0.1 threshold shift can swing yield by whole percentage points.
    // Rides the memoized pair index (one build, many views — same as
    // q_ngram_jaccard/q_containment); the 5-row threshold spine is a
    // broadcast theta-join against the bounded pair table, then one
    // distinct-count per threshold. Thresholds compare against the
    // pairSql-proven jaccard doubles, so the cut is cross-engine safe.
    "q_dedup_yield" -> GQuery(
      (s, d) => {
        import s.implicits._
        val pairs = jaccardPairs(s, d)
        val thrs = s.createDataset(Seq(0.5, 0.6, 0.7, 0.8, 0.9)).toDF("thr")
        val nd = Tables.load(s, d, "documents")
          .agg(count(lit(1)).as("n_docs"))
        broadcast(thrs)
          .join(pairs, pairs("jaccard") >= $"thr", "left")
          .groupBy($"thr")
          .agg(countDistinct($"d2").as("n_dup_docs"))
          .crossJoin(broadcast(nd))
          .select($"thr", $"n_dup_docs", $"n_docs",
            round($"n_dup_docs".cast("double") / $"n_docs", 6)
              .as("pct_removed"))
          .orderBy($"thr")
      },
      Some(s"""WITH $pairSql,
        |thr AS (
        |  SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS thr),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |y AS (
        |  SELECT t.thr,
        |    CAST(COUNT(DISTINCT p.d2) AS BIGINT) AS n_dup_docs
        |  FROM thr t LEFT JOIN pairs p ON p.jaccard >= t.thr
        |  GROUP BY t.thr)
        |SELECT thr, n_dup_docs, n_docs,
        |  round(CAST(n_dup_docs AS DOUBLE) / n_docs, 6) AS pct_removed
        |FROM y, nd ORDER BY thr""".stripMargin),
      "dedup yield vs Jaccard threshold (the pre-run tuning table, X2)"),

    // X1/X2 duplicated-span detection — the exact-substring-dedup signal
    // (the suffix-array dedup family from the deduplicating-training-data
    // line of work, re-expressed as sliding 10-token span fingerprints):
    // a span occurring more than once ANYWHERE in the corpus marks every
    // occurrence as duplicated text. Spans travel as 16-byte md5
    // fingerprints, never as text; the occurrence count is one
    // fingerprint-keyed window, then one doc-keyed rollup. At 100 TB the
    // same two exchanges carry O(tokens) fixed-width rows — no all-pairs
    // stage anywhere.
    "q_dup_spans" -> GQuery(
      (s, d) => {
        import s.implicits._
        // r15 (guide §2.4): the per-fingerprint occurrence count ran as
        // a partition-only window, which still SORTS the whole span
        // table by its 32-char md5 key inside WindowExec. `occ > 1` is
        // exactly "fp appears in the >1-count fingerprint set", so the
        // window becomes a fp-keyed count + a hash join marker over the
        // SAME exchange (reused for both branches) — no sort anywhere.
        val sp = Tables.load(s, d, "documents")
          .withColumn("toks", tokens($"text"))
          .filter(size($"toks") >= 10)
          .select($"doc_id", explode(expr(
            "transform(sequence(1, size(toks)-9), i -> md5(concat_ws(' ', slice(toks, i, 10))))"))
            .as("fp"))
        val dup = sp.groupBy($"fp").agg(count(lit(1)).as("c"))
          .filter($"c" > 1).select($"fp", lit(1).as("isdup"))
        sp.join(dup.hint("shuffle_hash"), Seq("fp"), "left")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when($"isdup" === 1, 1L).otherwise(0L)).as("n_dup_spans"))
          .select($"doc_id", $"n_spans", $"n_dup_spans",
            round($"n_dup_spans".cast("double") / $"n_spans".cast("double"), 6)
              .as("dup_ratio"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t != '') AS toks
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks)-9),
        |      i -> md5(array_to_string(toks[i:i+9], ' ')))) AS fp
        |  FROM t WHERE len(toks) >= 10),
        |o AS (
        |  SELECT doc_id, COUNT(*) OVER (PARTITION BY fp) AS occ FROM sp)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_spans,
        |  round(CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
        |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "duplicated 10-token span detection per document (extension X1/X2)"),

    // X2 SimHash fingerprinting, oracle-exact: the production path
    // (functions/SimHash.scala) votes with xxhash64, which DuckDB can't
    // replay; this variant votes with the repo's md5-derived 32-bit hash
    // (see oracle-exactness recipe at q_minhash_sig) so the whole
    // fingerprint — per-bit majority votes, sign threshold, and the
    // 8-bit chunk blocking keys (two fingerprints within Hamming
    // distance 3 must share one of 4 chunks) — is hash-checked against
    // DuckDB. Spark side is a single per-row projection: one md5 per
    // token, then the native codegen vote-pack
    // (functions/SimHashPackExpr.scala — one fused loop; the
    // higher-order-lambda formulation re-walked the hashes once per bit,
    // interpreted, and cost 18 s at sf0.1) — ZERO shuffles, the ideal
    // 100 TB shape (fingerprinting is embarrassingly parallel; only the
    // tiny (chunk, value) keys ever need to move). DuckDB replays the
    // votes as 32 generated SUM columns over exploded token hashes.
    "q_simhash" -> GQuery(
      (s, d) => {
        import s.implicits._
        // spread: the per-token md5 battery is the cost and a small
        // single-split scan serializes it on one core (measured at the
        // sf10 sweep: 312x for 100x data unspread, linear spread)
        spread(Tables.load(s, d, "documents")
          .select($"doc_id", $"text"))
          .withColumn("toks", tokens($"text"))
          .filter(size($"toks") >= 1)
          .withColumn("hs", expr(
            "transform(toks, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT))"))
          .withColumn("fp", expr("simhash_pack(hs, 32)"))
          .select($"doc_id", $"fp",
            expr("shiftright(fp, 0) & 255L").as("c0"),
            expr("shiftright(fp, 8) & 255L").as("c1"),
            expr("shiftright(fp, 16) & 255L").as("c2"),
            expr("shiftright(fp, 24) & 255L").as("c3"))
          .orderBy($"doc_id")
      },
      Some({
        val votes = (0 until 32).map(i =>
          s"    SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
          .mkString(",\n|")
        val fpBits = (0 until 32).map(i =>
          s"(CASE WHEN v$i > 0 THEN (1::BIGINT << $i) ELSE 0 END)")
          .mkString(" +\n|    ")
        s"""WITH t AS (
        |  SELECT doc_id,
        |    ${Fns.sqlTokens("text")} AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    unnest(list_transform(toks,
        |      t -> ('0x' || substring(md5(t), 1, 8))::BIGINT)) AS h
        |  FROM t WHERE len(toks) >= 1),
        |v AS (
        |  SELECT doc_id,
        |$votes
        |  FROM h GROUP BY doc_id),
        |f AS (
        |  SELECT doc_id,
        |    CAST($fpBits AS BIGINT) AS fp
        |  FROM v)
        |SELECT doc_id, fp,
        |  (fp >> 0) & 255 AS c0, (fp >> 8) & 255 AS c1,
        |  (fp >> 16) & 255 AS c2, (fp >> 24) & 255 AS c3
        |FROM f ORDER BY doc_id""".stripMargin
      }),
      "exactly-verified SimHash fingerprints + chunk blocking keys (extension X2)"),

    // (simhash64 helper defined on the object — shared by the query and
    // the brute-force losslessness test)
    // X2 SimHash Hamming near-dup join: candidate pairs ONLY from shared
    // 16-bit chunks of a 64-BIT fingerprint (pigeonhole: hamming <= 3
    // over 4 chunks forces >= 1 equal chunk, so the blocking is LOSSLESS
    // for the <= 3 cut — same argument as the prefix filter), verified by
    // bit_count(xor) on candidates. The Hamming-space sibling of
    // q_lsh_bucket_join: constant bytes/doc, chunk-keyed bucket join,
    // never all-pairs. The fp is built as TWO 32-bit halves (independent
    // md5 substrings through IDF-WEIGHTED vote math — see [[simhash64]])
    // so the DuckDB replay never touches signed-64 overflow. TWO scale
    // knobs, both sweep-proven: chunk width (round 6: 8-bit chunks
    // saturate 256 buckets — candidates ~ n²/256, a 41x blowup at sf1;
    // 16-bit pushes the quadratic term out 256x) and vote WEIGHTING
    // (round 7: unweighted votes on a realistic Zipf vocabulary let the
    // common tokens rule every document's majority — fingerprints
    // cluster and the chunk join measured 112M fp-space candidate pairs;
    // IDF weights spread the fingerprints back to the uniform envelope).
    "q_simhash_near" -> GQuery(
      (s, d) => {
        import s.implicits._
        // The quadratic step (chunk bucket join) runs over DISTINCT
        // fingerprints, not documents — dictionary-encode-before-the-
        // join, the same move as the prefix join's shingle dict. A
        // low-entropy corpus (many docs sharing one fp — exactly the
        // planted-duplicate shape a dedup corpus has) would otherwise
        // pay bucket-size² in doc space; in fp space those docs are ONE
        // row, and both the hamming-0 (same-fp) pairs and the cross
        // expansion of qualifying fp pairs are output-bound, not
        // candidate-bound. Lazily checkpointed: three consumers below
        // share one materialization, and plan construction stays
        // side-effect free (the q_market_basket lesson).
        // memoized like the pair set: the fingerprint table is a derived
        // corpus index (production materializes it), and re-deriving it
        // per invocation re-paid the full simhash scan on every rep
        val fps = memo(s, d, "simhash64")(
          simhash64(s, d).localCheckpoint(false))
        val g = fps.select($"fp_hi", $"fp_lo").distinct()
        val chunks = g.select($"fp_hi", $"fp_lo", explode(expr(
          """array(
            |  struct(0 AS cno, fp_lo & 65535L AS ck),
            |  struct(1 AS cno, shiftright(fp_lo, 16) & 65535L AS ck),
            |  struct(2 AS cno, fp_hi & 65535L AS ck),
            |  struct(3 AS cno, shiftright(fp_hi, 16) & 65535L AS ck))"""
            .stripMargin)).as("c"))
          .select($"fp_hi", $"fp_lo", $"c.cno", $"c.ck")
        val fpPairs = chunks.as("a").join(chunks.as("b"),
            col("a.cno") === col("b.cno") && col("a.ck") === col("b.ck") &&
              (col("a.fp_hi") < col("b.fp_hi") ||
                (col("a.fp_hi") === col("b.fp_hi") &&
                  col("a.fp_lo") < col("b.fp_lo"))))
          .select(col("a.fp_hi").as("ha"), col("a.fp_lo").as("la"),
            col("b.fp_hi").as("hb"), col("b.fp_lo").as("lb"),
            expr("bit_count(a.fp_lo ^ b.fp_lo) + bit_count(a.fp_hi ^ b.fp_hi)")
              .as("hamming"))
          .distinct()
          .filter($"hamming" <= 3)
        val cross = fpPairs
          .join(fps.select($"doc_id".as("da"), $"fp_hi".as("ha"),
            $"fp_lo".as("la")), Seq("ha", "la"))
          .join(fps.select($"doc_id".as("db"), $"fp_hi".as("hb"),
            $"fp_lo".as("lb")), Seq("hb", "lb"))
          .select(least($"da", $"db").as("d1"),
            greatest($"da", $"db").as("d2"), $"hamming")
        val same = fps.as("a").join(fps.as("b"),
            col("a.fp_hi") === col("b.fp_hi") &&
              col("a.fp_lo") === col("b.fp_lo") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
            lit(0).as("hamming"))
        cross.unionByName(same).orderBy($"d1", $"d2")
      },
      Some({
        def votes(src: String, p: String) = (0 until 32).map(i =>
          s"    SUM(CASE WHEN ($src >> $i) & 1 = 1 THEN tw ELSE -tw END) AS $p$i")
          .mkString(",\n|")
        def fpBits(p: String) = (0 until 32).map(i =>
          s"(CASE WHEN $p$i > 0 THEN (1::BIGINT << $i) ELSE 0 END)")
          .mkString(" +\n|    ")
        s"""WITH t AS (
        |  SELECT doc_id,
        |    ${Fns.sqlTokens("text")} AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(toks) AS t FROM t WHERE len(toks) >= 1),
        |dfreq AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY t),
        |nd AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM t
        |  WHERE len(toks) >= 1),
        |wt AS (
        |  SELECT t, greatest(1, least(1024, n_docs // df)) AS tw
        |  FROM dfreq, nd),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(t), 1, 8))::BIGINT AS hl,
        |    ('0x' || substring(md5(t), 9, 8))::BIGINT AS hh,
        |    tw
        |  FROM tok JOIN wt USING (t)),
        |v AS (
        |  SELECT doc_id,
        |${votes("hl", "v")},
        |${votes("hh", "w")}
        |  FROM h GROUP BY doc_id),
        |f AS (
        |  SELECT doc_id,
        |    CAST(${fpBits("v")} AS BIGINT) AS fp_lo,
        |    CAST(${fpBits("w")} AS BIGINT) AS fp_hi
        |  FROM v),
        |ch AS (
        |  SELECT doc_id, fp_hi, fp_lo, i AS cno,
        |    CASE i WHEN 0 THEN fp_lo & 65535
        |           WHEN 1 THEN (fp_lo >> 16) & 65535
        |           WHEN 2 THEN fp_hi & 65535
        |           ELSE (fp_hi >> 16) & 65535 END AS ck
        |  FROM f, unnest(generate_series(0, 3)) AS u(i)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |    bit_count(xor(a.fp_lo, b.fp_lo))
        |      + bit_count(xor(a.fp_hi, b.fp_hi)) AS hamming
        |  FROM ch a JOIN ch b ON a.cno = b.cno AND a.ck = b.ck
        |    AND a.doc_id < b.doc_id)
        |SELECT d1, d2, CAST(hamming AS INT) AS hamming
        |FROM cand WHERE hamming <= 3
        |ORDER BY d1, d2""".stripMargin
      }),
      "SimHash Hamming<=3 near-dup join via lossless chunk blocking (X2)"),

    // X1/X4 n-gram novelty — per-document share of distinct 3-gram
    // shingles whose FIRST corpus occurrence (min doc_id owner) is this
    // document. The standard "how much new text does each source add"
    // curation metric; near-1 means fresh content, near-0 means the doc
    // is assembled from already-seen phrases. Shingles travel as md5
    // fingerprints (16 bytes, never text); ownership is one
    // fingerprint-keyed partial-agg min + one co-partitioned join back,
    // then a doc_id rollup — three key-partitioned shuffles of
    // fixed-width rows, no all-pairs stage, so the shape is the same one
    // q_dup_spans proves out at scale.
    "q_ngram_novelty" -> GQuery(
      (s, d) => {
        import s.implicits._
        val sh = spread(Tables.load(s, d, "documents")
              .select($"doc_id", $"text"))
          .withColumn("toks", tokens($"text"))
          .filter(size($"toks") >= 3)
          .select($"doc_id", explode(expr(
            "transform(sequence(1, size(toks)-2), i -> md5(concat_ws(' ', slice(toks, i, 3))))"))
            .as("fp"))
          .distinct()
        val owner = sh.groupBy($"fp").agg(min($"doc_id").as("owner"))
        sh.join(owner, "fp")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when($"owner" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
          .select($"doc_id", $"n_shingles", $"n_novel",
            round($"n_novel".cast("double") / $"n_shingles".cast("double"), 6)
              .as("novelty_ratio"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (
        |  SELECT doc_id, ${Fns.sqlTokens("text")} AS toks FROM documents),
        |sh0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks)-2),
        |      i -> md5(array_to_string(toks[i:i+2], ' ')))) AS fp
        |  FROM t WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, fp FROM sh0),
        |own AS (
        |  SELECT fp, MIN(doc_id) AS owner FROM sh GROUP BY fp)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(CAST(SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_ratio
        |FROM sh JOIN own USING (fp)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "per-document novel 3-gram share vs the whole corpus (extension X1/X4)"),
  )
}
