package graft.star

import java.sql.Timestamp

import graft.SparkSpec
import graft.profile.SchemaProfiler
import org.apache.spark.sql.functions._

class StarTransformerSpec extends SparkSpec {
  import spark.implicits._

  // 50 synthetic "parsed XML" rows: id, two low-cardinality dimensions, one
  // numeric measure (with one unparseable value), one free-text attribute.
  // (50 rows so region's 4 uniques pass the strict `< 10% of rows` rule.)
  private lazy val rows = (1 to 50).map { i =>
    val amount = if (i == 7) "not-a-number" else (i * 1.5).toString
    (i.toString, s"cat${i % 3}", s"reg${i % 4}", amount, s"name-$i")
  }
  private lazy val df =
    rows.toDF("record_id", "category", "region", "amount", "name")

  private val ts = Timestamp.valueOf("2024-01-02 03:04:05")

  test("profiler classifies roles with reference precedence") {
    val prof = SchemaProfiler
      .profile(df, Seq("record_id", "category", "region", "amount", "name"))
      .collect().map(r => r.getString(0) -> r.getString(7)).toMap
    assert(prof("record_id") == "identifier") // name rule beats numeric rule
    assert(prof("category") == "dimension")   // 3 uniques < min(40*0.1, 50)
    assert(prof("region") == "dimension")
    assert(prof("amount") == "measure")       // 39/40 numeric > 0.8
    assert(prof("name") == "potential_key")   // all-unique non-numeric
  }

  test("numeric low-cardinality column is a measure, never a dimension") {
    val d2 = (1 to 40).map(i => (i % 3).toString).toDF("flag")
    val cls = SchemaProfiler.profile(d2, Seq("flag"))
      .select("classification").as[String].head()
    assert(cls == "measure")
  }

  test("dimension build: dense unique keys in value order") {
    val dim = StarTransformer.buildDim(df, "category",
      new java.sql.Date(ts.getTime))
    val got = dim.orderBy("category_key")
      .select("category_key", "category").as[(Int, String)].collect()
    assert(got.toSeq == Seq((1, "cat0"), (2, "cat1"), (3, "cat2")))
    assert(dim.columns.toSeq ==
      Seq("category_key", "category", "created_date", "is_active"))
  }

  test("scalable dimension build matches window-based keys") {
    val a = StarTransformer.buildDim(df, "region", new java.sql.Date(ts.getTime))
      .select($"region_key".cast("long"), $"region").as[(Long, String)]
      .collect().toSeq.sorted
    val b = StarTransformer
      .buildDimScalable(df, "region", new java.sql.Date(ts.getTime))
      .select($"region_key", $"region").as[(Long, String)]
      .collect().toSeq.sorted
    assert(a == b)
  }

  test("full star build: fact keys resolve, casts are silent-null") {
    val roles = Map(
      "record_id" -> "identifier", "category" -> "dimension",
      "region" -> "dimension", "amount" -> "measure", "name" -> "attribute")
    val star = StarTransformer.build(df, "record_id", roles, runId = 42L,
      loadTs = ts)
    assert(star.dims.keySet == Set("category", "region"))
    assert(star.fact.count() == 50)
    // unparseable measure became null, not an error
    assert(star.fact.filter($"amount".isNull).count() == 1)
    // every fact row carries resolvable surrogate keys + audit columns
    assert(StarTransformer.validateIntegrity(star).isEmpty)
    assert(star.fact.filter($"category_key".isNull || $"region_key".isNull)
      .count() == 0)
    assert(star.fact.select("batch_id").distinct().as[Long].head() == 42L)
  }

  test("aggregateFactData produces suffixed sum/avg/min/max/count") {
    val fact = Seq(("a", 1.0), ("a", 3.0), ("b", 5.0))
      .toDF("grp", "amount")
    val agg = StarTransformer
      .aggregateFactData(fact, Seq("grp"), Seq("amount"))
      .orderBy("grp").collect()
    assert(agg.map(_.getString(0)).toSeq == Seq("a", "b"))
    val a = agg(0)
    assert(a.getDouble(1) == 4.0)  // amount_sum
    assert(a.getDouble(2) == 2.0)  // amount_avg
    assert(a.getDouble(3) == 1.0)  // amount_min
    assert(a.getDouble(4) == 3.0)  // amount_max
    assert(a.getLong(5) == 2L)     // amount_count
  }

  test("integrity check flags duplicate surrogate keys") {
    val badDim = Seq((1, "x"), (1, "y")).toDF("category_key", "category")
      .withColumn("created_date", current_date())
      .withColumn("is_active", lit(true))
    val fact = Seq((1, 1)).toDF("record_id", "category_key")
    val v = StarTransformer.validateIntegrity(
      StarSchema(fact, Map("category" -> badDim)))
    assert(v == Seq("dimension category has duplicate surrogate keys"))
  }

  // Verdicts pinned case by case: each star below is valid except for the
  // one defect it names, so the exact violation list is the contract.
  private def dimOf(keys: Option[Int]*) =
    keys.zipWithIndex.map { case (k, i) => (k, s"v$i") }
      .toDF("category_key", "category")
  private def factOf(keys: Option[Int]*) =
    keys.zipWithIndex.map { case (k, i) => (i.toString, k) }
      .toDF("record_id", "category_key")
  private def verdicts(fact: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame): Seq[String] =
    bothWays(StarSchema(fact, Map("category" -> dim)))

  // Every verdict below comes both ways and must agree: from the one
  // aggregate, and from the same checks observed on a write of the fact,
  // as XmlPipeline runs them (keys from the dims, counts from the write).
  private def bothWays(star: StarSchema): Seq[String] = {
    val viaAggregate = StarTransformer.validateIntegrity(star)
    val keys = StarTransformer.dimKeys(star.dims)
    val (fact, counts) = graft.profile.Expectations.observedValues(
      star.fact, StarTransformer.integrityMetrics(keys))
    fact.write.parquet(java.nio.file.Files
      .createTempDirectory("graft_integrity").resolve("fact").toString)
    assert(StarTransformer.validateIntegrity(keys,
      counts().map(_.asInstanceOf[Long])) == viaAggregate)
    viaAggregate
  }

  test("integrity verdicts: a valid star has none") {
    assert(verdicts(factOf(Some(1), Some(2), Some(1)),
      dimOf(Some(1), Some(2))).isEmpty)
  }

  test("integrity verdicts: an empty dim, whose keys then cannot resolve") {
    assert(verdicts(factOf(Some(1), None), dimOf()) == Seq(
      "dimension category is empty",
      "1 fact rows have unresolved category_key"))
  }

  test("integrity verdicts: null keys count as one key value, never match") {
    // one null key among distinct keys is not a duplicate; a null fact key
    // is not unresolved, and a null dim key resolves nothing
    assert(verdicts(factOf(Some(1), None), dimOf(None, Some(1))).isEmpty)
    // two null keys are a duplicate
    assert(verdicts(factOf(Some(1)), dimOf(None, None, Some(1))) ==
      Seq("dimension category has duplicate surrogate keys"))
  }

  test("integrity verdicts: a fact key missing from its dim") {
    assert(verdicts(factOf(Some(1), Some(3), Some(3), Some(4)),
      dimOf(Some(1), Some(2))) ==
      Seq("3 fact rows have unresolved category_key"))
  }

  test("integrity verdicts: an empty fact") {
    // the write still reports its (zero) counts, inside the bounded wait
    assert(verdicts(factOf(), dimOf(Some(1))) ==
      Seq("fact table is empty"))
  }

  test("integrity verdicts: every check on every dim, in dim order") {
    val star = StarSchema(factOf(),
      Map("category" -> dimOf(), "region" -> Seq((1, "a"), (1, "b"))
        .toDF("region_key", "region")))
    val fact = Seq(("1", Option(7), Option(2)))
      .toDF("record_id", "category_key", "region_key")
    assert(bothWays(star.copy(fact = fact)) == Seq(
      "dimension category is empty",
      "1 fact rows have unresolved category_key",
      "dimension region has duplicate surrogate keys",
      "1 fact rows have unresolved region_key"))
  }
}
