package graftbench

import java.nio.file.{Files, Paths}

import graft.{GQuery, SparkEntry}
import graft.operators._

/** graft's queries by operator module, as `SparkEntry.all` assembles them.
  *
  * Usage: `graftbench.Catalog <out.json>` writes one entry per query:
  * name, module and the DuckDB oracle SQL. */
object Catalog {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  val modules: Seq[(String, Seq[(String, GQuery)])] = Seq(
    "Relational" -> Relational.queries,
    "Analytics" -> Analytics.queries,
    "Text" -> Text.queries,
    "Dedup" -> Dedup.queries,
    "Contamination" -> Contamination.queries,
    "SqlShapes" -> SqlShapes.queries,
    "Corpus" -> Corpus.queries,
    "TimeWindows" -> TimeWindows.queries,
    "Similarity" -> Similarity.queries,
    "Profile" -> Profile.queries,
    "StarQueries" -> StarQueries.queries,
    "AsOf" -> AsOf.queries,
    "Behavior" -> Behavior.queries,
    "Bpe" -> Bpe.queries,
    "Graph" -> Graph.queries,
    "MlFit" -> MlFit.queries,
    "Inference" -> Inference.queries)

  def main(args: Array[String]): Unit = {
    val here = modules.flatMap(_._2.map(_._1))
    require(here == SparkEntry.all.map(_._1),
      "graftbench.Catalog.modules is out of step with SparkEntry.all")
    val entries = modules.flatMap { case (m, qs) =>
      qs.map { case (n, q) =>
        Json.obj("name" -> n, "module" -> m,
          "oracle" -> q.oracle.map(Json.str).map(Json.Raw).getOrElse(Json.Raw("null")))
      }
    }
    Files.writeString(Paths.get(args(0)), entries.mkString("[\n", ",\n", "\n]\n"))
  }
}
