package graftbench

import java.math.MathContext

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `query_surface`: one op is one pass over a list of
  * graft queries, in the order run.py chose from the seed. Each query is
  * three calls: construct (`fn(spark, dir)`, which runs the query's eager
  * cuts and memo builds), plan (`queryExecution.executedPlan`: Catalyst
  * plus graft's planner rules) and execute (`collect`, which runs the plan
  * just built; the noop writer graft.Bench uses would plan the query again
  * inside its own write command).
  *
  * Output check: the first result of each query is written as parquet for
  * run.py to hash-check against the DuckDB oracle; every later result of
  * the same query must equal it row for row. */
final class Queries(p: Map[String, String]) extends Workload {
  private val tables = p("tables")
  private val checkDir = p("check_dir")
  private val names = p("queries").split(',').toSeq
  private val registry: Map[String, (String, GQuery)] = Catalog.modules
    .flatMap { case (m, qs) => qs.map { case (n, q) => n -> (m, q) } }.toMap
  val inputBytes: Long = p("op_input_bytes").toLong
  /** query -> fingerprint of its first result */
  private val reference = mutable.Map.empty[String, String]

  /** First touch: every table is opened once (file listing, parquet
    * footers, schema), as an analyst's session registers its tables. */
  def setup(spark: SparkSession): Unit =
    Catalog.Tables.foreach(t => Tables.load(spark, tables, t).schema)

  def op(spark: SparkSession, index: Int, tr: Option[Tracer]): OpResult = {
    val latencies = mutable.ArrayBuffer.empty[Double]
    val results =
      mutable.ArrayBuffer.empty[(String, Either[String, (StructType, Array[Row])])]
    val t0 = System.nanoTime()
    names.foreach { n =>
      val (module, q) = registry(n)
      val q0 = System.nanoTime()
      results += n -> (try Tracer.span(tr, s"operators.$module") {
        val df = Tracer.span(tr, "query.construct")(q.fn(spark, tables))
        Tracer.span(tr, "query.plan")(df.queryExecution.executedPlan)
        Right((df.schema, Tracer.span(tr, "query.exec")(df.collect())))
      } catch {
        case e: Throwable => Left(s"$n: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      })
      latencies += (System.nanoTime() - q0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    OpResult(wall, latencies.toSeq, () => {
      val errors = results.flatMap {
        case (_, Left(e)) => Some(e)
        case (n, Right((schema, rows))) =>
          val fp = Queries.fingerprint(rows)
          reference.get(n) match {
            case Some(ref) if ref != fp =>
              Some(s"$n: result differs from its first run")
            case Some(_) => None
            case None =>
              reference(n) = fp
              spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(s"$checkDir/$n")
              None
          }
      }
      (errors.toSeq, Map.empty)
    })
  }
}

object Queries {
  private val mc = new MathContext(15)

  /** Order-sensitive digest of a result; doubles at 15 significant
    * digits, the precision the oracle comparison uses. */
  def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "NULL"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(mc).toString
      case f: Float => canon(f.toDouble)
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${canon(k)}->${canon(x)}" }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((canon(r) + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().map(x => f"$x%02x").mkString
  }
}
