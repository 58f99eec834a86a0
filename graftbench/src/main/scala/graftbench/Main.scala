package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one op reports: its timed wall time, the latency of each request
  * inside it (one per query, or the op itself for ingest), and its output
  * check. The check runs after the op's timer and span have closed; it
  * returns the failures it found and per-op work counts for the trace. */
final case class OpResult(
    wallS: Double,
    requests: Seq[Double],
    check: () => (Seq[String], Map[String, Double]))

/** A workload: set up once, then run ops one after another. */
trait Workload {
  def inputBytes: Long
  def setup(spark: SparkSession): Unit
  def op(spark: SparkSession, index: Int, tr: Option[Tracer]): OpResult
}

/** Runs one workload in this JVM and writes its raw measurements as JSON.
  *
  * Usage: `graftbench.Main <params file> <result file>`. The params file
  * holds `key=value` lines written by run.py (workload, seconds, trace,
  * work directory, cpus and the workload's own inputs). */
object Main {
  def main(args: Array[String]): Unit = {
    val p = Files.readAllLines(Paths.get(args(0))).asScala
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    val result = Paths.get(args(1))
    val traced = p("trace") == "1"
    val seconds = p("seconds").toDouble
    val load0 = Host.loadAvg1()

    // Set-up: JVM start to session ready, the workload's own set-up
    // included. It is one sample per run: a JVM starts once.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val workload: Workload = p("workload") match {
      case "ingest" => new Ingest(p)
      case "query_surface" => new Queries(p)
      case w => sys.error(s"unknown workload $w")
    }
    val spark = Session.create(p("cpus").toInt, p("work"))
    workload.setup(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val calib0 = Host.calibrate()

    val probe = if (traced) Some(new JobProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val tracer = if (traced) Some(new Tracer) else None
    val ops = ArrayBuffer.empty[String]
    // The cold op runs first; then steady ops run until `seconds` have
    // passed, at least `steady_ops` of them: a fixed count keeps the JIT's
    // warm-up trend from moving the median with the host's speed. A traced
    // run makes exactly four steady ops, untraced, traced, traced,
    // untraced, so that trend cancels out of the traced-minus-untraced time.
    val steadyOps = p("steady_ops").toInt
    var deadline = Long.MaxValue
    var i = 0
    def more: Boolean =
      if (traced) i <= 4 else i <= steadyOps || System.nanoTime() < deadline
    while (more) {
      val traceThis = traced && (i == 0 || i == 2 || i == 3)
      val before = JvmCounters.now()
      val t0Ms = System.currentTimeMillis()
      val t0Ns = System.nanoTime()
      def failed(e: Throwable) = {
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[graftbench] op $i failed: $msg")
        msg
      }
      val r =
        try {
          val tr = if (traceThis) tracer else None
          tr.fold(workload.op(spark, i, None))(t =>
            t.op(i)(workload.op(spark, i, Some(t))))
        } catch {
          case e: Throwable =>
            val msg = failed(e)
            OpResult((System.nanoTime() - t0Ns) / 1e9, Nil,
              () => (Seq(msg), Map.empty))
        }
      val jvm = JvmCounters.now() - before
      val (errors, counts) =
        try r.check()
        catch { case e: Throwable => (Seq(failed(e)), Map.empty[String, Double]) }
      errors.foreach(e => System.err.println(s"[graftbench] op $i: $e"))
      val layers =
        if (traceThis) {
          org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
          Layers.of(i, t0Ms, t0Ns, jvm, probe.get, tracer.get) ++ counts
        } else counts
      ops += Json.obj(
        "index" -> i, "cold" -> (i == 0), "traced" -> traceThis,
        "wall_s" -> r.wallS, "requests" -> r.requests, "errors" -> errors,
        "layers" -> layers)
      if (i == 0) deadline = System.nanoTime() + (seconds * 1e9).toLong
      i += 1
    }
    tracer.foreach(t => Layers.writeSpans(t, Paths.get(p("spans"))))
    val out = Json.obj(
      "workload" -> p("workload"), "traced" -> traced,
      "setup_s" -> setupS, "input_bytes" -> workload.inputBytes,
      "peak_rss_mb" -> Host.peakRssMb(),
      "calib_s" -> Seq(calib0, Host.calibrate()),
      "load1" -> Seq(load0, Host.loadAvg1()),
      "ops" -> Json.Raw(ops.mkString("[", ",", "]")))
    Files.writeString(result, out)
    spark.stop()
  }
}

object Session {
  /** The session graft's own harnesses use (`graft.Bench`), sized to this
    * host, with every scratch directory inside the work directory. */
  def create(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
