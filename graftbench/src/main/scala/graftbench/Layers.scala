package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Per-op layer metrics from the spans and the Spark jobs of one traced op.
  *
  * For every span name `n` (`xml.validate`, `query.exec`, ...): `n_s`, the
  * summed span time, and `n_jobs`, the jobs that started inside those spans
  * (each job is charged to the innermost span open when it started).
  * `self.<layer>_s` is the layer's self time (span time minus its child
  * spans); `self.op_s` is the op time no layer span covers, also reported
  * as `trace.gap_s`. `op.*` sums the op's jobs; `op.driver_only_s` is the op
  * time outside every Spark job. */
object Layers {
  def of(op: Int, t0Ms: Long, t0Ns: Long, jvm: JvmCounters, probe: JobProbe,
      tr: Tracer): Map[String, Double] = {
    val spans = tr.spans.filter(_.op == op).toSeq
    val root = spans.find(_.name == "op").get
    val wall = root.dur
    def ms(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6
    val (startMs, endMs) = (ms(root.startNs), ms(root.endNs))
    val jobs = probe.jobs.filter(j => j.startMs >= startMs - 1 &&
      j.startMs <= endMs + 1)
    val byDepth = spans.filter(_.name != "op").sortBy(-_.startNs)
    val spanOf = jobs.map(j => j -> byDepth.find(s =>
      ms(s.startNs) - 1 <= j.startMs && j.startMs <= ms(s.endNs) + 1)).toMap
    val m = mutable.LinkedHashMap.empty[String, Double]
    spans.filter(_.name != "op").groupBy(_.name).foreach { case (n, ss) =>
      m(s"${n}_s") = ss.map(_.dur).sum
      m(s"${n}_jobs") = jobs.count(j => spanOf(j).exists(_.name == n)).toDouble
    }
    val children = spans.groupBy(_.parent)
    spans.foreach { s =>
      val layer = if (s.name == "op") "op" else s.name.takeWhile(_ != '.')
      val self = s.dur - children.getOrElse(s.id, Nil).map(_.dur).sum
      m(s"self.${layer}_s") = m.getOrElse(s"self.${layer}_s", 0.0) + self
    }
    // union of job intervals, clipped to the op
    val intervals = jobs.map(j =>
      (math.max(j.startMs.toDouble, startMs),
        math.min((if (j.endMs < 0) endMs else j.endMs.toDouble), endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0
    var cur = (Double.NaN, Double.NaN)
    intervals.foreach { case (a, b) =>
      if (cur._1.isNaN || a > cur._2) {
        if (!cur._1.isNaN) busy += cur._2 - cur._1
        cur = (a, b)
      } else cur = (cur._1, math.max(cur._2, b))
    }
    if (!cur._1.isNaN) busy += cur._2 - cur._1
    m ++= Seq(
      "op.wall_s" -> wall,
      "op.jobs" -> jobs.size.toDouble,
      "op.stages" -> jobs.map(_.stages).sum.toDouble,
      "op.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "op.driver_only_s" -> math.max(0.0, wall - busy / 1e3),
      "op.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "op.gc_s" -> jvm.gcMs / 1e3,
      "op.input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
      "op.shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum.toDouble,
      "op.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
      "codegen.compiles" -> jvm.codegenCompiles.toDouble,
      "jit.compile_s" -> jvm.jitMs / 1e3,
      "trace.gap_s" -> m.getOrElse("self.op_s", 0.0),
      "trace.span_share" -> (1.0 - m.getOrElse("self.op_s", 0.0) / wall))
    m.toMap
  }

  /** Every span of the run as JSON lines, times relative to the first. */
  def writeSpans(tr: Tracer, path: Path): Unit = {
    val t0 = if (tr.spans.isEmpty) 0L else tr.spans.map(_.startNs).min
    val lines = tr.spans.sortBy(_.startNs).map(s => Json.obj(
      "op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
