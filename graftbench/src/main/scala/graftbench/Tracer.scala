package graftbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

/** One timed stretch: `parent` is the enclosing span (the op's root span for
  * a layer), `op` the op it belongs to. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def dur: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the single client thread. A Spark job is
  * charged to the innermost span open when it started (see [[Layers]]). */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private var currentOp = -1

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      spans += Span(id, parent, currentOp, name, t0, t1)
    }
  }

  /** Records a span timed elsewhere under the span open now. */
  def add(name: String, startNs: Long, endNs: Long): Unit = {
    spans += Span(nextId, open.headOption.getOrElse(-1), currentOp, name,
      startNs, endNs)
    nextId += 1
  }

  /** Runs one op under a root span named "op". */
  def op[T](index: Int)(body: => T): T = {
    currentOp = index
    try apply("op")(body) finally currentOp = -1
  }
}

object Tracer {
  /** `span(tr, name)(body)`: traced when a tracer is given, plain otherwise. */
  def span[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.apply(name)(body))

  /** Runs `body` while a second thread samples this thread's stack every
    * `periodMs`, and records each stretch the stack spends in one layer
    * (`layerOf` names it, or None outside every layer) as a span: a sample's
    * layer holds until the next sample. Sampling needs no hook in the code
    * it watches. */
  def sampled[T](tr: Tracer, periodMs: Long,
      layerOf: Array[StackTraceElement] => Option[String])(body: => T): T = {
    val target = Thread.currentThread()
    val samples = ArrayBuffer.empty[(Long, Option[String])]
    val running = new AtomicBoolean(true)
    val sampler = new Thread(() =>
      while (running.get()) {
        val t = System.nanoTime()
        val layer = layerOf(target.getStackTrace)
        samples.synchronized(samples += t -> layer)
        Thread.sleep(periodMs)
      }, "graftbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
    try body
    finally {
      running.set(false)
      sampler.join()
      val end = System.nanoTime()
      samples.indices.foldLeft(Option.empty[(String, Long)]) { (cur, i) =>
        val (t, layer) = samples(i)
        cur match {
          case Some((n, _)) if layer.contains(n) => cur
          case _ =>
            cur.foreach { case (n, s) => tr.add(n, s, t) }
            layer.map(_ -> t)
        }
      }.foreach { case (n, s) => tr.add(n, s, end) }
    }
  }
}
