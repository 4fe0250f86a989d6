package graftbench

import org.apache.spark.sql.SparkSession

/** The measured interval of a run. Untraced runs measure one slice. Traced
  * runs split the same interval into untraced, traced, traced, untraced
  * quarters, so that drift over the run (a growing sink, a warming JIT)
  * cancels out of the traced/untraced comparison; the [[JobTracer]] is
  * attached only during traced slices. With `halves`, a traced run instead
  * measures an untraced slice of `seconds` and then a traced one, for
  * operations too long to fit a quarter; the tracer then stays attached
  * after the window until [[detach]], so operations begun in the traced
  * slice are traced to their end. */
final class Window(spark: SparkSession, seconds: Int, val tracer: Option[JobTracer],
                   halves: Boolean = false) {
  final case class Slice(fromNs: Long, toNs: Long, traced: Boolean)

  @volatile private var slicesVar: Seq[Slice] = Nil
  @volatile var startNs: Long = Long.MaxValue
  @volatile var endNs: Long = Long.MaxValue
  @volatile var gcMs: Long = 0L
  @volatile var heapPeakMb: Double = 0.0

  def slices: Seq[Slice] = slicesVar

  def open: Boolean = System.nanoTime() < endNs

  def traced(ns: Long): Boolean = slicesVar.exists(s => s.traced && ns >= s.fromNs && ns < s.toNs)

  def untraced(ns: Long): Boolean = slicesVar.exists(s => !s.traced && ns >= s.fromNs && ns < s.toNs)

  /** How long the tracer was attached. */
  @volatile var tracedNs: Long = 0L

  /** Runs the window on the calling thread: starts it now, attaches and
    * detaches the tracer at slice boundaries, returns when it ends. */
  def run(): Unit = {
    val total = seconds * 1000000000L
    val t0 = System.nanoTime()
    slicesVar = tracer match {
      case None => Seq(Slice(t0, t0 + total, traced = false))
      case Some(_) if halves =>
        Seq(Slice(t0, t0 + total, false), Slice(t0 + total, t0 + 2 * total, true))
      case Some(_) =>
        val q = total / 4
        Seq(Slice(t0, t0 + q, false), Slice(t0 + q, t0 + 2 * q, true),
          Slice(t0 + 2 * q, t0 + 3 * q, true), Slice(t0 + 3 * q, t0 + total, false))
    }
    startNs = t0
    endNs = slicesVar.last.toNs
    slicesVar.foreach { s =>
      if (s.traced) attach() else detach()
      sleepUntil(s.toNs)
    }
    if (!halves) detach()
  }

  private var attached = false
  private var gc0 = 0L
  private var attachedAt = 0L

  private def attach(): Unit = tracer.filterNot(_ => attached).foreach { t =>
    spark.sparkContext.addSparkListener(t); attached = true
    gc0 = Jvm.gcMs; Jvm.resetHeapPeak(); attachedAt = System.nanoTime()
  }

  /** Detaches the tracer if it is attached. */
  def detach(): Unit = tracer.filter(_ => attached).foreach { t =>
    spark.sparkContext.removeSparkListener(t); attached = false
    tracedNs += System.nanoTime() - attachedAt
    gcMs += Jvm.gcMs - gc0; heapPeakMb = math.max(heapPeakMb, Jvm.heapPeakMb)
  }

  private def sleepUntil(ns: Long): Unit = {
    var left = ns - System.nanoTime()
    while (left > 0) {
      Thread.sleep(math.max(1L, left / 1000000L))
      left = ns - System.nanoTime()
    }
  }
}
