package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Task-level totals of one job group. */
final class TaskTotals {
  val tasks = new AtomicLong
  val stages = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val spill = new AtomicLong
}

/** Records Spark jobs, stages and task metrics by the job group that
  * started them (`none` for jobs started without one, such as those of
  * the HTTP server's threads). Attached only in traced runs. */
final class JobTracer extends SparkListener {
  final case class Job(group: String, startMs: Long, var endMs: Long)

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val totals = new ConcurrentHashMap[String, TaskTotals]()
  private val events = new AtomicLong

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")

  def totalsOf(group: String): TaskTotals = totals.computeIfAbsent(group, _ => new TaskTotals)

  /** Task run time of every group so far. */
  def allRunMs: Long = totals.values().asScala.map(_.runMs.get).sum

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobs.put(e.jobId, Job(g, e.time, -1L))
    e.stageIds.foreach(stageGroup.put(_, g))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => totalsOf(g).stages.incrementAndGet())
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("none")
    val m = e.taskMetrics
    val t = totalsOf(g)
    t.tasks.incrementAndGet()
    if (m != null) {
      t.runMs.addAndGet(m.executorRunTime)
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      t.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    events.incrementAndGet()
  }

  /** Waits until no listener event arrived for 100 ms (events are
    * delivered asynchronously), at most 3 s. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    var last = -1L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get()
      Thread.sleep(100)
    }
  }

  def jobsOf(group: String): Seq[Job] = jobs.values().asScala.filter(_.group == group).toSeq

  /** Milliseconds of [fromMs, toMs] covered by at least one of `js`. */
  def coveredMs(js: Seq[Job], fromMs: Long, toMs: Long): Long = {
    val iv = js.map(j => (math.max(j.startMs, fromMs), math.min(if (j.endMs < 0) toMs else j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered + (curB - curA)
  }
}

/** Walks an executed plan: rows out of the real leaf scans, and the
  * number of exchanges. Descends AQE's final plan, query stages, reused
  * exchanges and cached relations. */
object PlanWalk {
  final case class Scan(rows: Long, exchanges: Int)

  def apply(plan: SparkPlan): Scan = {
    var rows = 0L
    var exchanges = 0
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case leaf if leaf.children.isEmpty =>
        leaf.metrics.get("numOutputRows").foreach(rows += _.value)
      case other =>
        if (other.isInstanceOf[Exchange]) exchanges += 1
        other.children.foreach(walk)
    }
    walk(plan)
    Scan(rows, exchanges)
  }
}

/** Intercepts the engine's `[drain]` timing lines on stderr (printed when
  * SPARK_GRAFT_DRAIN_TIMING=1) and passes everything through. */
final class DrainLines(orig: java.io.PrintStream) {
  final case class Line(atNs: Long, files: Int, samples: Long, decodeS: Double,
                        commitS: Double, cleanupS: Double)
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[Line]()
  private val Pat = """\[drain\] files=(\d+) samples=(\d+) decode=([0-9.]+)s commit=([0-9.]+)s cleanup=([0-9.]+)s""".r

  private val buf = new java.io.ByteArrayOutputStream()
  val stream: java.io.PrintStream = new java.io.PrintStream(new java.io.OutputStream {
    override def write(b: Int): Unit = buf.synchronized {
      if (b == '\n') {
        val s = buf.toString("UTF-8")
        buf.reset()
        Pat.findFirstMatchIn(s).foreach { m =>
          lines.add(Line(System.nanoTime(), m.group(1).toInt, m.group(2).toLong,
            m.group(3).toDouble, m.group(4).toDouble, m.group(5).toDouble))
        }
        orig.println(s)
      } else buf.write(b)
    }
  }, true)

  def between(fromNs: Long, toNs: Long): Seq[Line] =
    lines.asScala.filter(l => l.atNs >= fromNs && l.atNs <= toNs).toSeq
}

/** JVM-level counters. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
