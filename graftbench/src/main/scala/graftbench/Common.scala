package graftbench

import scala.jdk.CollectionConverters._

/** One benchmark workload: set up (possibly several times, to time it),
  * then measure over a [[Window]]. */
trait Workload {
  def setup(i: Int): Unit
  def teardown(): Unit
  def run(window: Window): Outcome
  /** Whether a traced run measures an untraced and then a traced slice
    * (see [[Window]]) instead of quarters. */
  def tracedHalves: Boolean = false
}

/** A figure printed for people, before the result line. */
final case class Detail(name: String, value: Double, unit: String, n: Int, note: String = "")

object Detail {
  /** A "p90" in seconds, noting the percentile the sample count allowed. */
  def tail(name: String, xs: Seq[Double]): Detail = {
    val (v, q, n) = Stats.tail(xs)
    Detail(name, v, "s", n, f" as p${q * 100}%.0f")
  }
}

final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         e2e: Map[String, Double], layers: Map[String, Double],
                         detail: Seq[Detail])

/** A metric BENCHMARK.json declares: its name and unit. */
final case class MetricSpec(name: String, unit: String)

object MetricSpec {
  /** The `end_to_end` and `per_layer` metrics of a BENCHMARK.json. */
  def load(path: String): (Seq[MetricSpec], Seq[MetricSpec]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    def list(key: String) = root.path(key).elements().asScala.toSeq
      .map(m => MetricSpec(m.path("name").asText(), m.path("unit").asText()))
    (list("end_to_end"), list("per_layer"))
  }
}

object Files {
  def deleteTree(path: String): Unit = {
    val root = new java.io.File(path)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    if (root.exists()) rm(root)
  }

  /** All regular files under `path`, skipping names that start with `_`
    * or `.` (spool, markers, checksums). */
  def dataFiles(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith(".")).flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path))
  }

  def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString
}

object Daemon {
  def factory(prefix: String): java.util.concurrent.ThreadFactory = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    (r: Runnable) => {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  def start(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }
}
