package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Runs one workload and prints the result as the last line of stdout:
  * {"correct":..,"attempted":..,"failed":..,"metrics":{name:{value,unit}}}.
  *
  * The metric names and units come from BENCHMARK.json.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <scratch dir> --spec <BENCHMARK.json>
  *             [--digests <file>] [--record-digests]
  */
object Main {
  val Workloads: Seq[String] = Seq("promql_small", "remote_write")
  /** Set-ups timed per untraced run; setup_s is their median. The first
    * runs cold, and later ones warm the JIT, so the median needs several. */
  val SetupRepeats = 11

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      System.err.println(s"[graftbench] run failed: $e")
      e.printStackTrace()
      // Spark and the JDK HTTP server keep non-daemon threads alive
      sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap ++
      args.filter(_ == "--record-digests").map(_.drop(2) -> "1")
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val record = opts.contains("record-digests")
    val work = opts("work")
    val (endToEnd, perLayer) = MetricSpec.load(opts("spec"))
    val cores = Runtime.getRuntime.availableProcessors()

    val drainLines = if (!trace) None else {
      val d = new DrainLines(System.err)
      System.setErr(d.stream)
      Some(d)
    }
    val spark = graft.GraftSession.local(cores)
    val digests = opts.get("digests").filter(p => JFiles.exists(Paths.get(p)))
      .flatMap(p => recorded(p, workload, seed))
    val built = System.nanoTime()
    val w: Workload = workload match {
      case "promql_small" => new Reads(spark, seed, cores, digests)
      case "remote_write" => new RemoteWrite(spark, seed, work, cores, drainLines)
    }

    System.err.println(f"[graftbench] inputs generated in ${(System.nanoTime() - built) / 1e9}%.1f s")
    val setups = if (trace || record) 1 else SetupRepeats
    val setupSecs = (0 until setups).map { i =>
      if (i > 0) w.teardown()
      val t0 = System.nanoTime()
      w.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[graftbench] setup seconds: ${setupSecs.mkString(" ")}")

    if (record) {
      val ds = w.asInstanceOf[Reads].panelDigests()
      println(ds.map("\"" + _ + "\"").mkString(s"""{"workload":"$workload","seed":$seed,"digests":[""", ",", "]}"))
    } else {
      val window = new Window(spark, seconds, if (trace) Some(new JobTracer) else None, w.tracedHalves)
      val out = w.run(window)
      out.detail.foreach(d => println(f"[graftbench] ${d.name}%-22s ${d.value}%.6f ${d.unit} (n=${d.n}${d.note})"))
      val unknown = (out.layers.keySet -- perLayer.map(_.name)) ++ (out.e2e.keySet -- endToEnd.map(_.name))
      require(unknown.isEmpty, s"metrics missing from BENCHMARK.json: ${unknown.mkString(", ")}")
      // a layer the workload does not cross reads 0
      val named =
        if (trace) perLayer.map(m => (m.name, out.layers.getOrElse(m.name, 0.0), m.unit))
        else endToEnd.map(m =>
          (m.name, if (m.name == "setup_s") Stats.median(setupSecs) else out.e2e(m.name), m.unit))
      val nonFinite = named.filterNot(m => java.lang.Double.isFinite(m._2))
      nonFinite.foreach(m => System.err.println(s"[graftbench] ${m._1} is not a number"))
      // an end-to-end figure that is not a number means the run went wrong
      val correct = out.correct && (trace || nonFinite.isEmpty)
      val metrics = named.map { case (n, v, u) =>
        s""""$n":{"value":${if (java.lang.Double.isFinite(v)) v.toString else "0.0"},"unit":"$u"}"""
      }.mkString("{", ",", "}")
      println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":$metrics}""")
    }
    System.out.flush()
    w.teardown()
    spark.stop()
    // the JDK HTTP server and client leave non-daemon threads behind
    sys.exit(0)
  }

  /** Panel digests recorded for (workload, seed), if any. */
  def recorded(path: String, workload: String, seed: Long): Option[Seq[String]] = {
    val node = new ObjectMapper().readTree(new String(JFiles.readAllBytes(Paths.get(path)), UTF_8))
      .path(workload).path(seed.toString)
    if (node.isArray) Some((0 until node.size()).map(node.get(_).asText())) else None
  }
}
