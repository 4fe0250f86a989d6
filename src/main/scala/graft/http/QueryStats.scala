package graft.http

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import graft.promql.PromPlanner

/** Per-query cost accounting for the Prometheus API — the engine's
  * analogue of the reference's QueryStats / QueryWarnings / PerQueryLimits
  * (`ref:core/src/main/scala/filodb.core/query/QueryContext.scala:27-67,
  * 380-470`): every stats-requesting query response carries
  * `queryStats` ({timeSeriesScanned, dataBytesScanned, samplesScanned,
  * resultBytes, cpuNanos}) and a `warnings` object naming each warn-tier
  * limit the query exceeded.
  *
  * Where the reference threads atomic counters through its ExecPlan tree,
  * this engine reads what Spark already measured: after the result
  * materializes, the executed physical plan's SQL metrics are harvested —
  * leaf-scan `numOutputRows` is the samples scanned (post-pushdown rows
  * actually read) and `filesSize` the bytes of files read after partition
  * pruning (descending through AQE stages, exchange reuse and a cached
  * samples frame's InMemoryRelation to reach the real scans).
  * `timeSeriesScanned` comes from the planner seam every raw selector
  * passes through ([[graft.promql.PromPlanner]] registers each selector
  * frame on the hook): one narrow distinct-count job per selector, run
  * only when stats were requested — the same opt-in cost model as
  * Prometheus' own `stats=all`. `cpuNanos` is the measured wall-clock of
  * the evaluation (local-mode upper bound on cpu; the reference's figure
  * is likewise an approximation summed across plan nodes). */
object QueryStatsCollector {

  /** Warn-tier per-query limits (reference defaultWarnLimits,
    * `ref:QueryContext.scala:42-52`): exceeding one adds a warning to the
    * response; it never fails the query (the enforced tier —
    * maxResultSeries / maxSamples — errors instead, and already exists on
    * every endpoint). */
  case class WarnLimits(resultSamples: Long = 50000,
                        samplesScanned: Long = 10000000,
                        dataBytesScanned: Long = 150000000,
                        timeSeriesScanned: Long = 500000)

  /** ENFORCED per-query scan limits (reference PerQueryLimits
    * enforcedLimits, `ref:QueryContext.scala:42-67`): crossing one ABORTS
    * the query with the limit named, where the warn tier only annotates.
    * Checked PRE-FLIGHT on the planner's registered selector frames —
    * a count of the post-pushdown, time-bounded scan per selector and a
    * distinct-series count — so a pathological `{__name__=~".+"}[30d]`
    * range query dies before the evaluation ever runs, not after the
    * result cap trips at collect time. Opt-in per server instance (the
    * pre-flight counting jobs are scan-only but not free). */
  case class EnforcedLimits(samplesScanned: Long = Long.MaxValue,
                            timeSeriesScanned: Long = Long.MaxValue) {
    def check(hook: PromPlanner.SelectorStats): Unit = {
      if (samplesScanned < Long.MaxValue) {
        val n = hook.samplesScanned()
        if (n > samplesScanned) throw new IllegalStateException(
          s"query would scan $n samples, over the enforced " +
            s"samplesScanned limit of $samplesScanned — narrow the " +
            "selector or time range")
      }
      if (timeSeriesScanned < Long.MaxValue) {
        val n = hook.timeSeriesScanned()
        if (n > timeSeriesScanned) throw new IllegalStateException(
          s"query would touch $n series, over the enforced " +
            s"timeSeriesScanned limit of $timeSeriesScanned — narrow the " +
            "selector")
      }
    }
  }

  case class Stats(timeSeriesScanned: Long, dataBytesScanned: Long,
                   samplesScanned: Long, resultSeries: Long, resultSamples: Long,
                   cpuNanos: Long) {

    /** Reference QueryStatistics JSON shape (group = ns path; this engine
      * has one namespace per API instance, so the group is empty). */
    def statsJson(resultBytes: Long): String =
      s""""queryStats":[{"group":[],"timeSeriesScanned":$timeSeriesScanned,""" +
        s""""dataBytesScanned":$dataBytesScanned,"samplesScanned":$samplesScanned,""" +
        s""""resultBytes":$resultBytes,"cpuNanos":$cpuNanos}]"""

    /** Reference QueryWarningsResponse shape: only the exceeded members
      * appear (a clean query carries an empty object). */
    def warningsJson(limits: WarnLimits): String = {
      val w = Seq(
        (resultSamples > limits.resultSamples) ->
          s""""execPlanSamples":$resultSamples""",
        (samplesScanned > limits.samplesScanned) ->
          s""""rawScannedSamples":$samplesScanned""",
        (dataBytesScanned > limits.dataBytesScanned) ->
          s""""rawScannedBytes":$dataBytesScanned""",
        (timeSeriesScanned > limits.timeSeriesScanned) ->
          s""""timeSeriesScanned":$timeSeriesScanned""")
        .collect { case (true, j) => j }
      s""""warnings":{${w.mkString(",")}}"""
    }
  }

  /** Sum (samplesScanned, dataBytesScanned) over the REAL leaf scans of an
    * executed plan: descends AQE's final plan, materialized query stages,
    * reused exchanges and InMemoryRelation cached plans (a server over a
    * cached samples frame has its true scan beneath an InMemoryTableScan). */
  def harvestScans(plan: SparkPlan): (Long, Long) = {
    var rows = 0L
    var bytes = 0L
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case leaf if leaf.children.isEmpty =>
        leaf.metrics.get("numOutputRows").foreach(rows += _.value)
        leaf.metrics.get("filesSize").foreach(bytes += _.value)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    (rows, bytes)
  }

  /** Assemble the stats for one answered query: plan-metric harvest +
    * selector-hook series count + result cardinality. `cpuNanos` is the
    * measured executor CPU when a [[CpuListener]] tracked the request
    * (sum of task executorCpuTime — honest on a busy cluster, where wall
    * includes neighbors' time), falling back to eval wall when no task
    * report arrived. */
  def assemble(df: DataFrame, hook: PromPlanner.SelectorStats, resultSeries: Long,
               resultSamples: Long, t0Nanos: Long,
               measuredCpu: Option[Long] = None): Stats = {
    val (scanned, bytes) = harvestScans(df.queryExecution.executedPlan)
    Stats(hook.timeSeriesScanned(), bytes, scanned, resultSeries,
      resultSamples,
      measuredCpu.filter(_ > 0).getOrElse(System.nanoTime() - t0Nanos))
  }

  /** Executor-CPU accounting: sums `executorCpuTime` over the tasks of
    * jobs tagged with a `graft-stats-*` job group (the reference threads
    * a cpuNanos counter through its ExecPlan tree,
    * `ref:QueryContext.scala:386-470`; Spark already measures per-task
    * CPU — this just buckets it per request). Listener events arrive
    * ASYNC on the bus, so [[takeCpuNanos]] poll-stabilizes (bounded)
    * before reading, then forgets the group. */
  final class CpuListener extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerTaskEnd}
    private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val cpu = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith("graft-stats-")) {
        cpu.putIfAbsent(g, new java.util.concurrent.atomic.AtomicLong())
        js.stageIds.foreach(id => stageGroup.put(id, g))
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(te.stageId)
      if (g != null && te.taskMetrics != null)
        cpu.get(g).addAndGet(te.taskMetrics.executorCpuTime)
    }
    /** Poll-stabilized read of a group's accumulated CPU, then cleanup. */
    def takeCpuNanos(group: String, settleMs: Long = 200): Long = {
      def cur: Long = Option(cpu.get(group)).map(_.get()).getOrElse(0L)
      var last = -1L
      var v = cur
      val deadline = System.nanoTime() + settleMs * 1000000L
      while (v != last && System.nanoTime() < deadline) {
        last = v; Thread.sleep(20); v = cur
      }
      cpu.remove(group)
      stageGroup.entrySet().removeIf(e => e.getValue == group)
      v
    }
  }
}
