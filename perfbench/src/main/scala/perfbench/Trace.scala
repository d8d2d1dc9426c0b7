package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-layer counters from a benchmark-owned SparkListener and
  * QueryExecutionListener. Counters are cumulative; [[Tracer.measure]]
  * drains the listener bus at both ends of a span and reports the
  * difference, so work is attributed by time span, never by call site.
  * `analyzerRules` names the rules of the session's analyzer; every
  * other tracked rule counts as optimization. */
final class Probe(analyzerRules: Set[String]) extends SparkListener with QueryExecutionListener {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // per planning tracker: (analysis rule ns, optimization rule ns) seen
  // so far, and whether its planning phase has been counted
  private val trackers = new java.util.WeakHashMap[QueryPlanningTracker, (Long, Long, Boolean)]
  private var peak = 0L

  private def add(k: String, v: Double): Unit = sums(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("scheduler.jobs", 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      intervals += ((t0, e.time)); add("scheduler.job_s", (e.time - t0) / 1e3)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("scheduler.stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("scheduler.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("io.input_bytes", m.inputMetrics.bytesRead)
      add("io.records_read", m.inputMetrics.recordsRead)
      add("io.output_bytes", m.outputMetrics.bytesWritten)
      add("io.records_written", m.outputMetrics.recordsWritten)
      val sr = m.shuffleReadMetrics
      add("shuffle.read_bytes", sr.remoteBytesRead + sr.localBytesRead)
      add("shuffle.fetch_wait_s", sr.fetchWaitTime / 1e3)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("memory.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      peak = math.max(peak, m.peakExecutionMemory)
    }
  }

  /** Catalyst time of an executed query, counted once per tracker. A
    * write reports a fresh tracker, but a frame's own tracker is entered
    * again by every later action or write of that frame, and Spark keeps
    * a re-entered phase's first start with its last end, so phase ranges
    * are not additive. Analysis and optimization are therefore the rule
    * time the tracker gained since it was last seen (rule times add up
    * across entries). Physical planning runs no tracked rules: its phase
    * is counted at the tracker's first sighting only (writes never plan
    * on the frame's tracker); a later re-entry cannot be told from the
    * gap before it and is not counted. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val t = qe.tracker
      val (ana, opt) = t.rules.foldLeft((0L, 0L)) { case ((a, o), (name, r)) =>
        if (analyzerRules(name)) (a + r.totalTimeNs, o) else (a, o + r.totalTimeNs)
      }
      val (ana0, opt0, planned) = Option(trackers.get(t)).getOrElse((0L, 0L, false))
      add("catalyst.analysis_s", (ana - ana0) / 1e9)
      add("catalyst.optimization_s", (opt - opt0) / 1e9)
      val plan = t.phases.get(QueryPlanningTracker.PLANNING)
      if (!planned) plan.foreach(p => add("catalyst.planning_s", p.durationMs / 1e3))
      trackers.put(t, (ana, opt, planned || plan.isDefined))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Map[String, Double] = synchronized(sums.toMap)
  def resetPeak(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized(peak)

  /** Union of job intervals inside [t0, t1], in seconds. */
  def jobUnionSeconds(t0: Long, t1: Long): Double = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (-1L, -1L)
    clipped.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total / 1e3
  }
}

/** Wall seconds and engine counters of one timed region. */
final case class Region(wall: Double, counters: Map[String, Double])

/** Runs named spans with the probe attached and records, per span, its
  * wall time and the engine counters it moved. */
final class Tracer(spark: SparkSession, val probe: Probe) {
  private def drain(): Unit = ListenerDrain(spark.sparkContext)

  def measure[T](body: => T): (T, Region) = {
    drain()
    val before = probe.snapshot()
    probe.resetPeak()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    drain()
    val after = probe.snapshot()
    val diff = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    val union = probe.jobUnionSeconds(t0, t1)
    val cores = spark.sparkContext.defaultParallelism
    val counters = diff ++ Map(
      "scheduler.gap_s" -> math.max(0.0, wall - union),
      "executor.util" -> diff.getOrElse("executor.run_s", 0.0) / (wall * cores),
      "memory.peak_exec_bytes" -> probe.peakBytes.toDouble)
    (r, Region(wall, counters))
  }
}

object Tracer {
  def attach(spark: SparkSession): Tracer = {
    val p = new Probe(analyzerRules(spark))
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    new Tracer(spark, p)
  }

  /** Rule names of the session's analyzer batches (`batches` is
    * protected in Scala but public in bytecode). */
  private def analyzerRules(spark: SparkSession): Set[String] = {
    val a = spark.sessionState.analyzer
    a.getClass.getMethod("batches").invoke(a).asInstanceOf[Seq[AnyRef]].flatMap { b =>
      b.getClass.getMethod("rules").invoke(b).asInstanceOf[Seq[Rule[_]]].map(_.ruleName)
    }.toSet
  }

  def detach(spark: SparkSession, t: Tracer): Unit = {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(t.probe)
    spark.listenerManager.unregister(t.probe)
  }
}
