package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.AccumulatorV2

/** Cumulative Spark-side counters, fed by a SparkListener and a
  * QueryExecutionListener. Callers take a [[Meters#snapshot]] before and
  * after a region and subtract; `PerfbenchBus.drain` must run first so the
  * region's events have arrived. */
final class Meters extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap(Meters.Keys.map(_ -> new AtomicLong): _*)
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("read_records", m.inputMetrics.recordsRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("exec_ns", durationNs)
    add("planning_ns", qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    add("exchanges", Meters.exchanges(qe.executedPlan))
    add("scan_bytes", Meters.scanBytes(qe.executedPlan))
  }
  // a failed query surfaces as an exception where the benchmark ran it
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap
}

object Meters {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_bytes", "spill_bytes", "scan_bytes", "read_records", "exec_ns",
    "planning_ns", "exchanges")

  /** Sums `f` over a physical plan, looking through adaptive wrappers and
    * query stages. */
  private def sumPlan(p: SparkPlan)(f: SparkPlan => Long): Long = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    f(p) + inner.map(sumPlan(_)(f)).sum
  }

  /** Shuffle and broadcast exchanges in a plan. */
  def exchanges(p: SparkPlan): Long =
    sumPlan(p) { case _: Exchange => 1L; case _ => 0L }

  /** Bytes of the files the plan's scans read. Task input metrics miss
    * most of a vectorized parquet read, so this takes the scans' own
    * file-size metric. */
  def scanBytes(p: SparkPlan): Long =
    sumPlan(p)(n => n.metrics.get("filesSize").map(_.value).getOrElse(0L))

  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  def install(spark: SparkSession): Meters = {
    val m = new Meters
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }
}

/** Sums named counters across tasks; the traced kernel adds one map per
  * task, at task completion. */
final class CounterAcc(private var m: Map[String, Long] = Map.empty)
    extends AccumulatorV2[Map[String, Long], Map[String, Long]] {
  def isZero: Boolean = m.isEmpty
  def copy(): CounterAcc = new CounterAcc(m)
  def reset(): Unit = m = Map.empty
  def add(v: Map[String, Long]): Unit = synchronized {
    m = v.foldLeft(m) { case (acc, (k, x)) => acc.updated(k, acc.getOrElse(k, 0L) + x) }
  }
  def merge(other: AccumulatorV2[Map[String, Long], Map[String, Long]]): Unit = add(other.value)
  def value: Map[String, Long] = m
}
