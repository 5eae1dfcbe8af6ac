package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts Spark's own events for one traced op at a time, from outside
  * graft: a SparkListener for jobs, stages, tasks, shuffle and spill; a
  * QueryExecutionListener for planning phases and the scan nodes' metrics;
  * CodegenMetrics for whole-stage-codegen compiles. Ops run one at a time,
  * and a traced op waits for the listener queue to empty before its counts
  * are read, so nothing leaks between ops. Untraced ops run with the
  * listeners installed but idle. */
final class Trace(spark: SparkSession) {
  private val groupPrefix = "graftbench-op-"
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var current: Option[mutable.Map[String, Double]] = None
  @volatile private var currentGroup: String = ""

  private def add(k: String, v: Double): Unit = current.foreach { m =>
    m.synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g == currentGroup) {
        add("jobs", 1)
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageGroup.get(e.stageInfo.stageId) == currentGroup) add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageGroup.get(e.stageId) == currentGroup && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("tasks", 1)
        add("task_ms", m.executorRunTime.toDouble)
        add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    def localScans(p: SparkPlan): Int =
      collectWithSubqueries(p) { case s: LocalTableScanExec => s }.size
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (current.isDefined) {
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => add(s"${p}_ms", s.durationMs.toDouble))
        }
        val scans = Plans.scans(qe.executedPlan)
        add("file_scans", scans.size)
        add("local_scans", Plans.localScans(qe.executedPlan))
        scans.foreach { s =>
          def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          add("files_read", metric("numFiles"))
          add("bytes_read", metric("filesSize"))
          add("rows_scanned", metric("numOutputRows"))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Run `body` as one traced op; returns its result and its counters. */
  def traced[T](id: Int)(body: => T): (T, Map[String, Double]) = {
    val sc = spark.sparkContext
    org.apache.spark.graftbench.Bus.drain(sc)
    val m = mutable.Map.empty[String, Double]
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    currentGroup = groupPrefix + id
    current = Some(m)
    sc.setJobGroup(currentGroup, "graftbench traced op", interruptOnCancel = false)
    try {
      val out = body
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      // CodegenMetrics keeps compile times in a sampling histogram, not a
      // sum: the op's compile time is its compile count times the recent mean.
      val meanMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      org.apache.spark.graftbench.Bus.drain(sc)
      m("codegen_compiles") = compiles.toDouble
      m("codegen_compile_ms") = compiles * meanMs
      (out, m.toMap)
    } finally {
      sc.clearJobGroup()
      current = None
      currentGroup = ""
    }
  }
}
