package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Traced runs only: collects SQL executions, Spark jobs, stages, planning
  * phases, operator SQL metrics and RDD storage from Spark's public
  * listener APIs. Everything is kept in memory and handed out once at the
  * end of the run ([[dump]]); linking events to the harness's own spans
  * happens offline. */
final class Recorder extends SparkListener with QueryExecutionListener {

  private val sqlStart = mutable.Map[Long, (Long, String)]()
  private val sqls = mutable.ArrayBuffer[Map[String, Any]]()
  private val qes = mutable.ArrayBuffer[Map[String, Any]]()
  private val jobStart = mutable.Map[Int, Map[String, Any]]()
  private val jobs = mutable.ArrayBuffer[Map[String, Any]]()
  private val stages = mutable.ArrayBuffer[Map[String, Any]]()
  private val blocks = mutable.Map[RDDBlockId, Long]()
  private var stored = 0L
  private val storage = mutable.ArrayBuffer[Seq[Any]]()
  private val builtCaches = Recorder.identitySet[SparkPlan]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart(s.executionId) = (s.time, s.description.take(80))
      case e: SparkListenerSQLExecutionEnd =>
        sqlStart.remove(e.executionId).foreach { case (t, desc) =>
          sqls += Map("id" -> e.executionId, "start_ms" -> t, "end_ms" -> e.time,
            "desc" -> desc, "failed" -> e.errorMessage.exists(_.nonEmpty))
        }
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobStart(j.jobId) = Map("id" -> j.jobId, "start_ms" -> j.time,
      "sql" -> exec, "stages" -> j.stageIds)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(j.jobId).foreach(s => jobs += (s + ("end_ms" -> j.time)))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    val m = i.taskMetrics
    val cached = i.rddInfos.filter(_.storageLevel.isValid).map(_.id).distinct
    stages += Map(
      "id" -> i.stageId,
      "start_ms" -> i.submissionTime.getOrElse(0L),
      "end_ms" -> i.completionTime.getOrElse(0L),
      "tasks" -> i.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "spill_bytes" -> (if (m == null) 0L else m.diskBytesSpilled),
      "cached_rdds" -> cached)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        stored += size - blocks.getOrElse(id, 0L)
        if (size > 0) blocks(id) = size else blocks.remove(id)
        storage += Seq(System.currentTimeMillis(), id.rddId, stored)
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_.rddId == e.rddId).toSeq
    gone.foreach(id => stored -= blocks.remove(id).getOrElse(0L))
    storage += Seq(System.currentTimeMillis(), -1, stored)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs / 1e6)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe, 0.0)

  /** The listener reports no SQL execution id, so a query execution is
    * placed by time: it ended about when it arrived, `duration_ms` earlier
    * it started. */
  private def record(qe: QueryExecution, durationMs: Double): Unit = {
    val arrival = System.currentTimeMillis()
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    synchronized {
      val ops = Recorder.operatorMetrics(qe.executedPlan, builtCaches)
      qes += Map("arrival_ms" -> arrival, "duration_ms" -> durationMs,
        "phases_ms" -> phases, "ops" -> ops)
    }
  }

  def dump: Map[String, Any] = synchronized {
    Map("sql" -> sqls.toList, "qe" -> qes.toList, "jobs" -> jobs.toList,
      "stages" -> stages.toList, "storage" -> storage.toList)
  }
}

object Recorder {

  /** Operator kind -> metric name -> value summed over the final
    * (post-AQE) physical plan, descending through adaptive plans, query
    * stages and subqueries. Sizes are bytes, times milliseconds; a reused
    * exchange is counted where it was first built, and a cached relation's
    * building plan in the first execution that scans it (`builtCaches`
    * remembers those across executions). Shuffle exchanges are
    * keyed with their partitioning, e.g. `ShuffleExchangeExec:hashpartitioning`. */
  def identitySet[T <: AnyRef](): java.util.Set[T] =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[T, java.lang.Boolean]())

  def operatorMetrics(root: SparkPlan,
                      builtCaches: java.util.Set[SparkPlan]): Map[String, Map[String, Double]] = {
    val acc = mutable.Map[String, mutable.Map[String, Double]]()
    val seen = identitySet[SparkPlan]()
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      val kind = p match {
        case x: ShuffleExchangeExec =>
          "ShuffleExchangeExec:" + x.outputPartitioning.getClass.getSimpleName.toLowerCase
        case x => x.getClass.getSimpleName
      }
      val m = acc.getOrElseUpdate(kind, mutable.Map[String, Double]())
      m("count") = m.getOrElse("count", 0.0) + 1
      p.metrics.foreach { case (name, metric) =>
        val v = metric.metricType match {
          case "nsTiming" => metric.value / 1e6
          case _ => metric.value.toDouble
        }
        if (v > 0) m(name) = m.getOrElse(name, 0.0) + v
      }
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
        case _: ReusedExchangeExec =>
        case c: InMemoryTableScanExec => // the plan that built the cache, once
          if (builtCaches.add(c.relation.cachedPlan)) visit(c.relation.cachedPlan)
        case _ => p.children.foreach(visit)
      }
      p.subqueries.foreach(visit)
    }
    visit(root)
    acc.map { case (k, v) => k -> v.toMap }.toMap
  }
}
