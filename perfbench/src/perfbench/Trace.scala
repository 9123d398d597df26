package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Stage and task totals of the jobs run under one layer tag. */
final class StageTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var scanRecords = 0L

  def add(o: StageTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes; scanRecords += o.scanRecords
  }
}

/** The traced run's instruments.
  *
  *   - [[layer]] tags every Spark job started inside it with a layer name
  *     (a SparkContext local property);
  *   - a SparkListener sums stage and task metrics per tag, and counts the
  *     records read by stages that scan files;
  *   - a QueryExecutionListener keeps every executed query, whose final
  *     physical plan gives the operator fingerprint and the scan and join
  *     row counts.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val byTag = mutable.LinkedHashMap.empty[String, StageTotals]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val fileStages = mutable.HashSet.empty[Int]
  private val queries = mutable.ArrayBuffer.empty[QueryExecution]

  private def totals(tag: String) = byTag.getOrElseUpdate(tag, new StageTotals)

  private val stageListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
        .getOrElse("untagged")
      totals(tag).jobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) fileStages += e.stageInfo.stageId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      totals(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = totals(stageTag.getOrElse(e.stageId, "untagged"))
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (fileStages(e.stageId)) t.scanRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { queries += qe }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(stageListener)
    spark.listenerManager.register(queryListener)
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(stageListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Runs `body` with its Spark jobs tagged `tag`. */
  def layer[A](tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Forgets everything recorded so far (after [[drain]]). */
  def reset(): Unit = synchronized {
    byTag.clear(); stageTag.clear(); fileStages.clear(); queries.clear()
  }

  /** Stage totals per tag since the last [[reset]], as copies. */
  def perTag: Map[String, StageTotals] = synchronized {
    byTag.map { case (tag, t) => val c = new StageTotals; c.add(t); tag -> c }.toMap
  }

  def total: StageTotals = synchronized {
    val all = new StageTotals
    byTag.values.foreach(all.add)
    all
  }

  /** Physical operators of every query executed since the last [[reset]]. */
  def executedNodes: Seq[SparkPlan] = synchronized {
    queries.toSeq.flatMap(qe => nodes(qe.executedPlan))
  }
}

object Tracer {
  val TagKey = "perfbench.layer"

  /** An instrumented op's wall: the sum of its three phases. */
  def opWall(figures: Map[String, Double]): Double =
    figures("phase.build_s") + figures("phase.plan_s") + figures("phase.exec_s")

  /** The operators a plan executed: adaptive plans contribute their final
    * plan, query stages their stage plan, and a reused exchange itself
    * only, since it runs no work of its own.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def named(ps: Seq[SparkPlan], names: String*): Seq[SparkPlan] =
    ps.filter(p => names.contains(p.getClass.getSimpleName))

  /** Counts of the operators a plan regression usually shows in. */
  def fingerprint(ps: Seq[SparkPlan]): Map[String, Double] = Map(
    "plan.exchanges" -> named(ps, "ShuffleExchangeExec").size.toDouble,
    "plan.broadcast_joins" ->
      named(ps, "BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec").size.toDouble,
    "plan.sort_merge_joins" -> named(ps, "SortMergeJoinExec").size.toDouble,
    "plan.object_hash_aggs" -> named(ps, "ObjectHashAggregateExec").size.toDouble,
    "plan.scans" -> named(ps, "FileSourceScanExec", "RDDScanExec",
      "InMemoryTableScanExec", "BatchScanExec").size.toDouble)

  private def outputRows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Output rows of the inner joins keyed on `word`: the pair self-join. */
  def wordJoinRows(ps: Seq[SparkPlan]): Long = ps.collect {
    case j: BaseJoinExec if j.joinType == Inner &&
        j.leftKeys.exists(_.references.exists(_.name == "word")) => outputRows(j)
  }.sum
}
