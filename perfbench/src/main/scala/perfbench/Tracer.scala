package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Public calls and their phases are opened by the
  * benchmark; Spark jobs become spans whose parent is the span that was
  * current (as a thread-local property) when the job started. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Per-stage task totals, summed from task-end events. */
final class StageRec(val id: Int) {
  var jobSpan = -1
  var submitMs, completeMs = 0.0
  var tasks = 0
  var runMs, cpuNs, shuffleWriteBytes, shuffleWriteRecords, spillBytes, inputRecords = 0L
  var peakExecMem = 0L
}

/** Records spans in memory while a traced call runs; written out once at
  * the end of the run. Attached to the SparkContext only around traced
  * calls, so untraced calls run with no benchmark listener at all. */
final class Tracer(clock: Clock) {
  val PropKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  /** Join nodes found in the executed plans of the current call. */
  var bhj, smj = 0
  private var nextId = 0
  /** Spark job id → its span id, until the job ends. */
  private val openJobs = mutable.HashMap.empty[Int, Int]

  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Runs `body` inside a span named `name` under `parent`; jobs it starts
    * are tagged with the span id through a local property. */
  def span[T](spark: SparkSession, name: String, parent: Int)(body: Int => T): (T, Int) = {
    val id = newId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, id.toString)
    val t0 = clock.nowMs()
    try {
      (body(id), id)
    } finally {
      val t1 = clock.nowMs()
      sc.setLocalProperty(PropKey, prev)
      synchronized(spans += Span(id, parent, name, t0, t1))
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toInt).getOrElse(0)
      val jid = newId()
      Tracer.this.synchronized {
        openJobs(e.jobId) = jid
        spans += Span(jid, parent, s"job:${e.jobId}", e.time.toDouble, Double.NaN)
        e.stageInfos.foreach { si =>
          stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId)).jobSpan = jid
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { jid =>
        val i = spans.lastIndexWhere(_.id == jid)
        if (i >= 0) spans(i) = spans(i).copy(endMs = e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val r = stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId))
      r.submitMs = si.submissionTime.getOrElse(0L).toDouble
      r.completeMs = si.completionTime.getOrElse(0L).toDouble
      if (r.jobSpan > 0) {
        val sid = newId()
        spans += Span(sid, r.jobSpan, s"stage:${si.stageId}", r.submitMs, r.completeMs)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val r = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputRecords += m.inputMetrics.recordsRead
        r.peakExecMem = math.max(r.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ns = Tracer.planNodes(qe.executedPlan)
      Tracer.this.synchronized {
        bhj += ns.count(_.isInstanceOf[BroadcastHashJoinExec])
        smj += ns.count(_.isInstanceOf[SortMergeJoinExec])
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    synchronized { bhj = 0; smj = 0 }
  }

  /** Waits for every pending event, then detaches both listeners. */
  def detach(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Tracer {
  /** Every node of a physical plan, descending into adaptive query stages
    * (their final plans), reused exchanges and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's event timestamps. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
