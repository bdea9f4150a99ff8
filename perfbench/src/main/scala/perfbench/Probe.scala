package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark-side counters of one operation. */
final class SparkCounts {
  var jobs = 0
  var runJobs = 0    // started inside runSourceOn (or a library query's plan build)
  var actionJobs = 0 // started by collecting the result
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var exchanges = 0
}

/** One trace record: a named interval inside one operation. */
final case class Span(name: String, startMs: Double, endMs: Double,
    parent: String, op: Int, attrs: Map[String, Any] = Map.empty)

/** Listener that attributes Spark jobs, stages, tasks, shuffle bytes,
  * spill and executed-plan exchanges to the operation that started them.
  *
  * The client thread tags its jobs with the local properties [[OpKey]]
  * and [[PhaseKey]]; job and stage events carry those properties, task
  * events are mapped through their stage, SQL executions through their
  * jobs. An execution that ran no job is charged to [[current]], which is
  * safe because the harness drains the listener bus before it moves to
  * the next operation.
  *
  * Exchanges are counted from the plan the SQL events already carry; a
  * `QueryExecutionListener` reading `qe.executedPlan` instead doubled the
  * graph_analytics pass time. */
final class Probe extends SparkListener {
  import Probe._

  private val byOp = mutable.HashMap.empty[Int, SparkCounts]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val jobOp = mutable.HashMap.empty[Int, (Int, Long)]
  private val execOp = mutable.HashMap.empty[Long, Int]
  private val execPlan = mutable.HashMap.empty[Long, SparkPlanInfo]
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var current: Int = -1

  def counts(op: Int): SparkCounts = synchronized(byOp.getOrElseUpdate(op, new SparkCounts))

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    val c = counts(op)
    c.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))) match {
      case Some("action") => c.actionJobs += 1
      case _              => c.runJobs += 1
    }
    e.stageIds.foreach(stageOp(_) = op)
    jobOp(e.jobId) = (op, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty(ExecutionIdKey)))
      .foreach(id => execOp(id.toLong) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      spans += Span(s"spark.job.${e.jobId}", start.toDouble, e.time.toDouble, "op", op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageOp.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageOp.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execPlan(s.executionId) = s.sparkPlanInfo }
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized { execPlan(u.executionId) = u.sparkPlanInfo }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      execPlan.remove(end.executionId).foreach { plan =>
        counts(execOp.remove(end.executionId).getOrElse(current)).exchanges += shuffleExchanges(plan)
      }
    }
    case _ => ()
  }
}

object Probe {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  private val ExecutionIdKey = "spark.sql.execution.id"

  /** Shuffle exchanges in an execution's final plan (the last adaptive
    * update); a reused exchange does not count again. */
  def shuffleExchanges(p: SparkPlanInfo): Int = p.nodeName match {
    case "ReusedExchange" => 0
    case n => (if (n == "Exchange") 1 else 0) + p.children.map(shuffleExchanges).sum
  }
}
