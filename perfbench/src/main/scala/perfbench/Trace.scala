package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spans around the harness's calls into each layer. A span's path (the
  * names of its open ancestors, joined by '/') rides on the Spark local
  * property [[Spans.Prop]], so every job a call submits is attributed to
  * the innermost open span. Disabled, a span is a plain call. */
final class Spans(sc: SparkContext, enabled: Boolean, plant: Option[(String, Long)]) {
  import Spans.Span
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[String] = Nil

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      stack = name :: stack
      val path = stack.reverse.mkString("/")
      sc.setLocalProperty(Spans.Prop, path)
      val t0 = System.nanoTime()
      try {
        // self-test hook: a fixed sleep inside exactly one layer's span
        plant.filter(_._1 == name).foreach(p => Thread.sleep(p._2))
        f
      } finally {
        done += Span(path, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Spans.Prop, if (stack.isEmpty) null else stack.reverse.mkString("/"))
      }
    }

  /** Self time of every span called `layer`: duration minus the part
    * covered by its child spans. */
  def selfSeconds(layer: String): Double =
    done.filter(_.layer == layer).map { s =>
      val children = done.filter(c => c.path.startsWith(s.path + "/") &&
        !c.path.stripPrefix(s.path + "/").contains('/'))
      (s.end - s.start - children.map(c => c.end - c.start).sum) / 1e9
    }.sum

  /** Seconds of [t0, t1] covered by no top-level span. */
  def uncoveredSeconds(t0: Long, t1: Long): Double =
    (t1 - t0 - done.filterNot(_.path.contains('/')).map(s => s.end - s.start).sum) / 1e9
}

object Spans {
  val Prop = "perfbench.span"
  final case class Span(path: String, start: Long, end: Long) {
    def layer: String = layerOf(path)
  }
  def layerOf(path: String): String = path.split('/').last
  /** The query line a span path belongs to, if any. */
  def lineOf(path: String): Option[String] =
    path.split('/').find(_.startsWith("line:")).map(_.stripPrefix("line:"))
}

/** Scheduler and query-execution counters for the traced pass, attributed
  * to spans through the job property. Listener-bus thread only; read
  * after [[PerfbenchAccess.drain]]. */
final class Recorder extends SparkListener {
  import Recorder._

  val jobs = mutable.Map.empty[Int, Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val stageTasks = mutable.ArrayBuffer.empty[(String, Int)]
  val execs = mutable.ArrayBuffer.empty[Exec]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val execSpan = mutable.Map.empty[Long, String]

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Spans.Prop))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    jobs(e.jobId) = Job(span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execSpan.getOrElseUpdate(id.toLong, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageTasks += (stageSpan.getOrElse(e.stageInfo.stageId, "") -> e.stageInfo.numTasks)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks += Task(stageSpan.getOrElse(e.stageId, ""), i.launchTime, i.finishTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  /** An SQL execution's jobs all started before its end event, so its
    * span is known here. */
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd =>
      PerfbenchAccess.queryExecution(e).foreach(qe => execs += analyze(
        execSpan.getOrElse(e.executionId, ""), qe, PerfbenchAccess.durationNs(e)))
    case _ =>
  }

  private def analyze(span: String, qe: QueryExecution, durationNs: Long): Exec = {
    val plans = physical(qe.executedPlan)
    val exchanges = plans.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val fallbacks = plans.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
    val poolBuild = plans.exists {
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => isPool(c.outputPath.toString)
        case _ => false
      }
      case _ => false
    }
    val poolReads = plans.collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString).filter(isPool)
    }.flatten.toSet
    Exec(span, qe.tracker.phases.values.map(_.durationMs).sum, exchanges, fallbacks,
      if (poolBuild) Some(durationNs) else None, poolReads)
  }

  private def isPool(path: String): Boolean = path.contains("/graft_pools_")

  /** Every physical node that ran, looking through adaptive wrappers and
    * query stages; a reused exchange is not counted twice. */
  private def physical(root: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case _ =>
        out += p
        (p.children ++ p.subqueries).foreach(visit)
    }
    visit(root)
    out.toSeq
  }
}

object Recorder {
  final case class Job(span: String, start: Long, var end: Long = -1L)
  final case class Task(span: String, launch: Long, finish: Long, cpuNs: Long, gcMs: Long,
                        readBytes: Long, shuffleWrite: Long, spill: Long)
  /** `poolBuildNs` is set when the execution wrote a SharedPools pool. */
  final case class Exec(span: String, planMs: Long, exchanges: Int, fallbacks: Int,
                        poolBuildNs: Option[Long], poolReads: Set[String])

  /** Total length of the union of [start, end] intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 >= i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
