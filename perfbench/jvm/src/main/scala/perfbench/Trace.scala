package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark made into the program; `layer` names the
  * program layer. Times are epoch microseconds. */
final class Span(val id: Int, val name: String, val layer: String,
    val parent: Int, val start: Long) {
  var end: Long = start
  var gcMs: Long = 0L
  def seconds: Double = (end - start) / 1e6
}

/** What Spark reports about one job, stage or planned query. */
final class JobRec(val id: Int, val span: Int, val start: Long,
    val name: String, val execution: Long, val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}
final class StageRec(val id: Int, val span: Int, val tasks: Int,
    val shuffleWrite: Long, val shuffleRead: Long, val spill: Long,
    val taskMillis: Seq[Long])
final class PlanRec(val start: Long, val analysisMs: Long,
    val optimizationMs: Long, val planningMs: Long,
    val singlePartitionOps: Int)

/** Spans around the benchmark's calls into the program, plus the Spark
  * jobs, stages and query plans those calls caused. Spans stay in memory
  * until [[finish]]. Jobs and stages find their span through a local
  * property set for the duration of each call (Spark copies the calling
  * thread's local properties onto every job it submits); a planned query
  * finds its span by the time its analysis started, because the
  * execution listener does not see local properties. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val taskMillis = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private var stack: List[Span] = Nil
  private val sc = spark.sparkContext

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toInt).getOrElse(-1)

  // SQL execution id -> the call site of the action that started it
  private val executions = new ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executions.put(s.executionId, s.description)
      case _ => ()
    }
    // A job is named after the action of its SQL execution when it has
    // one (adaptive execution submits stage jobs from its own threads),
    // else after its own call site.
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .map(_.toLong).getOrElse(-1L)
      val name = Option(executions.get(exec))
        .getOrElse(e.stageInfos.maxBy(_.stageId).name)
      jobs.put(e.jobId, new JobRec(e.jobId, spanOf(e.properties),
        e.time * 1000, name, exec, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000)
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      taskMillis.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]())
        .synchronized {
          taskMillis.get(e.stageId) += e.taskInfo.duration
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val durations = Option(taskMillis.remove(s.stageId))
        .map(_.toSeq).getOrElse(Nil)
      stages.put(s.stageId, new StageRec(s.stageId,
        stageSpan.getOrDefault(s.stageId, -1), s.numTasks,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.diskBytesSpilled,
        durations))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.get("analysis").orElse(ph.values.headOption)
        .map(_.startTimeMs * 1000).getOrElse(0L)
      val ops = try walk(qe.executedPlan).count(isSinglePartition)
        catch { case _: Throwable => 0 }
      plans.add(new PlanRec(start, ms("analysis"), ms("optimization"),
        ms("planning"), ops))
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Run `body` as a child span of the innermost open span. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val s = new Span(spans.size, name, layer,
      stack.headOption.map(_.id).getOrElse(-1), nowMicros())
    spans += s
    stack = s :: stack
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    val gc0 = gcMillis()
    try body
    finally {
      s.end = nowMicros()
      s.gcMs = gcMillis() - gc0
      stack = stack.tail
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Wait for the listener bus to deliver every event, then detach. */
  def finish(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def stageList: Seq[StageRec] = stages.values.asScala.toSeq.sortBy(_.id)
  def planList: Seq[PlanRec] = plans.asScala.toSeq

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] =
      id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root).toSet
  }

  /** The innermost span open at `t` (epoch micros), or -1. */
  def spanAt(t: Long): Int = {
    val open = spans.filter(s => s.start <= t && t <= s.end)
    if (open.isEmpty) -1 else open.maxBy(_.start).id
  }

  /** Self time per layer and the number of spans per layer, over the
    * tree below `root`; jobs are leaves under the span that ran them.
    * A span's self time is the part of its interval no child covers. Where
    * children run at the same time (adaptive execution runs jobs side by
    * side), each gets an equal share of that time, so the self times of the
    * tree add up to the root's wall time. */
  private def layerTable(root: Int): (Map[String, (Double, Int)], Double, Double) = {
    val ids = subtree(root)
    final case class Node(key: Int, layer: String, start: Long, end: Long, parent: Int)
    // a job counts in the layer "<layer of its span> jobs"
    val layerOf = spans.map(s => s.id -> s.layer).toMap
    val nodes = spans.filter(s => ids(s.id)).map(s =>
        Node(s.id, s.layer, s.start, s.end, s.parent)).toSeq ++
      jobList.filter(j => ids(j.span) && j.end >= 0).map(j =>
        Node(-1 - j.id, s"${layerOf(j.span)} jobs", j.start, j.end, j.span))
    val children = nodes.groupBy(_.parent)
    val self = mutable.Map[Node, Double]().withDefaultValue(0.0)
    // pieces: (from, to, weight) of the node's time that reach it
    def visit(n: Node, pieces: Seq[(Long, Long, Double)]): Unit = {
      val kids = children.getOrElse(n.key, Nil)
      val handed = mutable.Map[Node, Seq[(Long, Long, Double)]]().withDefaultValue(Nil)
      for ((from, to, w) <- pieces) {
        val cuts = (Seq(from, to) ++ kids.flatMap(k => Seq(k.start, k.end)))
          .filter(t => t >= from && t <= to).distinct.sorted
        cuts.zip(cuts.tail).foreach { case (a, b) =>
          val active = kids.filter(k => k.start <= a && k.end >= b)
          if (active.isEmpty) self(n) += (b - a) * w
          else active.foreach(k => handed(k) :+= ((a, b, w / active.size)))
        }
      }
      kids.foreach(k => visit(k, handed(k)))
    }
    val top = nodes.find(_.key == root).get
    visit(top, Seq((top.start, top.end, 1.0)))
    val table = nodes.groupBy(_.layer).map { case (l, ns) =>
      l -> (ns.map(self(_)).sum / 1e6, ns.size)
    }
    (table, (top.end - top.start) / 1e6, nodes.map(self(_)).sum / 1e6)
  }

  /** The span tree below `root` and its per-layer self times, as written
    * to the trace file. */
  def export(root: Int): Map[String, Any] = {
    val (table, wall, selfSum) = layerTable(root)
    Map(
      "wall_s" -> wall,
      "self_sum_s" -> selfSum,
      "layers" -> table.map { case (l, (s, n)) =>
        l -> Map("self_s" -> s, "count" -> n) },
      "spans" -> (spans.map(s => Map[String, Any]("id" -> s.id,
        "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "start_us" -> s.start, "end_us" -> s.end)) ++
        jobList.filter(_.end >= 0).map(j => Map[String, Any](
          "id" -> s"job${j.id}", "name" -> j.name, "layer" -> "job",
          "parent" -> j.span, "start_us" -> j.start, "end_us" -> j.end))))
  }
}

object Tracer {
  val Prop = "perfbench.span"

  private val epochBaseMicros = System.currentTimeMillis() * 1000
  private val nanoBase = System.nanoTime()
  def nowMicros(): Long = epochBaseMicros + (System.nanoTime() - nanoBase) / 1000

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Every operator of an executed plan, through adaptive wrappers,
    * query stages and subqueries. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  /** Operators that put all of their input into one partition. */
  def isSinglePartition(p: SparkPlan): Boolean = p match {
    case w: WindowExec => w.partitionSpec.isEmpty
    case s: ShuffleExchangeExec => s.outputPartitioning == SinglePartition
    case _ => false
  }
}
