package graft.obs

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Where one query's time went, split the way Drizzle (SOSP 2017) splits
  * a micro-batch: driver time (planning, eager sizing and gate actions run
  * between jobs, scheduling) against job time, then job time by stage and
  * the rows that crossed each exchange and join.
  *
  * One `SparkListener` collects jobs, stages and task metrics; one
  * `QueryExecutionListener` keeps each `QueryExecution` that ran, whose
  * executed plan is the FINAL adaptive plan with its SQL metrics. Reading
  * `df.queryExecution` after a `df.count()` would give the initial plan
  * instead: `count()` plans and runs a fresh QueryExecution.
  *
  * Both listeners deliver on the listener bus asynchronously, so
  * [[profile]] drains the bus before it reads. Jobs belong to a profile
  * when they START inside its body's wall interval, whichever thread
  * started them (job groups and local properties do not reach every
  * thread a query uses), so profiles must not overlap.
  */
final class Profiler private (sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Profiler._

  private final class StageAcc {
    var shuffleId: Option[Int] = None
    var completed = false
    var tasks, taskMs, readBytes, writeBytes, writeRecords, spillBytes, gcMs = 0L
  }

  @volatile private var armed = false
  private val jobStart = mutable.HashMap.empty[Int, (Long, Seq[Int])]
  private val jobEnd = mutable.HashMap.empty[Int, Long]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val executions = mutable.ArrayBuffer.empty[QueryExecution]

  private def stage(id: Int): StageAcc = stages.getOrElseUpdate(id, new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (armed) synchronized { jobStart(e.jobId) = (e.time, e.stageIds) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (armed) synchronized { jobEnd(e.jobId) = e.time }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (armed) synchronized {
      val a = stage(e.stageInfo.stageId)
      a.completed = true
      a.shuffleId = GraftBridge.shuffleDepId(e.stageInfo)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (armed) Option(e.taskMetrics).foreach { m =>
      synchronized {
        val a = stage(e.stageId)
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.readBytes += m.shuffleReadMetrics.totalBytesRead
        a.writeBytes += m.shuffleWriteMetrics.bytesWritten
        a.writeRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (armed) synchronized { executions += qe }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Runs `body` and returns its layers record. A `body` that throws
    * rethrows here and leaves nothing behind for the next call.
    */
  def profile(name: String)(body: => Unit): Record = {
    require(!armed, "Profiler.profile calls must not overlap")
    GraftBridge.drainListenerBus(sc)
    synchronized { jobStart.clear(); jobEnd.clear(); stages.clear(); executions.clear() }
    armed = true
    val t0 = System.currentTimeMillis()
    val t1 =
      try { body; System.currentTimeMillis() }
      catch { case e: Throwable => armed = false; throw e }
    GraftBridge.drainListenerBus(sc)
    armed = false
    synchronized {
      val jobs = jobStart.toSeq.filter { case (_, (start, _)) => start >= t0 && start <= t1 }
      val mine = jobs.flatMap(_._2._2).distinct.flatMap(id => stages.get(id).map(id -> _))
      val covered = coveredMs(jobs.map { case (id, (start, _)) =>
        (start, jobEnd.getOrElse(id, t1)) }, t0, t1)
      val plan = executions.lastOption.map(_.executedPlan)
      Record(name, t1 - t0, t1 - t0 - covered, jobs.size, mine.count(_._2.completed),
        mine.map(_._2.tasks).sum, mine.map(_._2.taskMs).sum,
        mine.sortBy { case (id, a) => (-a.taskMs, id) }.take(3).map { case (id, a) =>
          Stage(id, a.shuffleId, a.tasks, a.taskMs, a.readBytes, a.writeBytes,
            a.writeRecords, a.spillBytes, a.gcMs) },
        plan.exists(isFinal), plan.map(nodes).getOrElse(Nil))
    }
  }

  /** The QueryExecution the last profiled body ran last: its executed plan
    * is the final plan the record's nodes were read from.
    */
  def lastExecution: Option[QueryExecution] = synchronized(executions.lastOption)
}

object Profiler {
  /** One of the costliest stages of a profiled query. `shuffle` is the
    * shuffle a map stage writes: the `shuffle` of an [[Node]] Exchange. Its
    * records written count the rows out of that Exchange even when
    * adaptive execution drops the Exchange from the final plan (a
    * broadcast side found empty removes the join that read it).
    */
  final case class Stage(stage: Int, shuffle: Option[Int], tasks: Long, taskMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      spillBytes: Long, gcMs: Long)

  /** An Exchange or join of the executed plan: `from` is the operator
    * feeding an Exchange, `rows` the rows it emitted (shuffle records
    * written for a shuffle).
    */
  final case class Node(op: String, from: Option[String], shuffle: Option[Int], rows: Long)

  /** One profiled query. `driverMs` is the wall time no job of the query
    * covered; `finalPlan` says the plan `nodes` come from is the one that
    * ran, every adaptive node in it final.
    */
  final case class Record(name: String, wallMs: Long, driverMs: Long, jobs: Int,
      stages: Int, tasks: Long, taskMs: Long, topStages: Seq[Stage],
      finalPlan: Boolean, nodes: Seq[Node]) {
    def json: String = {
      def opt(k: String, v: Option[Any]) = v.fold("")(x => s""","$k":${str(x)}""")
      val top = topStages.map { s =>
        s"""{"stage":${s.stage}${opt("shuffle", s.shuffle)},"tasks":${s.tasks},""" +
          s""""task_ms":${s.taskMs},"shuffle_read_bytes":${s.shuffleReadBytes},""" +
          s""""shuffle_write_bytes":${s.shuffleWriteBytes},""" +
          s""""shuffle_write_records":${s.shuffleWriteRecords},"spill_bytes":${s.spillBytes},""" +
          s""""gc_ms":${s.gcMs}}"""
      }.mkString("[", ",", "]")
      val ns = nodes.map { n =>
        s"""{"op":${str(n.op)}${opt("from", n.from)}${opt("shuffle", n.shuffle)},"rows":${n.rows}}"""
      }.mkString("[", ",", "]")
      s"""{"name":${str(name)},"wall_ms":$wallMs,"driver_ms":$driverMs,"jobs":$jobs,""" +
        s""""stages":$stages,"tasks":$tasks,"task_ms":$taskMs,"top_stages":$top,""" +
        s""""final_plan":$finalPlan,"nodes":$ns}"""
    }
  }

  private def str(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case other => other.toString
  }

  private val attached = new java.util.WeakHashMap[SparkSession, Profiler]

  /** The session's profiler, registered on first use: calling it again
    * returns the same instance and registers nothing more.
    */
  def attach(spark: SparkSession): Profiler = attached.synchronized {
    Option(attached.get(spark)).getOrElse {
      val p = new Profiler(spark.sparkContext)
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      attached.put(spark, p)
      p
    }
  }

  /** Milliseconds of [t0, t1] covered by the union of `intervals`. */
  private def coveredMs(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }

  private object Walk extends AdaptiveSparkPlanHelper

  private def isFinal(plan: SparkPlan): Boolean =
    Walk.collectWithSubqueries(plan) { case a: AdaptiveSparkPlanExec => a.isFinalPlan }
      .forall(identity)

  /** The operator under an Exchange, looking through codegen wrappers and
    * column projections.
    */
  private def feeder(p: SparkPlan): String = p match {
    case w: WholeStageCodegenExec => feeder(w.child)
    case i: InputAdapter => feeder(i.child)
    case pr: ProjectExec => feeder(pr.child)
    case other => other.nodeName
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  private def nodes(plan: SparkPlan): Seq[Node] = Walk.collectWithSubqueries(plan) {
    case e: ShuffleExchangeLike =>
      Node("Exchange", Some(feeder(e.child)), Some(e.shuffleId),
        metric(e, "shuffleRecordsWritten"))
    case b: BroadcastExchangeExec =>
      Node("BroadcastExchange", Some(feeder(b.child)), None, metric(b, "numOutputRows"))
    case j: BaseJoinExec =>
      Node(s"${j.nodeName} ${j.joinType}", None, None, metric(j, "numOutputRows"))
  }
}
