package perfbench

import graft.sinks.DocumentSink
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The sessions the workloads run in, built the way the repository's own
  * tools build them.
  */
object Sessions {
  private def base(master: String, parts: Int, workDir: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")

  /** As the stream tools build it: local[n], n shuffle partitions, RocksDB
    * state store, UTC.
    */
  def stream(cpus: Int, workDir: String): SparkSession = {
    val s = base(s"local[$cpus]", cpus, workDir)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** As `graft.Bench` builds it, through the program's own `ScaleKnobs.forDir`. */
  def batch(cpus: Int, dataDir: String, workDir: String): SparkSession = {
    val s = graft.tools.ScaleKnobs.forDir(
      base(s"local[$cpus]", cpus, workDir)
        .config("spark.sql.extensions", "graft.functions.GraftExtensions"),
      dataDir, cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** A `DocumentSink` handed to `Pipeline` in place of the real one: it
  * forwards every call and notes the wall time at which each upsert has
  * returned, i.e. when a reader can see the new version. With a tracer it
  * also keeps a span per call and counts calls, reads and emitted rows.
  */
final class TimedSink(name: String, inner: DocumentSink, tracer: Option[Tracer],
    countRows: Boolean) extends DocumentSink {
  private val visible = mutable.ArrayBuffer.empty[Long]

  def visibleTimes: Seq[Long] = synchronized(visible.toList)

  override def upsert(batch: DataFrame, keyField: String, orderCol: Option[String]): Unit =
    tracer match {
      case None =>
        inner.upsert(batch, keyField, orderCol)
        synchronized(visible += System.currentTimeMillis())
      case Some(t) =>
        // counted before the timed span: the count is the tracer's own work
        if (countRows) t.add("operators.j1_emitted_rows", batch.count().toDouble)
        val t0 = System.nanoTime()
        t.span(s"sinks.$name.upsert") { inner.upsert(batch, keyField, orderCol) }
        synchronized(visible += System.currentTimeMillis())
        t.add(s"sinks.${name}_upsert_ms", (System.nanoTime() - t0) / 1e6)
        t.add("sinks.upsert_calls", 1)
    }

  override def snapshot(spark: SparkSession): DataFrame = {
    tracer.foreach(_.add("sinks.snapshot_reads", 1))
    inner.snapshot(spark)
  }

  override def snapshotOption(spark: SparkSession): Option[DataFrame] = {
    tracer.foreach(_.add("sinks.snapshot_reads", 1))
    inner.snapshotOption(spark)
  }
}

/** Collects each micro-batch's progress: the `durationMs` phases, the input
  * rows and the J1 state-operator metrics.
  */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e)

  /** Adds the streaming layers' counters to `t`. Only batches that carried
    * input count as work; the others are idle polls.
    */
  def report(t: Tracer): Unit = synchronized {
    val ps = progress.map(_.progress).filter(_.numInputRows > 0).toSeq
    def phase(k: String): Seq[Double] =
      ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      t.record("app.batch", start, start + p.durationMs.get("triggerExecution").longValue)
    }
    val trig = phase("triggerExecution").sorted
    t.set("app.batches", ps.size)
    t.set("app.batch_ms_p50", if (trig.isEmpty) 0 else trig(trig.size / 2))
    t.set("app.batch_ms_max", trig.lastOption.getOrElse(0.0))
    t.set("app.add_batch_ms", phase("addBatch").sum)
    t.set("app.query_planning_ms", phase("queryPlanning").sum)
    t.set("app.wal_commit_ms", phase("walCommit").sum)
    t.set("app.commit_offsets_ms", phase("commitOffsets").sum)
    t.set("sources.latest_offset_ms", phase("latestOffset").sum)
    t.set("sources.get_batch_ms", phase("getBatch").sum)
    t.set("sources.input_rows", ps.map(_.numInputRows.toDouble).sum)
    val ops = ps.flatMap(_.stateOperators.toSeq)
    t.set("operators.j1_rows_updated", ops.map(_.numRowsUpdated.toDouble).sum)
    t.set("operators.j1_update_ms", ops.map(_.allUpdatesTimeMs.toDouble).sum)
    t.set("operators.j1_commit_ms", ops.map(_.commitTimeMs.toDouble).sum)
    ps.lastOption.foreach { p =>
      val last = p.stateOperators.toSeq
      t.set("operators.j1_state_rows", last.map(_.numRowsTotal.toDouble).sum)
      t.set("operators.j1_state_bytes", last.map { o =>
        o.customMetrics.asScala.get("rocksdbSstFileSize").map(_.doubleValue)
          .getOrElse(o.memoryUsedBytes.toDouble)
      }.sum)
    }
  }
}

/** Attributes Spark jobs, stages and tasks to the query that was running
  * when they started. Attribution is by a local property the benchmark
  * sets around each query (jobs inherit local properties); the program
  * sets job groups of its own, so the job group cannot carry it.
  */
final class QueryJobListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, shuffleRead, shuffleWrite, spill, gcMs = 0.0
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val Prop = "perfbench.query"
  private val byQuery = mutable.HashMap.empty[String, Acc]
  private val stageQuery = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def acc(q: String): Acc = byQuery.getOrElseUpdate(q, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { q =>
      acc(q).jobs += 1
      e.stageIds.foreach(stageQuery(_) = q)
      jobStart(e.jobId) = (q, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (q, t0) => acc(q).intervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageQuery.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (q <- stageQuery.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(q)
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
  }

  /** Wall time of [t0, t1] not covered by any of the query's jobs. */
  def driverMs(q: String, t0: Long, t1: Long): Double = synchronized {
    val iv = byQuery.get(q).map(_.intervals.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    math.max(0L, t1 - t0 - covered).toDouble
  }

  def report(t: Tracer): Unit = synchronized {
    val all = byQuery.values
    t.set("queries.jobs", all.map(_.jobs.toDouble).sum)
    t.set("queries.stages", all.map(_.stages.toDouble).sum)
    t.set("queries.tasks", all.map(_.tasks.toDouble).sum)
    t.set("queries.task_ms", all.map(_.taskMs).sum)
    t.set("queries.shuffle_read_bytes", all.map(_.shuffleRead).sum)
    t.set("queries.shuffle_write_bytes", all.map(_.shuffleWrite).sum)
    t.set("queries.spill_bytes", all.map(_.spill).sum)
    t.set("queries.gc_ms", all.map(_.gcMs).sum)
  }
}

object Jvm {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def startMs(): Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}
