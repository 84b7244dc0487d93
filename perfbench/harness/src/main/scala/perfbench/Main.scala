package perfbench

import graft.app.Pipeline
import graft.core.Schemas
import graft.operators.{EnrichmentJoin, WindowCounts}
import graft.sinks.ParquetDocumentSink
import graft.sources.FileIngestSource
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.current_timestamp
import scala.collection.mutable

/** The JVM side of the benchmark. `run.py` makes the inputs, starts this
  * program with one workload, and checks what it wrote. Arguments are
  * `key=value` pairs; the result is one JSON object written to `out=`.
  *
  *   live    in= layers= work= ready= done= trace= out= cpus=
  *   queries data= work= seconds= stride= warm_passes= trace= out= cpus=
  */
object Main {
  private val SinkNames = Seq("user_address", "state", "country")

  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val tracer = if (kv.getOrElse("trace", "0") == "1") Some(new Tracer) else None
    val cpus = kv("cpus").toInt
    val result = args.head match {
      case "live" => live(kv, cpus, tracer)
      case "queries" => queries(kv, cpus, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    val fields = result ++ Seq(
      "jvm_start_ms" -> Jvm.startMs().toString,
      "peak_rss_mb" -> Json.num(Jvm.peakRssMb())) ++
      tracer.map(t => "trace" -> t.toJson)
    Files.writeString(Paths.get(kv("out")), Json.obj(fields))
  }

  /** A phase mark in the JVM log: seconds since the JVM started. */
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - Jvm.startMs()) / 1000.0}%.2f s: $what")

  private def sinks(dir: String, tracer: Option[Tracer]): Seq[TimedSink] =
    SinkNames.map(n => new TimedSink(n, new ParquetDocumentSink(s"$dir/$n"), tracer,
      countRows = n == "user_address"))

  private def dirBytes(p: java.io.File): Long =
    if (p.isFile) p.length
    else Option(p.listFiles()).map(_.iterator.map(dirBytes).sum).getOrElse(0L)

  /** Bytes of the newest version of each sink table under `dir`. */
  private def tableBytes(dir: String): Double = SinkNames.map { n =>
    val vf = Paths.get(dir, n, "_VERSION")
    if (!Files.exists(vf)) 0L
    else dirBytes(Paths.get(dir, n, "v" + Files.readString(vf).trim).toFile)
  }.sum.toDouble

  private def stopAll(spark: SparkSession): Unit = {
    // close every RocksDB store before the context stops (see StreamThroughput)
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }

  /** Batch-mode timings of the parse and of the window counts over the
    * backlog in `in` (median of three).
    */
  private def batchLayers(spark: SparkSession, in: String, t: Tracer): Unit = {
    def med3(f: => Unit): Double = {
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
      ts.sorted.apply(1)
    }
    val src = new FileIngestSource(in, streaming = false)
    t.set("core.parse_ms", t.span("core.parse") { med3 {
      Schemas.parseUsers(src.users(spark)).write.format("noop").mode("overwrite").save()
      Schemas.parseAddresses(src.addresses(spark)).write.format("noop").mode("overwrite").save()
    } })
    val nil = new ParquetDocumentSink(s"$in/.unused")
    val snaps = EnrichmentJoin.joinBatch(spark,
        new Pipeline(src, nil, nil, nil).envelopes(spark))
      .toDF().withColumn("procTime", current_timestamp()).cache()
    snaps.count()
    t.set("operators.window_counts_ms", t.span("operators.window_counts") { med3 {
      WindowCounts.countByState(snaps).write.format("noop").mode("overwrite").save()
      WindowCounts.countByCountry(snaps).write.format("noop").mode("overwrite").save()
    } })
    snaps.unpersist()
  }

  private def live(kv: Map[String, String], cpus: Int, tracer: Option[Tracer]): Seq[(String, String)] = {
    val work = kv("work")
    val spark = Sessions.stream(cpus, work)
    mark("session ready")
    val listener = tracer.map { _ =>
      val l = new ProgressListener; spark.streams.addListener(l); l
    }
    val ss = sinks(s"$work/sinks", tracer)
    val p = new Pipeline(new FileIngestSource(kv("in")), ss(0), ss(1), ss(2))
    val gc0 = Jvm.gcMs()
    val q = p.startAllShared(spark, s"$work/cp")
    Files.writeString(Paths.get(kv("ready")), System.currentTimeMillis().toString)
    val done = Paths.get(kv("done"))
    val giveUp = System.currentTimeMillis() + 150000
    try {
      while (!Files.exists(done) && System.currentTimeMillis() < giveUp) Thread.sleep(20)
      require(Files.exists(done), "the generator never finished")
      q.processAllAvailable()
    } finally q.stop()
    tracer.foreach { t =>
      t.set("jvm.gc_ms", Jvm.gcMs() - gc0)
      Thread.sleep(200)
      listener.foreach(_.report(t))
      t.set("sinks.table_bytes", tableBytes(s"$work/sinks"))
      batchLayers(spark, kv("layers"), t)
    }
    stopAll(spark)
    // each micro-batch that carried input: start (epoch ms) and duration
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      Json.arr(Seq(java.time.Instant.parse(p.timestamp).toEpochMilli.toString,
        p.durationMs.get("triggerExecution").toString))
    }
    Seq("sinks_dir" -> Json.str(s"$work/sinks"),
      "visible_ms" -> Json.arr(ss.head.visibleTimes.map(_.toString)),
      "batches" -> Json.arr(batches))
  }

  private def queries(kv: Map[String, String], cpus: Int, tracer: Option[Tracer]): Seq[(String, String)] = {
    val (data, work) = (kv("data"), kv("work"))
    val spark = Sessions.batch(cpus, data, work)
    mark("session ready")
    // a fixed sample of the registry: every stride-th query by name
    val stride = kv.getOrElse("stride", "1").toInt
    val registry = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .zipWithIndex.collect { case (q, i) if i % stride == 0 => q }
    Files.writeString(Paths.get(work, "oracle_sql.json"),
      Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    // untimed warm-up passes over the sample: the first is cold, and the
    // code the queries run keeps getting faster over the next several
    for (w <- 0 until kv("warm_passes").toInt; (name, fn) <- registry) {
      try fn(spark, data).write.mode("overwrite").parquet(s"$work/out/warm/$name")
      catch { case _: Throwable => () }
      if (w == 0) mark(s"warm-up ran $name")
    }
    mark("warm-up passes done")
    val listener = tracer.map { _ =>
      val l = new QueryJobListener; spark.sparkContext.addSparkListener(l); l
    }
    val firstTimed = System.currentTimeMillis()
    val gc0 = Jvm.gcMs()
    val deadline = firstTimed + kv("seconds").toLong * 1000
    final case class Run(name: String, pass: Int, dir: String, t0: Long, t1: Long, err: Option[String])
    val runs = mutable.ArrayBuffer.empty[Run]
    var pass = 0
    while (pass == 0 || System.currentTimeMillis() < deadline) {
      for ((name, fn) <- registry) {
        val outDir = s"$work/out/p$pass/$name"
        listener.foreach(l => spark.sparkContext.setLocalProperty(l.Prop, name))
        val t0 = System.currentTimeMillis()
        val err = try {
          def call(): Unit = fn(spark, data).write.mode("overwrite").parquet(outDir)
          tracer.fold(call())(_.span(s"queries.$name") { call() })
          None
        } catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString).take(300)) }
        runs += Run(name, pass, outDir, t0, System.currentTimeMillis(), err)
        listener.foreach(l => spark.sparkContext.setLocalProperty(l.Prop, null))
      }
      pass += 1
    }
    tracer.foreach { t =>
      t.set("jvm.gc_ms", Jvm.gcMs() - gc0)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      listener.foreach(_.report(t))
    }
    spark.stop()
    Seq("first_timed_ms" -> firstTimed.toString, "runs" -> Json.arr(runs.map { r =>
      Json.obj(Seq("name" -> Json.str(r.name), "pass" -> r.pass.toString,
        "dir" -> Json.str(r.dir), "start_ms" -> r.t0.toString, "end_ms" -> r.t1.toString) ++
        listener.map(l => "driver_ms" -> Json.num(l.driverMs(r.name, r.t0, r.t1))) ++
        r.err.map(e => "error" -> Json.str(e)))
    }))
  }
}
