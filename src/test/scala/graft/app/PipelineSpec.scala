package graft.app

import graft.SparkSpecBase
import graft.operators.EnrichmentJoin
import graft.sinks.{DocumentSink, InMemoryDocumentSink, ParquetDocumentSink}
import graft.sources.{FileIngestSource, FixtureGenerator, IngestSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end: two JSON streams → parse → J1 → three upsert sinks, the full
  * reference topology (`/root/reference/src/main/java/Main.java:45-182`)
  * against the FIXTURES.md golden shapes. Window closing is made
  * deterministic by stamping procTime from the user's registerDate.
  */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def userJson(id: String, name: String, ts: String) =
    s"""{"id":"$id","name":"$name","email":"$id@x.org","genre":"F","registerDate":"$ts"}"""
  private def addrJson(uid: String, tag: String, state: String, country: String) =
    s"""{"userId":"$uid","address":"$tag","city":"c","state":"$state","zipCode":"z","country":"$country"}"""

  test("checkpoint recovery: J1 state survives a query restart") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft-recovery")
    val in = base.resolve("in")
    Files.createDirectories(in.resolve("user"))
    Files.createDirectories(in.resolve("address"))
    val cp = base.resolve("cp").toString
    val source = new graft.sources.FileIngestSource(in.toString)
    val uaSink = new InMemoryDocumentSink
    val pipeline = new Pipeline(source, uaSink, new InMemoryDocumentSink,
      new InMemoryDocumentSink,
      procTimeExpr = col("user.registerDate"))

    // phase 1: only the user arrives; its offset is committed to the
    // checkpoint, so a restart will NOT re-read this file
    Files.writeString(in.resolve("user/u1.json"),
      userJson("u1", "Maria", "2026-01-01T10:00:10.000000+0000"))
    val q1 = pipeline.startAllShared(spark, cp, Trigger.ProcessingTime(0))
    try q1.processAllAvailable() finally q1.stop()
    assert(uaSink.get("u1").exists(
      r => r.getSeq[Any](r.fieldIndex("addresses")).isEmpty))

    // phase 2: restart from the checkpoint; an address-only batch can only
    // produce a snapshot if u1's user was RECOVERED from the state store
    Files.writeString(in.resolve("address/a1.json"),
      addrJson("u1", "a1", "IL", "BR"))
    val q2 = pipeline.startAllShared(spark, cp, Trigger.ProcessingTime(0))
    try q2.processAllAvailable() finally q2.stop()
    val u1doc = uaSink.get("u1").get
    val addrs = u1doc.getSeq[org.apache.spark.sql.Row](u1doc.fieldIndex("addresses"))
    assert(addrs.map(_.getString(0)) == Seq("a1"))
  }

  /** Runs the F2 interleaving through `startAllShared` into fresh sinks
    * from `newSink`, one event per batch so snapshot order (and the §2.1
    * over-count) is deterministic; returns the (userAddress, state,
    * country) sinks.
    */
  private def runF2[S <: DocumentSink](newSink: () => S): (S, S, S) = {
    implicit val sqlCtx = spark.sqlContext
    val userStream = MemoryStream[String]
    val addrStream = MemoryStream[String]
    val source = new IngestSource {
      override def users(s: SparkSession): DataFrame = userStream.toDF().toDF("value")
      override def addresses(s: SparkSession): DataFrame = addrStream.toDF().toDF("value")
    }
    val (ua, st, co) = (newSink(), newSink(), newSink())
    val pipeline = new Pipeline(source, ua, st, co,
      windowLength = "1 minute", procTimeExpr = col("user.registerDate"))
    val cp = java.nio.file.Files.createTempDirectory("graft-cp-shared").toString
    val query = pipeline.startAllShared(spark, cp, Trigger.ProcessingTime(0))
    try {
      userStream.addData(userJson("u1", "Maria", "2026-01-01T10:00:10.000000+0000"))
      query.processAllAvailable()
      addrStream.addData(addrJson("u1", "a1", "IL", "BR"))
      query.processAllAvailable()
      // the shared path must accumulate each batch partial onto the prior
      // partials of the same window, not overwrite them
      addrStream.addData(addrJson("u1", "a2", "IL", "BR"))
      query.processAllAvailable()
      addrStream.addData(addrJson("u1", "a3", "NY", "US"))
      query.processAllAvailable()
      userStream.addData(userJson("u2", "Joao", "2026-01-01T10:05:30.000000+0000"))
      query.processAllAvailable()
      userStream.addData(userJson("u3", "Ana", "2026-01-01T10:06:00.000000+0000"))
      query.processAllAvailable()
    } finally query.stop()
    (ua, st, co)
  }

  // snap_order is a physical emission stamp (monotonic id), not part of
  // the logical document — compare everything else exactly
  private def canon(s: DocumentSink, dropCols: String*): Set[String] =
    s.snapshot(spark).drop(dropCols: _*).collect().map(_.toString).toSet

  private def newParquetSink(): ParquetDocumentSink = new ParquetDocumentSink(
    java.nio.file.Files.createTempDirectory("graft-pq-sink").toString)

  test("shared topology over parquet sinks converges to the in-memory tables") {
    val (ua1, st1, co1) = runF2(() => new InMemoryDocumentSink)
    val (ua2, st2, co2) = runF2(() => newParquetSink())
    assert(canon(ua2, "snap_order") == canon(ua1, "snap_order"))
    assert(canon(st2) == canon(st1))
    assert(canon(co2) == canon(co1))
  }

  test("replaying a batch id through the shared fan-out leaves the count tables unchanged") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-replay").toString
    FixtureGenerator.writeFiles(dir, seed = 42L)
    val procTime = lit("2026-01-01 10:00:30").cast("timestamp")
    val (ua, st, co) = (newParquetSink(), newParquetSink(), newParquetSink())
    val pipeline = new Pipeline(new FileIngestSource(dir, streaming = false),
      ua, st, co, procTimeExpr = procTime)
    val batch = EnrichmentJoin.joinBatch(spark, pipeline.envelopes(spark)).toDF()
      .withColumn("procTime", procTime)
    val markers = Files.createTempDirectory("graft-replay-markers")
    def total(s: DocumentSink): Long =
      s.snapshot(spark).agg(sum(col("count"))).collect().head.getLong(0)

    pipeline.fanOut(batch, 0L, markers)
    val (docs, states, countries) = (canon(ua, "snap_order"), canon(st), canon(co))
    assert(total(st) == 60L && total(co) == 60L)
    pipeline.fanOut(batch, 0L, markers) // the replay
    assert(canon(ua, "snap_order") == docs)
    assert(canon(st) == states && canon(co) == countries)
    // a count sink whose own marker exists is skipped; the other still merges
    Files.createFile(markers.resolve("1.state"))
    pipeline.fanOut(batch, 1L, markers)
    assert(total(st) == 60L && total(co) == 120L)
    // a bare batch-id marker counts as both merges done
    Files.createFile(markers.resolve("2"))
    pipeline.fanOut(batch, 2L, markers)
    assert(total(st) == 60L && total(co) == 120L)
    // a new batch id is merged additively into both
    pipeline.fanOut(batch, 3L, markers)
    assert(total(st) == 120L && total(co) == 180L)
  }

  test("concurrent fan-out: tasks inherit local properties, all finish, first failure rethrown") {
    val sc = spark.sparkContext
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    sc.setLocalProperty("graft.test.group", "batch-7")
    try {
      val err = intercept[IllegalStateException] {
        Pipeline.runConcurrently(Seq(
          () => { Thread.sleep(300); seen.add(sc.getLocalProperty("graft.test.group")); slowDone.set(true) },
          () => throw new IllegalStateException("first"),
          () => { Thread.sleep(100); throw new IllegalArgumentException("second") }))
      }
      assert(err.getMessage == "first")
      assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
      assert(slowDone.get, "returned before every task finished")
      assert(seen.peek() == "batch-7")
    } finally sc.setLocalProperty("graft.test.group", null)

    // an interrupt (StreamingQuery.stop) does not cut the wait short
    val taskDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var doneAtReturn, interruptedAtReturn = false
    val caller = new Thread(() => {
      Pipeline.runConcurrently(Seq(
        () => { started.countDown(); Thread.sleep(300); taskDone.set(true) }))
      doneAtReturn = taskDone.get
      interruptedAtReturn = Thread.currentThread().isInterrupted
    })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join()
    assert(doneAtReturn, "returned before the task finished")
    assert(interruptedAtReturn, "the interrupt was swallowed")
  }

  test("full topology: snapshots upserted by userId; windowed counts by state/country") {
    val (uaSink, stSink, coSink) = runF2(() => new InMemoryDocumentSink)
    // S3: LWW by userId converges to the complete address list
    val u1doc = uaSink.get("u1").get
    val addrs = u1doc.getSeq[org.apache.spark.sql.Row](u1doc.fieldIndex("addresses"))
    assert(addrs.map(_.getString(0)).sorted == Seq("a1", "a2", "a3"))
    assert(uaSink.get("u2").exists(
      _.getSeq[Any](u1doc.fieldIndex("addresses")).isEmpty))

    // S1: over-counting per §2.1 — u1's minute window holds the snapshots
    // (u,[]),(u,[a1]),(u,[a1,a2]),(u,[a1,a2,a3]):
    // IL appears: a1 in 3 snapshots + a2 in 2 → 5; NY: a3 in 1 → 1
    assert(stSink.get("IL").map(_.getLong(2)).contains(5L))
    assert(stSink.get("NY").map(_.getLong(2)).contains(1L))
    // S2: BR = 5 (a1,a2), US = 1 (a3)
    assert(coSink.get("BR").map(_.getLong(2)).contains(5L))
    assert(coSink.get("US").map(_.getLong(2)).contains(1L))
  }

  test("event-time opt-in mode: late address dropped where processing-time mode admits it") {
    import graft.core.{Address, User}
    import graft.operators.{EnrichmentJoinTws, Envelope, TimedEnvelope}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val u1 = User("u1", "Maria", "u1@x.org", "F", ts("2026-01-01 10:00:10"))
    def addr(tag: String) = Address("u1", tag, "c", "IL", "z", "BR")
    // ---- event-time mode: watermark on eventTime, 0s lateness
    val etIn = MemoryStream[TimedEnvelope]
    val et = EnrichmentJoinTws.joinStreamEventTime(spark, etIn.toDS())
      .toDF().writeStream.format("memory").queryName("j1_et")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // ---- processing-time mode: the same interleaving, reference contract
    val ptIn = MemoryStream[Envelope]
    val pt = EnrichmentJoin.joinStream(spark, ptIn.toDS())
      .toDF().writeStream.format("memory").queryName("j1_pt")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user + on-time address at 10:00:10 — watermark advances
      // to 10:00:10 after this batch in the event-time query
      etIn.addData(TimedEnvelope.ofUser(u1, 0),
        TimedEnvelope.ofAddress(addr("a1"), ts("2026-01-01 10:00:10"), 1))
      ptIn.addData(Envelope.ofUser(u1, 0), Envelope.ofAddress(addr("a1"), 1))
      et.processAllAvailable(); pt.processAllAvailable()
      // batch 2: a LATE address (event time 09:59:50, behind the
      // watermark) then an on-time one at 10:00:30
      etIn.addData(
        TimedEnvelope.ofAddress(addr("late"), ts("2026-01-01 09:59:50"), 1),
        TimedEnvelope.ofAddress(addr("a3"), ts("2026-01-01 10:00:30"), 2))
      ptIn.addData(Envelope.ofAddress(addr("late"), 1),
        Envelope.ofAddress(addr("a3"), 2))
      et.processAllAvailable(); pt.processAllAvailable()

      def lastAddrs(table: String): Seq[String] = {
        val snaps = spark.sql(
          s"SELECT transform(addresses, x -> x.address) FROM $table")
          .collect().map(_.getSeq[String](0).toList)
        snaps.maxBy(_.length)
      }
      // THE DIVERGENCE: processing-time buffers the late address per the
      // reference contract (arrival order rules); event-time mode drops
      // rows behind the watermark before they reach the state machine
      assert(lastAddrs("j1_pt") == List("a1", "late", "a3"))
      assert(lastAddrs("j1_et") == List("a1", "a3"))
    } finally { et.stop(); pt.stop() }

    // ---- event-time TTL: the watermark, not wall clock, retires state
    val ttlIn = MemoryStream[TimedEnvelope]
    val ttl = EnrichmentJoinTws.joinStreamEventTime(spark, ttlIn.toDS(),
      stateTtl = Some(java.time.Duration.ofSeconds(10)))
      .toDF().writeStream.format("memory").queryName("j1_et_ttl")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // u1 + a1 at 10:00:10 — timer armed at 10:00:20 (event time)
      ttlIn.addData(TimedEnvelope.ofUser(u1, 0),
        TimedEnvelope.ofAddress(addr("a1"), ts("2026-01-01 10:00:10"), 1))
      ttl.processAllAvailable()
      // stranger key at 10:01:00 advances the watermark past the timer...
      val u9 = User("u9", "Zoe", "u9@x.org", "F", ts("2026-01-01 10:01:00"))
      ttlIn.addData(TimedEnvelope.ofUser(u9, 0))
      ttl.processAllAvailable()
      // ...so this batch fires u1's timer and clears its state; the new
      // address (user now unknown) buffers silently, no emission
      ttlIn.addData(TimedEnvelope.ofAddress(addr("a2"), ts("2026-01-01 10:01:10"), 1))
      ttl.processAllAvailable()
      // u1 re-registers: the snapshot contains ONLY the post-expiry
      // address — pre-expiry a1 was retired by the event-time TTL
      ttlIn.addData(TimedEnvelope.ofUser(
        u1.copy(registerDate = ts("2026-01-01 10:01:20")), 0))
      ttl.processAllAvailable()
      val snaps = spark.sql(
        "SELECT transform(addresses, x -> x.address) FROM j1_et_ttl")
        .collect().map(_.getSeq[String](0).toList)
      assert(snaps.contains(List("a2")), s"snapshots: ${snaps.toList}")
      assert(!snaps.exists(_ == List("a1", "a2")),
        s"TTL-expired a1 resurfaced: ${snaps.toList}")
    } finally ttl.stop()
  }
}
