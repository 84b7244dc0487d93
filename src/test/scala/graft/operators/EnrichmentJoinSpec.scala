package graft.operators

import graft.SparkSpecBase
import graft.core.{Address, User, UserAddress}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The five contract clauses of SURVEY.md §2.1 (reference
  * `/root/reference/src/main/java/Main.java:78-133`), scenarios F1–F6 of
  * FIXTURES.md §4, over the pure core, the batch path, and streaming.
  */
class EnrichmentJoinSpec extends SparkSpecBase {

  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private def u(id: String, name: String = "n") = User(id, name, s"$name@x", "F", ts)
  private def a(uid: String, tag: String) = Address(uid, tag, "c", s"S-$tag", "z", s"C-$tag")

  private def run(evs: Envelope*): Vector[UserAddress] =
    EnrichmentJoin.runKey(evs.iterator)._2.toVector

  test("F1: lone user emits snapshot with empty address list") {
    val out = run(Envelope.ofUser(u("u1")))
    assert(out == Vector(UserAddress(u("u1"), Vector())))
  }

  test("F2: user then 3 addresses → 4 cumulative prefix snapshots") {
    val out = run(
      Envelope.ofUser(u("u1"), 0),
      Envelope.ofAddress(a("u1", "a1"), 1),
      Envelope.ofAddress(a("u1", "a2"), 2),
      Envelope.ofAddress(a("u1", "a3"), 3))
    assert(out.map(_.addresses.map(_.address)) ==
      Vector(Seq(), Seq("a1"), Seq("a1", "a2"), Seq("a1", "a2", "a3")))
  }

  test("F3: addresses before user are silently buffered — no emission") {
    val out = run(
      Envelope.ofAddress(a("u1", "a1"), 0),
      Envelope.ofAddress(a("u1", "a2"), 1))
    assert(out.isEmpty)
  }

  test("F4: address buffered before user is included once user arrives") {
    val out = run(
      Envelope.ofAddress(a("u1", "a1"), 0),
      Envelope.ofUser(u("u1"), 1),
      Envelope.ofAddress(a("u1", "a2"), 2))
    assert(out.map(_.addresses.map(_.address)) ==
      Vector(Seq("a1"), Seq("a1", "a2")))
  }

  test("F5: duplicate addresses accumulate — NO dedup") {
    val out = run(
      Envelope.ofUser(u("u1"), 0),
      Envelope.ofAddress(a("u1", "a1"), 1),
      Envelope.ofAddress(a("u1", "a1"), 2))
    assert(out.last.addresses.map(_.address) == Seq("a1", "a1"))
  }

  test("F6: re-sent user overwrites attributes (last-write-wins) and re-emits") {
    val out = run(
      Envelope.ofUser(u("u1", "old"), 0),
      Envelope.ofAddress(a("u1", "a1"), 1),
      Envelope.ofUser(u("u1", "new"), 2))
    assert(out.map(_.user.name) == Vector("old", "old", "new"))
    assert(out.last.addresses.map(_.address) == Seq("a1"))
  }

  test("batch path: per-key ordering by seq, keys independent") {
    import spark.implicits._
    val evs = Seq(
      Envelope.ofAddress(a("u1", "a1"), 2),
      Envelope.ofUser(u("u1"), 1),
      Envelope.ofUser(u("u2"), 1),
      Envelope.ofAddress(a("u2", "b1"), 0)) // before its user → buffered
    val out = EnrichmentJoin.joinBatch(spark, evs.toDS()).collect()
    val byUser = out.groupBy(_.user.id).view.mapValues(_.length).toMap
    assert(byUser == Map("u1" -> 2, "u2" -> 1))
  }

  test("streaming path: state persists across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Envelope]
    val joined = EnrichmentJoin.joinStream(spark, input.toDS())
    val q = joined.writeStream
      .format("memory").queryName("j1_stream")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def rows(uid: String): Seq[(String, List[String])] = spark.sql(
      s"SELECT user.name, transform(addresses, x -> x.address) FROM j1_stream WHERE user.id = '$uid'")
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toList)).toSeq
    try {
      // u1: user, then one address per batch; u2 (F3/F4): an address
      // buffered before its user, then a rename (F6) in a later batch
      input.addData(Envelope.ofUser(u("u1"), 0), Envelope.ofAddress(a("u2", "b0"), 0))
      q.processAllAvailable()
      assert(rows("u2").isEmpty) // buffered silently
      input.addData(Envelope.ofAddress(a("u1", "a1"), 1), Envelope.ofUser(u("u2"), 1))
      q.processAllAvailable()
      input.addData(Envelope.ofAddress(a("u1", "a2"), 2), Envelope.ofAddress(a("u2", "b1"), 2))
      q.processAllAvailable()
      input.addData(Envelope.ofUser(u("u2", "renamed"), 3))
      q.processAllAvailable()
      // [], [a1], [a1,a2] — cumulative across batches
      assert(rows("u1").map(_._2.size).sorted == Seq(0, 1, 2))
      val u2 = rows("u2")
      assert(u2.map(_._2.size).sorted == Seq(1, 2, 2))
      // the rename re-emits with the whole list; the buffered b0 leads
      // every emission
      assert(u2.exists { case (n, ad) => n == "renamed" && ad == List("b0", "b1") })
      assert(u2.forall(_._2.head == "b0"))
    } finally q.stop()
  }

  test("checkpoint recovery at large key count: restart resumes 20k-key state intact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = java.nio.file.Files.createTempDirectory("graft-j1-recovery").toString
    val n = 20000
    val input = MemoryStream[Envelope]
    val counts = new java.util.concurrent.atomic.AtomicLong()
    def runWave(): Unit = {
      val q = EnrichmentJoin.joinStream(spark, input.toDS())
        .toDF().select(org.apache.spark.sql.functions.col("user.id"))
        .writeStream
        .option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          counts.addAndGet(b.count()); ()
        }
        .start()
      q.awaitTermination(300000)
      q.stop()
    }
    // wave 1: n users → n snapshot emissions, state = n keys
    input.addData((0 until n).map(i => Envelope.ofUser(u(i.toString), 0)): _*)
    runWave()
    assert(counts.get() == n.toLong)
    // wave 2 RESUMES the checkpoint at n keys: one address per existing
    // key must emit exactly one snapshot each — possible only if the
    // restarted store still holds every buffered user
    input.addData((0 until n).map(i => Envelope.ofAddress(a(i.toString, s"addr$i"), 1)): _*)
    runWave()
    assert(counts.get() == 2L * n,
      s"expected ${2L * n} total emissions after recovery, got ${counts.get()}")
  }

  test("TTL branch: timed-out key's state is removed; TTL is re-armed on data") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val ttl = Some(java.time.Duration.ofMinutes(5))
    // data batch: state written and timeout armed
    val st = TestGroupState.create[EnrichmentJoin.JoinState](
      optionalState = Optional.empty[EnrichmentJoin.JoinState](),
      timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    val out = EnrichmentJoin.stateFunc(ttl)("u1", Iterator(Envelope.ofUser(u("u1"))), st).toVector
    assert(out.length == 1 && st.exists)
    assert(st.getTimeoutTimestampMs.isPresent) // TTL armed
    // timeout batch: state dropped, nothing emitted
    val st2 = TestGroupState.create[EnrichmentJoin.JoinState](
      optionalState = Optional.of(st.get),
      timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 2000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val out2 = EnrichmentJoin.stateFunc(ttl)("u1", Iterator.empty, st2).toVector
    assert(out2.isEmpty && st2.isRemoved)
  }
}
