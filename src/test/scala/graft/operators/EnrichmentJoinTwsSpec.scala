package graft.operators

import graft.SparkSpecBase
import graft.core.{Address, User}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The event-time `transformWithState` processor folds each key's batch
  * through `EnrichmentJoin.step` and writes back only what the fold
  * changed: the user when it changed, and the batch's new addresses as one
  * append to the stored list.
  */
class EnrichmentJoinTwsSpec extends SparkSpecBase {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $s")
  private def u(name: String, at: String) = User("u1", name, s"$name@x", "F", ts(at))
  private def a(tag: String, at: String) =
    TimedEnvelope.ofAddress(Address("u1", tag, "c", "IL", "z", "BR"), ts(at))

  test("cumulative snapshots across micro-batches (RocksDB ListState)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TimedEnvelope]
    val q = EnrichmentJoinTws.joinStreamEventTime(spark, input.toDS())
      .toDF().writeStream.format("memory").queryName("j1_et_cumulative")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // F3/F4: address before user buffers silently, then flows
      input.addData(a("a0", "10:00:00"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM j1_et_cumulative").count() == 0)
      input.addData(TimedEnvelope.ofUser(u("n", "10:00:01")))
      q.processAllAvailable()
      input.addData(a("a1", "10:00:02"))
      q.processAllAvailable()
      // F6: user re-send, last-write-wins
      input.addData(TimedEnvelope.ofUser(u("renamed", "10:00:03")))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user.name, transform(addresses, x -> x.address) AS addrs FROM j1_et_cumulative")
        .collect().map(r => (r.getString(0), r.getSeq[String](1).toList))
      assert(rows.length == 3)
      assert(rows.map(_._2.size).sorted.toSeq == Seq(1, 2, 2))
      // buffered a0 present in the first emission; rename visible in the last
      assert(rows.exists { case (n, ad) => n == "renamed" && ad == List("a0", "a1") })
      assert(rows.forall(_._2.head == "a0"))
    } finally q.stop()
  }

  test("event-time mode: each batch appends only its new addresses to the stored list") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TimedEnvelope]
    val q = EnrichmentJoinTws.joinStreamEventTime(spark, input.toDS())
      .toDF().writeStream.format("memory").queryName("j1_et_append")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(TimedEnvelope.ofUser(u("Maria", "10:00:00")), a("a1", "10:00:01"))
      q.processAllAvailable()
      input.addData(a("a2", "10:00:02"))
      q.processAllAvailable()
      // the rename sorts before the address (seq 0 < 1) and re-emits the
      // stored list; the third batch reads what the first two stored
      input.addData(TimedEnvelope.ofUser(u("Renamed", "10:00:04")), a("a3", "10:00:03"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user.name, transform(addresses, x -> x.address) FROM j1_et_append")
        .collect().map(r => (r.getString(0), r.getSeq[String](1).toList)).toSet
      assert(rows == Set(
        ("Maria", Nil), ("Maria", List("a1")), ("Maria", List("a1", "a2")),
        ("Renamed", List("a1", "a2")), ("Renamed", List("a1", "a2", "a3"))))
    } finally q.stop()
  }
}
