package graft.sinks

import graft.SparkSpecBase

/** S1–S3 contract (SURVEY.md §2.2): idempotent last-write-wins upsert by one
  * key field; keys absent from a later batch keep their STALE value.
  */
class DocumentSinkSpec extends SparkSpecBase {
  import spark.implicits._

  test("in-memory sink: LWW upsert + staleness") {
    val sink = new InMemoryDocumentSink
    sink.upsert(Seq(("IL", 3L), ("NY", 5L)).toDF("state", "cnt"), "state")
    sink.upsert(Seq(("IL", 9L)).toDF("state", "cnt"), "state")
    assert(sink.size == 2)
    assert(sink.get("IL").get.getLong(1) == 9L) // overwritten
    assert(sink.get("NY").get.getLong(1) == 5L) // stale value persists
  }

  test("in-memory sink: within-batch winner by orderCol") {
    val sink = new InMemoryDocumentSink
    sink.upsert(
      Seq(("IL", 1L, 10L), ("IL", 2L, 20L), ("NY", 7L, 5L)).toDF("state", "cnt", "v"),
      "state", orderCol = Some("v"))
    assert(sink.get("IL").get.getLong(1) == 2L) // v=20 wins
  }

  test("parquet sink: versioned copy-on-write upsert, reread across versions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val sink = new ParquetDocumentSink(dir)
    sink.upsert(Seq(("u1", "a"), ("u2", "b")).toDF("userId", "payload"), "userId")
    sink.upsert(Seq(("u2", "B2"), ("u3", "c")).toDF("userId", "payload"), "userId")
    val out = sink.snapshot(spark).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("u1" -> "a", "u2" -> "B2", "u3" -> "c"))
  }

  test("parquet sink: a batch row beats an existing row with a larger orderCol") {
    // snap_order restarts every batch, so the existing row can carry the
    // larger stamp; an order-by-orderCol merge would keep the stale row
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-order").toString
    val sink = new ParquetDocumentSink(dir)
    sink.upsert(Seq(("u1", "old", 100L)).toDF("userId", "payload", "o"), "userId", Some("o"))
    sink.upsert(Seq(("u1", "new", 0L)).toDF("userId", "payload", "o"), "userId", Some("o"))
    assert(sink.snapshot(spark).collect().map(_.getString(1)).toSeq == Seq("new"))
  }

  test("parquet sink: within-batch winner by orderCol, stale keys persist") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-lww").toString
    val sink = new ParquetDocumentSink(dir)
    sink.upsert(Seq(("IL", 1L, 50L), ("NY", 5L, 50L)).toDF("state", "cnt", "v"),
      "state", Some("v"))
    sink.upsert(Seq(("IL", 2L, 20L), ("IL", 3L, 10L), ("TX", 4L, 1L)).toDF("state", "cnt", "v"),
      "state", Some("v"))
    val out = sink.snapshot(spark).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("IL" -> 2L, "NY" -> 5L, "TX" -> 4L))
  }

  test("parquet sink: each upsert writes one whole-table version, then flips _VERSION") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-sink-versions").toString
    val sink = new ParquetDocumentSink(dir)
    val versionFile = s"$dir/_VERSION"
    // evaluated inside the write job: records the marker as the write saw it
    val seenVersion = org.apache.spark.sql.functions.udf { () =>
      val f = Paths.get(versionFile)
      if (Files.exists(f)) Files.readString(f) else "none"
    }.asNondeterministic()
    def upsert(rows: (String, String)*): Unit =
      sink.upsert(rows.toDF("id", "payload").withColumn("seen", seenVersion()), "id")
    upsert("a" -> "1", "b" -> "1")
    upsert("b" -> "2")
    upsert("c" -> "3")
    val versions = new java.io.File(dir).list().filter(_.startsWith("v")).sorted.toSeq
    assert(versions == Seq("v0", "v1", "v2"))
    assert(Files.readString(Paths.get(versionFile)) == "2")
    def table(v: Int): Map[String, (String, String)] =
      spark.read.parquet(s"$dir/v$v").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // every version holds the whole table; the marker still named the
    // previous version while the new one was being written
    assert(table(1) == Map("a" -> ("1", "none"), "b" -> ("2", "0")))
    assert(table(2) == Map("a" -> ("1", "none"), "b" -> ("2", "0"), "c" -> ("3", "1")))
  }

  test("parquet sink: a reader concurrent with upserts never sees a half-written _VERSION") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-flip").toString
    val sink = new ParquetDocumentSink(dir)
    sink.upsert(Seq(("k", 0L)).toDF("id", "v"), "id")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val reader = new Thread(() =>
      try while (!stop.get) { sink.snapshotOption(spark); reads.incrementAndGet() }
      catch { case e: Throwable => failure.set(e) })
    reader.start()
    try (1 to 50).foreach(i => sink.upsert(Seq(("k", i.toLong)).toDF("id", "v"), "id"))
    finally { stop.set(true); reader.join() }
    assert(failure.get == null, s"reader failed: ${failure.get}")
    assert(reads.get > 0)
    assert(sink.snapshot(spark).collect().head.getLong(1) == 50L)
  }

  test("parquet sink vacuum keeps the newest versions and the table stays readable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vac").toString
    val sink = new ParquetDocumentSink(dir)
    (1 to 5).foreach(i => sink.upsert(Seq(("k", i.toLong)).toDF("id", "v"), "id"))
    sink.vacuum(keep = 2)
    val versions = new java.io.File(dir).list().filter(_.startsWith("v")).sorted
    assert(versions.toSeq == Seq("v3", "v4"))
    assert(sink.snapshot(spark).collect().head.getLong(1) == 5L)
  }

  test("idempotent: re-upserting the same batch changes nothing (reprocess safety)") {
    val sink = new InMemoryDocumentSink
    val batch = Seq(("IL", 3L)).toDF("state", "cnt")
    sink.upsert(batch, "state")
    sink.upsert(batch, "state")
    assert(sink.size == 1 && sink.get("IL").get.getLong(1) == 3L)
  }
}
