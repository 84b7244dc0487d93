package graft.sources

import graft.SparkSpecBase
import graft.app.Pipeline
import graft.core.Schemas
import graft.sinks.InMemoryDocumentSink
import org.apache.spark.sql.functions._

/** G1 + golden end-to-end: the seeded generator writes the reference
  * producer's exact wire shapes (FIXTURES.md §1-2); the pipeline's
  * per-batch fan-out over those files must converge to the complete
  * per-user address lists and the expected over-counted window totals.
  */
class FixtureGeneratorSpec extends SparkSpecBase {

  test("wire shapes parse losslessly through D1/D2") {
    import spark.implicits._
    val fs = FixtureGenerator.fixtures(seed = 42L)
    assert(fs.length == 10 && fs.forall(_.addresses.length == 3))
    val users = Schemas.parseUsers(fs.map(f => FixtureGenerator.userJson(f.user)).toDF("value"))
      .collect().sortBy(_.id)
    assert(users.toSeq == fs.map(_.user).sortBy(_.id))
    val addrs = Schemas.parseAddresses(
      fs.flatMap(_.addresses.map(FixtureGenerator.addressJson)).toDF("value"))
      .collect().toSet
    assert(addrs == fs.flatMap(_.addresses).toSet)
  }

  test("golden run: file source -> batch pipeline -> sink convergence") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixtures").toString
    val markers = java.nio.file.Files.createTempDirectory("graft-fixture-markers")
    val fs = FixtureGenerator.writeFiles(dir, seed = 42L)
    val source = new FileIngestSource(dir, streaming = false)
    val uaSink = new InMemoryDocumentSink
    val stSink = new InMemoryDocumentSink
    val coSink = new InMemoryDocumentSink
    val pipeline = new Pipeline(source, uaSink, stSink, coSink,
      procTimeExpr = lit("2026-01-01 10:00:30").cast("timestamp"))
    // batch replay: J1 in deterministic batch mode over the parsed files,
    // fanned out as one micro-batch of the streaming topology
    val envelopes = pipeline.envelopes(spark)
    val snapshots = graft.operators.EnrichmentJoin.joinBatch(spark, envelopes).toDF()
      .withColumn("procTime", lit("2026-01-01 10:00:30").cast("timestamp"))
    pipeline.fanOut(snapshots, 0L, markers)

    // S3 golden: one doc per user, full 3-address list
    assert(uaSink.size == 10)
    val row = uaSink.get(fs.head.user.id).get
    assert(row.getSeq[Any](row.fieldIndex("addresses")).size == 3)
    // S1 golden: total over-counted address rows = 10 users × (1+2+3) = 60,
    // all within the single 10:00 window
    val st = stSink.snapshot(spark).agg(sum(col("count"))).collect().head.getLong(0)
    assert(st == 60L)
    val co = coSink.snapshot(spark).agg(sum(col("count"))).collect().head.getLong(0)
    assert(co == 60L)
  }
}
