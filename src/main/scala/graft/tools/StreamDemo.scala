package graft.tools

import graft.core.Schemas
import graft.operators.{EnrichmentJoin, Envelope}
import graft.sources.{FileIngestSource, FixtureGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming demo: seeded fixture files → streaming file source
  * → wire-format parse → `flatMapGroupsWithState` enrichment join (RocksDB
  * state store) → console-style collected output. Runnable smoke of the full
  * streaming topology outside the test harness.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-demo").toString
    FixtureGenerator.writeFiles(dir, seed = 42L)
    val spark = graft.Sessions.local(4)
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val source = new FileIngestSource(dir, streaming = true)
    val users = Schemas.parseUsers(source.users(spark)).map(Envelope.ofUser(_, 0L))
    val addrs = Schemas.parseAddresses(source.addresses(spark)).map(Envelope.ofAddress(_, 1L))
    val snapshots = EnrichmentJoin.joinStream(spark, users.unionByName(addrs))

    val q = snapshots.toDF()
      .select(col("user.id").as("userId"), col("user.name").as("name"),
        size(col("addresses")).as("n_addresses"))
      .writeStream.format("memory").queryName("demo")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.sql(
      "SELECT n_addresses, COUNT(*) AS emissions FROM demo GROUP BY 1 ORDER BY 1")
    println("DEMO snapshot emissions by address-list size:")
    out.collect().foreach(r => println(s"DEMO   size=${r.get(0)} emissions=${r.get(1)}"))
    val total = spark.sql("SELECT COUNT(*) FROM demo").collect().head.getLong(0)
    println(s"DEMO total emissions=$total (expect 40 = 10 users x 4 cumulative snapshots)")
    spark.stop()
  }
}
