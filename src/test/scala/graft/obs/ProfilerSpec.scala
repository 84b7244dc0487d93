package graft.obs

import graft.SparkSpecBase
import org.apache.spark.sql.functions.col
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

class ProfilerSpec extends SparkSpecBase {
  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("reads jobs and exchange rows off the final adaptive plan that ran") {
    val p = Profiler.attach(spark)
    assert(Profiler.attach(spark) eq p)
    // one input partition, so the partial aggregate writes exactly 10 rows.
    // Not `spark.range(0, 1000, 1, 1)`: a one-slice range reports
    // SinglePartition, which the aggregate accepts without an Exchange.
    import spark.implicits._
    val ids = spark.sparkContext.parallelize(0L until 1000L, 1).toDF("id")
    val rec = p.profile("agg") {
      noop(ids.groupBy(col("id") % 10).count())
    }
    assert(rec.jobs >= 1 && rec.stages >= 1 && rec.tasks >= 1)
    assert(rec.finalPlan, rec.json)
    assert(rec.nodes.filter(_.op == "Exchange").map(_.rows) == Seq(10L), rec.json)
    assert(rec.driverMs >= 0 && rec.driverMs <= rec.wallMs)
    assert(rec.topStages.nonEmpty && rec.topStages.size <= 3)
    // the map stage is linked to the exchange it writes
    val shuffle = rec.nodes.find(_.op == "Exchange").flatMap(_.shuffle)
    assert(shuffle.isDefined && rec.topStages.exists(_.shuffle == shuffle), rec.json)
  }

  test("jobs a body starts on other threads belong to its record") {
    val p = Profiler.attach(spark)
    val rec = p.profile("futures") {
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = (1 to 2).map(_ => Future(spark.range(0, 100, 1, 2).count()))
      Await.result(Future.sequence(fs), Duration.Inf)
    }
    assert(rec.jobs >= 2, rec.json)
    assert(rec.tasks >= 4, rec.json)
  }

  test("a body that throws leaves the next record clean") {
    val p = Profiler.attach(spark)
    val boom = intercept[RuntimeException] {
      p.profile("throws") {
        spark.range(0, 1000, 1, 4).count()
        throw new RuntimeException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    val rec = p.profile("after") { noop(spark.range(0, 10, 1, 1).toDF()) }
    assert(rec.jobs == 1 && rec.tasks == 1, rec.json)
    assert(rec.nodes.isEmpty, rec.json)
  }
}
