package graft.tools

import graft.Sessions
import graft.obs.Profiler

/** Inspect tool: time named queries at a given sf dir, each result written
  * in full to the `noop` sink as `graft.Bench` times it, then print the
  * last run's layers record (one JSON line) and its final plan.
  *
  * Usage: `QTime <sfDir> <query>...`; `SPARK_GRAFT_RUNS` runs per query
  * (default 2).
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf3")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q68_ivf_sq8", "q61_ivf_indexed")
    val spark = Sessions.local(32, Some(dir))
    spark.sparkContext.setLogLevel("ERROR")
    val profiler = Profiler.attach(spark)
    val runs = sys.env.get("SPARK_GRAFT_RUNS")
      .map(s => s.trim.toIntOption.getOrElse(
        sys.error(s"SPARK_GRAFT_RUNS must be an integer, got '$s'")))
      .getOrElse(2)
    for (q <- names) {
      val layers = (1 to runs).map { i =>
        val t0 = System.nanoTime()
        val rec = profiler.profile(q) {
          graft.queries.Queries.all(q)(spark, dir).write.format("noop").mode("overwrite").save()
        }
        println(f"$q run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        rec
      }
      layers.lastOption.foreach(r => println(r.json))
      profiler.lastExecution.foreach(qe =>
        println(qe.explainString(org.apache.spark.sql.execution.FormattedMode)))
    }
    spark.stop()
  }
}
