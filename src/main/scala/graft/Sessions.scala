package graft

import org.apache.spark.sql.SparkSession

/** The one way the project builds a SparkSession: the mains, the tools and
  * the test suite all run on the same conf, so a result measured by one
  * holds for the others.
  */
object Sessions {
  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC, no UI,
    * the graft SQL extensions, a 4096-entry codegen cache and the RocksDB
    * state store. With `sizeFor = Some(dir)` the shuffle width is also
    * derived from `dir`'s size, as [[graft.tools.ScaleKnobs.forDir]] does.
    */
  def local(cpus: Int, sizeFor: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", graft.tools.ScaleKnobs.codegenCacheEntries)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    sizeFor.fold(b)(graft.tools.ScaleKnobs.forDir(b, _, cpus)).getOrCreate()
  }
}
