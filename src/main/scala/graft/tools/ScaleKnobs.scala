package graft.tools

import org.apache.spark.sql.SparkSession

/** The session conf that depends on the input's scale. Sessions take it
  * through [[graft.Sessions.local]].
  */
object ScaleKnobs {
  /** Codegen class cache (static conf, default 100 entries): a suite of
    * 161 distinct queries compiles ~1000+ whole-stage/expression codegen
    * units, so the default cache thrashes and every bench pass re-pays
    * Janino compilation for almost every stage. 4096 entries holds the
    * full suite; scale-neutral (any long-lived app with many distinct
    * plans — a real cluster driver included — wants the same).
    */
  val codegenCacheEntries = 4096L

  private def apply(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.iterator.map(dirBytes).sum).getOrElse(0L)

  /** [[apply]] plus SCALE-ADAPTIVE shuffle width derived from the input
    * directory's size (round 16): a fixed
    * `initialPartitionNum = cpus` is tuned for exactly one scale — at
    * the 100× replica the posting-join tail spills into 32 reducers
    * (measured: q117 55.6 s → 29.1 s, q116 19.5 → 14.0, q84 27.5 → 21.3
    * warm at 100× with 256 initial partitions) while 256 initial
    * partitions at sf0.1 pay ~+5 s of map-output/planning overhead
    * across the suite. Deriving `initial = clamp(bytes/8 MB, cpus,
    * 16·cpus)` gives each scale its own width and lets AQE coalesce
    * down per stage. The 8 MB ADVISORY (vs the 64 MB default) is the
    * matching coalesce target: advisory is measured in compressed WIRE
    * bytes and the explode-heavy posting shuffles expand ~10× in
    * memory, so 8 MB wire ≈ 80 MB in-memory — the optimization guide's
    * recommended partition size — where 64 MB wire re-merged the wide
    * shuffles AQE was just given room for (measured −4.4 s at sf0.1 on
    * its own, 137/161 queries improving). Widening `initialPartitionNum`
    * alone is undone by AQE coalescing back to the 64 MB advisory, so the
    * two are set together.
    */
  def forDir(builder: SparkSession.Builder, dataDir: String,
      cpus: Int): SparkSession.Builder = {
    val c = math.max(cpus, 1).toLong
    val derived = math.max(c,
      math.min(c * 16, dirBytes(new java.io.File(dataDir)) / (8L << 20)))
    apply(builder
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        derived.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m"))
  }
}
