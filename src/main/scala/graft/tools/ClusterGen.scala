package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Clusterable-embedding fixture generator — the data the ANN recall
  * audits need to be MEANINGFUL. The driver fixture's embeddings are
  * uniform on the sphere (and [[ScaleGen]]'s rotation+flip replication
  * preserves uniformity), so IVF recall@10 on them floors at 0.19–0.38
  * at the derived operating points (`recall_compare_r12.json`): a coarse
  * quantizer cannot cluster noise, and quantizer/nprobe choices move
  * recall by amounts indistinguishable from sampling error. Every
  * operating point the audit family (q78/q137/q152/q156, RecallCompare)
  * had priced was therefore a FLOOR measurement, not a recall curve.
  *
  * This tool plants a mixture of spherical Gaussians instead — the
  * regime real embedding corpora live in (semantic neighborhoods =
  * modes) and the one IVF's whole design assumes:
  *
  *  - cluster count grows with the corpus at FIXED expected cluster
  *    size (`n / clusterSize`): a 100× corpus has 100× the semantic
  *    neighborhoods, not 100×-fatter ones — the realistic scale shape,
  *    and the adversarial one for a ⌈√N⌉-list quantizer, whose lists
  *    must each absorb ~√N/clusterSize whole clusters;
  *  - cluster centers are unit vectors from a fixed-seed PRNG
  *    (driver-side, `nlist`-bounded by construction — at most n/64
  *    rows, broadcast to the generator join);
  *  - each point = unit-normalized (center + sigma·g), g a per-(id,
  *    component) Box–Muller gaussian derived from `xxhash64` — fully
  *    deterministic in (vec_id, params), independent of partitioning,
  *    so the fixture replays bit-identically run to run;
  *  - cluster assignment is `xxhash64(vec_id)`-keyed, NOT id-ordered:
  *    low ids are a uniform sample of clusters, so the seed-sample
  *    quantizer is not artificially advantaged or penalized by id
  *    layout;
  *  - `label = cluster % 10` (cluster-pure labels, the semi-supervised
  *    propagation premise) and the schema is exactly the driver
  *    fixture's `embeddings` table (vec_id long, embedding
  *    array<float>, label int), so every registered query runs on the
  *    generated dir unchanged.
  *
  * sigma calibrates separation: noise norm ≈ sigma·√dim relative to the
  * unit center. sigma=0.09 at dim=64 gives intra-cluster cosine ≈ 0.66
  * and cross-cluster ≈ 0 — true neighbors are unambiguous (cluster
  * mates), while cluster boundaries still split across coarse lists,
  * which is exactly what nprobe and quantizer quality trade against.
  *
  * Usage: runMain graft.tools.ClusterGen <dst> [n] [sigma] [clusterSize]
  */
object ClusterGen {

  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/clust1x")
    val n = args.lift(1).map(_.toLong).getOrElse(2000L)
    val sigma = args.lift(2).map(_.toDouble).getOrElse(0.09)
    val clusterSize = args.lift(3).map(_.toInt).getOrElse(64)
    val labelMode = args.lift(4).getOrElse("cluster")
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, dst, n, sigma = sigma, clusterSize = clusterSize,
      labelMode = labelMode)
    spark.stop()
  }

  /** One uniform double in (0, 1), a pure function of the hash inputs.
    * 2^40 buckets keep the value comfortably inside double precision;
    * the +0.5 centers each bucket away from the log(0) pole.
    */
  private def unif(cols: Column*): Column =
    (pmod(xxhash64(cols: _*), lit(1L << 40)).cast("double") + lit(0.5)) /
      lit((1L << 40).toDouble)

  /** Standard gaussian via Box–Muller from two independent hash draws. */
  private def gauss(id: Column, k: Column, tag: String): Column =
    sqrt(lit(-2.0) * log(unif(id, k, lit(tag + ":u1")))) *
      cos(lit(2.0 * math.Pi) * unif(id, k, lit(tag + ":u2")))

  /** `labelMode`:
    *  - `"cluster"` (default) — `label = cluster % 10`: cluster-PURE
    *    labels, the semi-supervised propagation premise (a target's
    *    same-cluster seeds carry its true label). NOTE this makes the
    *    MINING families degenerate by construction: label-0 sources and
    *    label-1 seeds never share a semantic cluster, so exact
    *    frozen-index mining at the 1.02 margin threshold finds ~nothing
    *    (measured: 0 mined at 1×) and a mining-recall row on this
    *    fixture prices an empty decision set.
    *  - `"hash"` — `label = xxhash64(vec_id) % 10`, independent of the
    *    cluster: every cluster carries both sides, so cross-label mined
    *    pairs are same-cluster semantic neighbors — the
    *    translation/paraphrase-pair geometry the margin miner exists
    *    for, and the fixture the mining recall grid is measured on.
    */
  def generate(spark: SparkSession, dst: String, n: Long, dim: Int = 64,
      clusterSize: Int = 64, sigma: Double = 0.09,
      seed: Long = 0x5eedL, labelMode: String = "cluster"): Unit = {
    require(n >= 1 && dim >= 2 && clusterSize >= 1)
    require(labelMode == "cluster" || labelMode == "hash",
      s"labelMode must be cluster|hash, got $labelMode")
    val nClusters = math.max(1L, n / clusterSize).toInt
    // centers: fixed-seed PRNG, unit-normalized — bounded driver work
    // (n/clusterSize rows), broadcast below
    val rng = new scala.util.Random(seed)
    val centers: Seq[(Int, Seq[Double])] = (0 until nClusters).map { ci =>
      val v = Array.fill(dim)(rng.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (ci, v.map(_ / nrm).toSeq)
    }
    import spark.implicits._
    val centDf = centers.toDF("_c", "_center")
    val noise = transform(sequence(lit(0), lit(dim - 1)),
      k => gauss(col("vec_id"), k, "clustergen-noise"))
    val raw = zip_with(col("_center"), noise,
      (cv, g) => cv + lit(sigma) * g)
    spark.range(n).toDF("vec_id")
      .withColumn("_c",
        pmod(xxhash64(col("vec_id"), lit("clustergen-assign")),
          lit(nClusters.toLong)).cast("int"))
      .join(broadcast(centDf), "_c")
      .withColumn("_raw", raw)
      .withColumn("_nrm",
        sqrt(aggregate(col("_raw"), lit(0.0), (a, x) => a + x * x)))
      .select(col("vec_id"),
        transform(col("_raw"), x => x / col("_nrm"))
          .cast("array<float>").as("embedding"),
        (if (labelMode == "cluster") pmod(col("_c"), lit(10))
         else pmod(xxhash64(col("vec_id"), lit("clustergen-label")),
           lit(10L))).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"[clustergen] wrote n=$n dim=$dim clusters=$nClusters " +
      s"sigma=$sigma labelMode=$labelMode to $dst")
  }
}
