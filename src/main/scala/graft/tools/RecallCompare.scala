package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** Quantizer-quality probe: recall@10 of the batched IVF search under
  * the graded SEED-SAMPLE quantizer (`sampleCentroids` — the smallest-id
  * embeddings, what q132/q137/q152/q154–q157 register), the uniform
  * hash-sample, and the k-means refinements (float 2-iter and the
  * graded exact-Lloyd 1/2-iter forms) at the SAME derived-⌈√N⌉
  * operating point, measured by the budgeted audit (q152's shape: the
  * 256 smallest-uniform-hash members of the %10 probe pool, exact
  * ground truth per audited probe).
  *
  * Round-11 adjudication context: the k-means path exists and is
  * spec-pinned, but the graded chain registers the seed sample because
  * its centroid list is replayable by an external oracle with ORDER BY
  * id alone, where Lloyd rounds would need distributed float mean
  * replays (sum-order-sensitive across engines). On a skewed or
  * id-ordered corpus the seed sample could be a biased quantizer —
  * recall, not cost, would be the casualty — so this tool MEASURES the
  * gap instead of arguing it.
  *
  * Round-13 extension (verdict item 1): the probe sweeps NPROBE
  * (`SPARK_GRAFT_NPROBES`, default "3" — comma-separated) and also
  * reports the q156-form propagation recall
  * ([[Similarity.knnPropagationRecallAudit]], seed = id%3, 256 audited
  * targets) at each nprobe, so one run prices the full (quantizer,
  * nprobe) grid. Run it on BOTH fixtures: the driver's uniform-random
  * embeddings (where recall floors — committed r12 evidence) and the
  * [[ClusterGen]] planted-cluster fixture (where the curve is real).
  *
  * Usage: runMain graft.tools.RecallCompare <sfDir> [<sfDir> ...]
  * Prints one JSON line per (dir, nprobe).
  *
  * `SPARK_GRAFT_RECALL_FAMILIES` (default `all`) restricts the work to
  * a comma-set of {`quantizers`, `propagation`, `mining`}: big-fixture
  * grid sweeps (≥1M rows) price ONE family's open question without
  * paying the others — the five quantizer-variant builds (kmeans-exact
  * at 1M dominates a run) and each audit gate independently.
  * Round-16: the mining index is built + materialized ONCE per dir and
  * the per-nprobe audits run against it ([[graft.ext.Similarity
  * .marginMiningRecallAuditIndexed]]) — a 5-nprobe sweep previously
  * re-paid the quadratic within-cluster hubness build 5×.
  */
object RecallCompare {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallCompare <sfDir> [<sfDir> ...]")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(32)
    val nprobes = sys.env.getOrElse("SPARK_GRAFT_NPROBES", "3")
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt)
    // an empty list would still pay the full quantizer builds and then
    // print NOTHING — a sweep script would record success with no grid
    require(nprobes.nonEmpty,
      "SPARK_GRAFT_NPROBES parsed to an empty list")
    val familyNames = Set("quantizers", "propagation", "mining")
    val families: Set[String] = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_RECALL_FAMILIES", "all")
      if (raw == "all") familyNames
      else {
        val fs = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(fs.nonEmpty && fs.subsetOf(familyNames),
          s"SPARK_GRAFT_RECALL_FAMILIES must be 'all' or a comma-set of " +
            s"${familyNames.mkString("|")}, got '$raw'")
        fs
      }
    }
    val spark = graft.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- args) {
      val emb = graft.core.Tables.load(spark, dir, "embeddings")
      val n = emb.count()
      val nlist = Similarity.indexParams(n).nlist
      val queries = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val doQuant = families("quantizers")
      val doProp = families("propagation")
      val doMine = families("mining")
      // quantizers are nprobe-independent: build each ONCE per dir
      val variants: Seq[(String, Seq[(Int, Seq[Float])])] =
        if (!doQuant) Seq.empty else Seq(
          "seed_sample" -> Similarity.sampleCentroids(emb, nlist),
          "hash_sample" -> Similarity.hashSampleCentroids(emb, nlist),
          "kmeans_float2" -> Similarity.autoCentroids(emb, iters = 2, n = n),
          "kmeans_exact1" -> Similarity.kmeansCentroidsExact(emb, nlist,
            iters = 1),
          "kmeans_exact2" -> Similarity.kmeansCentroidsExact(emb, nlist,
            iters = 2))
      // is the 10000-row degenerate-cluster cap binding on this
      // fixture? (nprobe-independent — the propagation audit drops
      // buckets by TOTAL membership over its derived quantizer)
      val cappedBuckets = Similarity.assignBuckets(emb,
          Similarity.sampleCentroids(emb, nlist))
        .groupBy(col("bucket")).count()
        .filter(col("count") > 10000).count()
      // q160's frozen-index mining shape (label-1 seeds, label-0 batch,
      // derived ⌈√Nseeds⌉ seed-sample quantizer) — index built +
      // materialized once per dir, audited per nprobe below (round-15
      // verdict item 2: price mining recall so q160's nprobe can be
      // derived instead of hand-picked; round-16 ADVICE: stop re-paying
      // the quadratic hubness build once per nprobe)
      val mBatch = emb.filter(col("label") === 0)
      val (mCents, mIndex) =
        if (!doMine) (Seq.empty[(Int, Seq[Float])], None)
        else {
          val mSeeds = emb.filter(col("label") === 1)
          val cents = Similarity.sampleCentroids(mSeeds,
            Similarity.indexParams(mSeeds.count()).nlist)
          (cents,
            Some(Similarity.buildMarginIndex(mSeeds, cents).materialize()))
        }
      for (np <- nprobes) {
        val audits = variants.map { case (name, cents) =>
          val r = Similarity.ivfBatchRecallAudit(
              Similarity.assignBuckets(emb, cents), cents, queries,
              k = 10, nprobe = np, maxProbes = 256)
            .agg(count(lit(1)), avg(col("recall")), min(col("recall")))
            .head()
          (name, r.getLong(0), r.getDouble(1), r.getDouble(2))
        }
        val counts = audits.map(_._2).distinct
        require(!doQuant || counts.size == 1,
          s"audited counts diverged across quantizers: $audits")
        // q156's shape on this dir at this nprobe (its own derived
        // seed-sample quantizer — the graded form). zero_frac
        // quantifies the grid's min_recall = 0.0 rows: the fraction of
        // audited targets recovering NONE of their exact top-5. With
        // capped_buckets = 0 (reported below) a zero-recall target is
        // by construction the pure cluster-boundary case — every true
        // neighbor lives outside its probed buckets — i.e. exactly the
        // failure mode raising nprobe is for (no hits are lost to the
        // candidate cut: a true top-k seed in a probed bucket always
        // survives it, since only other true top-k members outrank it).
        val propBody = if (!doProp) "" else {
          val prop = Similarity.knnPropagationRecallAudit(emb,
              isSeed = col("vec_id") % 3 === 0, nprobe = np,
              maxProbes = 256)
            .agg(avg(col("recall")), min(col("recall")),
              (sum(when(col("recall") === 0.0, 1L).otherwise(0L))
                .cast("double") / count(lit(1))).as("zf"))
            .head()
          f""""propagation_q156":{"avg_recall":${prop.getDouble(0)}%.6f,""" +
            f""""min_recall":${prop.getDouble(1)}%.6f,""" +
            f""""zero_frac":${prop.getDouble(2)}%.6f},"""
        }
        val body = audits.map { case (name, _, a, m) =>
          f""""$name":{"avg_recall":$a%.6f,"min_recall":$m%.6f},"""
        }.mkString
        val auditedBody =
          if (doQuant) s""""audited":${counts.head},""" else ""
        // mining-decision recall at this nprobe: fraction of EXACT
        // frozen-index mining decisions (candidates = source × all index
        // seeds, same index + decision tail) the bucketed search
        // recovers; spurious = bucketed-mined where exact didn't (or to
        // a different seed) — the narrower candidate net shrinks the
        // margin denominator, so both directions are priced; precision
        // = recovered / (recovered + spurious), the (recall, precision)
        // operating-point pair the round-16 grid carries
        val miningBody = mIndex.map { idx =>
          val mr = Similarity.marginMiningRecallAuditIndexed(idx, mBatch,
              mCents, nprobe = np, maxProbes = 256)
            .agg(count(lit(1)).as("aud"),
              sum(when(col("exact_tgt").isNotNull, 1L).otherwise(0L)),
              sum(col("recovered")),
              sum(col("spurious")))
            .head()
          val (mAud, mMined, mRec, mSpur) =
            (mr.getLong(0), mr.getLong(1), mr.getLong(2), mr.getLong(3))
          val mRecall = if (mMined == 0) -1.0 else mRec.toDouble / mMined
          val mPrec =
            if (mRec + mSpur == 0) -1.0 else mRec.toDouble / (mRec + mSpur)
          s""""mining_q160":{"audited":$mAud,"mined_exact":$mMined,""" +
            f""""recovered":$mRec,"recall":$mRecall%.6f,"spurious":$mSpur,""" +
            f""""precision":$mPrec%.6f},"""
        }.getOrElse("")
        val full = s"""{"dir":"$dir","n":$n,"nlist":$nlist,""" +
          s""""nprobe":$np,$auditedBody""" +
          s""""capped_buckets":$cappedBuckets,$body$propBody$miningBody"""
        // every section emits a trailing comma; close the object cleanly
        println(full.stripSuffix(",") + "}")
      }
    }
    spark.stop()
  }
}
