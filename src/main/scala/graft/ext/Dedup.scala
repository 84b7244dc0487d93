package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed around the
  * one rule that matters at 100 TB: NEVER generate all pairs. Candidate
  * pairs come only from same-bucket joins (exact hash buckets, LSH bands,
  * SimHash prefixes), so work scales with Σ bucket² over near-dup clusters,
  * not N².
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup by normalized content hash: one shuffle on the fingerprint,
    * min-id wins per group. Returns (fingerprint, keep_id, dup_count).
    */
  def exactDupGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Corpus with exact duplicates removed (keeps the min-id representative). */
  def dropExactDups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keep = exactDupGroups(docs, textCol, idCol).select(col("keep_id").as(idCol))
    // broadcast-eligible only when the dup-group table is small; at scale
    // this is a shuffled semi-join on the id — still a single shuffle.
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------- shingles

  /** Sliding word n-gram shingles (distinct). Documents shorter than n
    * contribute their whole token sequence as one shingle. Backed by the
    * native `WordShingles` expression (graft.functions) — the composable
    * `transform`/`slice` formulation pays interpreted-lambda cost per
    * position and dominated the profile.
    */
  def wordShingles(text: Column, n: Int = 3): Column =
    graft.functions.native.wordShingles(text, n)

  /** Fixed-width posting key for the exact n-gram pair family: an
    * 8-byte xxhash64 of the shingle string. The key is engine-INTERNAL
    * (q84/q92's oracle joins raw shingle strings — only the emitted
    * counts are compared), so the only requirement is
    * injectivity-in-practice: a cross-doc collision over-counts a pair's
    * `shared` with P ≈ pairs·2⁻⁶⁴, the same negligible class the family
    * already accepted for the md5-60 idiom. xxhash64 replaces md5-60
    * (hex string + substring + conv per posting row) with a codegen'd
    * direct-to-long hash — measured −1.3 s at 30× / −3.2 s at 100× on
    * the q84 candidate chain (OPTIMIZATION_r17.md, "q84/q92").
    */
  private[graft] def shingleKey(c: Column): Column = xxhash64(c)

  // -------------------------------------------------------------- minhash

  /** k-permutation MinHash signature over the shingle set, via
    * Kirsch–Mitzenmacher double hashing: each shingle is md5'd once, the
    * digest split into two 60-bit halves (a, b), and family member i is
    * h_i(s) = (a + i·(b & 2^55-1)) & (2^60-1) — see `MinHashSigP`'s
    * scaladoc for the authoritative formula and the DuckDB replay
    * expression. KM gives the same LSH banding guarantees as k independent
    * hashes at 1/k the digest cost, and the md5 base makes the whole
    * signature replayable by any engine with md5 (the DuckDB oracle
    * recomputes it exactly). Native expression (tight loop over
    * `ArrayData`); returns array<long> of length k ≤ 224 (the overflow-safe
    * bound). A ~5× faster xxhash64 variant exists as
    * `graft.functions.native.minHashSig` for pipelines that don't need
    * cross-engine replay.
    */
  def minHashSignature(shingles: Column, k: Int = 16): Column =
    graft.functions.native.minHashSigP(shingles, k)

  /** LSH banding: split the k-length signature into `bands` bands of
    * k/bands rows; band key = hash of the band's slice. A pair of documents
    * lands in the same bucket iff one band matches exactly — the standard
    * S-curve knob (bands↑ ⇒ recall↑, precision↓).
    * Returns rows (idCol, band, band_hash), exploded one row per band.
    */
  def lshBands(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val rows = k / bands
    require(rows * bands == k, s"bands=$bands must divide k=$k")
    // lowercase before shingling: near-dup means same content, not same case
    val sig = minHashSignature(wordShingles(lower(col(textCol)), shingleN), k)
    docs
      .select(col(idCol), sig.as("sig"))
      .select(
        col(idCol),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            // portable band hash: md5 of "b:v1,v2,..." over the band's
            // signature slice rendered in decimal — byte-identical to the
            // oracle's md5(b || ':' || array_to_string(list_slice(...)))
            b => struct(
              b.as("band"),
              conv(substring(md5(concat(
                b.cast("string"), lit(":"),
                array_join(
                  transform(slice(col("sig"), b * rows + lit(1), lit(rows)),
                    v => v.cast("string")), ",")).cast("binary")), 1, 15), 16, 10)
                .cast("long").as("band_hash")))).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.band_hash"))
  }

  /** Candidate near-dup pairs from LSH bucket joins (id1 < id2, distinct).
    * The join key (band, band_hash) bounds pair generation to within-bucket:
    * no crossJoin anywhere. `maxBucketSize` guards against degenerate
    * buckets (e.g. empty docs all hashing together) blowing up quadratic
    * within-bucket work — the standard skew guard at scale.
    */
  def candidatePairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val b = lshBands(docs, textCol, idCol, k, bands, shingleN)
    // bucket cap as a count WINDOW, not aggregate + anti-join (the q94
    // guard shape): measured head-to-head at 30×/100× (round 14, warm
    // min-of-2, bench heap), the window wins here — q95 3.2/4.3 s vs
    // 4.4/7.6, q124 3.4/4.4 s vs 3.9/7.3 — because the anti-join form
    // re-evaluates `b`'s lineage (the full MinHash banding, md5 per
    // shingle) on both the count and probe sides, while the window's
    // one exchange+sort is also exactly the partitioning the bucket
    // self-join below reuses. q94's trade went the other way because
    // its recomputed explode is hash-free.
    val sized = b
      .withColumn("bucket_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "band_hash")))
      .filter(col("bucket_size") <= maxBucketSize)
    val l = sized.select(col("band"), col("band_hash"), col(idCol).as("id1"))
    val r = sized.select(col("band"), col("band_hash"), col(idCol).as("id2"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** Exact Jaccard verification on candidate pairs only (never all pairs):
    * join shingle sets back onto the (small) candidate set and compute
    * |A∩B| / |A∪B|.
    */
  def verifiedNearDups(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    // Single-chain verify: `cands` is referenced exactly once, so the LSH
    // pipeline runs once with no materialization barrier. Computing the
    // shingle sets corpus-wide for the two verify joins is deliberate —
    // a member-pruned variant (semi-join docs to pair members first) was
    // measured SLOWER at sf0.1 (the extra checkpoint/job barrier costs
    // more than the shingle recompute) and the 300× probes show the
    // corpus-wide shape scaling linearly; at extreme pair densities the
    // bucket cap, not the verify scan, is the operative guard.
    val cands = candidatePairs(docs, textCol, idCol, k, bands, shingleN)
    val sh = docs.select(col(idCol), wordShingles(lower(col(textCol)), shingleN).as("sh"))
    cands
      .join(sh.select(col(idCol).as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col(idCol).as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Duplicate-cluster size histogram — the dedup health metric: how many
    * exact-duplicate families exist at each multiplicity (cluster_size 1 =
    * unique docs). Two cheap aggregations (fingerprint → family size →
    * histogram), both map-side combined; the first shuffle carries one row
    * per distinct fingerprint, the second one row per distinct size.
    * Reading: mass at high multiplicities = crawler traps / boilerplate;
    * the `n_docs - n_families` gap is exactly what exact dedup removes.
    */
  def dupClusterHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  /** Estimator-calibration audit: for every LSH candidate pair, the
    * signature-estimated Jaccard (fraction of equal MinHash components —
    * the standard unbiased estimate the STREAMING path decides on) next to
    * the exact shingle Jaccard the batch path verifies with. Publishing
    * |est − exact| per pair is how a pipeline picks k and the streaming
    * threshold margin: the estimate's stderr is √(J(1−J)/k), so k=16 needs
    * a generous margin and this report shows the realized spread on the
    * actual corpus. Same physical shape as `verifiedNearDups` (bucket
    * join → broadcast of the small candidate set).
    */
  def estimatorCalibration(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 16, bands: Int = 4,
      shingleN: Int = 3): DataFrame = {
    val cands = candidatePairs(docs, textCol, idCol, k, bands, shingleN)
    val sigs = docs
      .select(col(idCol), wordShingles(lower(col(textCol)), shingleN).as("sh"))
      .withColumn("sig", minHashSignature(col("sh"), k))
    cands
      .join(sigs.select(col(idCol).as("id1"), col("sh").as("sh1"),
        col("sig").as("sig1")), "id1")
      .join(sigs.select(col(idCol).as("id2"), col("sh").as("sh2"),
        col("sig").as("sig2")), "id2")
      .select(col("id1"), col("id2"),
        round(size(filter(zip_with(col("sig1"), col("sig2"),
          (a, b) => a === b), x => x)).cast("double") / lit(k.toDouble), 6)
          .as("est_jaccard"),
        round(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double"), 6)
          .as("jaccard"))
  }

  /** Near-dup removal: drop every document that is the larger-id member of
    * a verified near-dup pair (keep-first policy). This is the standard
    * single-pass dedup used on training corpora: it does not chase
    * transitive chains (a↔b, b↔c with a↮c keeps a, drops b and c), which
    * at scale is the deliberate trade — full connected components need an
    * iterative join loop for marginal corpus-quality gain.
    */
  def dropNearDups(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val losers = verifiedNearDups(docs, threshold, textCol, idCol, k, bands, shingleN)
      .select(col("id2").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Train/eval decontamination: (corpus doc, probe doc) pairs sharing at
    * least `minShared` distinct word n-gram shingles — the standard overlap
    * check run before training so eval/benchmark text is dropped from the
    * corpus. Exact shingle equality (not LSH): decontamination wants
    * recall on verbatim leakage, and the shingle string itself is the join
    * bucket, so candidate generation is an equality join like every other
    * pair generator here — never all-pairs.
    *
    * Scale guards: shingles whose CORPUS document frequency exceeds
    * `dfCap` are dropped before the join (high-df shingles are
    * non-discriminative boilerplate and are exactly what makes a shingle
    * join quadratic); the probe/eval side is orders of magnitude smaller
    * than the corpus, so Spark broadcasts it and the corpus never
    * shuffles.
    */
  def contaminationPairs(corpus: DataFrame, probe: DataFrame,
      shingleN: Int = 3, minShared: Int = 2, dfCap: Int = 100,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def shingled(df: DataFrame, out: String): DataFrame = df.select(
      col(idCol).as(out),
      explode(wordShingles(lower(col(textCol)), shingleN)).as("shingle"))
    val p = shingled(probe, "probe_id")
    // restrict the corpus side to probe-relevant shingles FIRST (broadcast
    // semi-join — the probe set is tiny): the df cap only matters for
    // shingles that can join, and for those every corpus occurrence
    // survives the semi-join, so the df computed on `relevant` equals the
    // corpus-wide df. Result is identical to capping globally, but the
    // corpus is never shuffled — the operator is scan → broadcast joins →
    // a window over the (small) relevant set → pair aggregate.
    val relevant = shingled(corpus, "corpus_id")
      .join(broadcast(p.select(col("shingle")).distinct()), Seq("shingle"))
    val capped = relevant
      .withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("shingle")))
      .filter(col("df") <= dfCap)
      .drop("df")
    capped.join(broadcast(p), Seq("shingle"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .groupBy(col("corpus_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle index —
    * the deterministic sibling of the MinHash path: no signature
    * approximation anywhere, so recall is exact by construction for every
    * pair sharing ≥ `minShared` discriminative shingles. Candidate
    * generation is a posting-list self-join: explode distinct shingles,
    * drop shingles whose document frequency exceeds `dfCap` (high-df
    * shingles are non-discriminative boilerplate AND the thing that makes
    * a shingle self-join quadratic — a shingle with df=d contributes
    * d·(d−1)/2 candidates), then count shared shingles per doc pair and
    * verify exact Jaccard on the full shingle sets.
    *
    * Scale shape vs MinHash/LSH (`candidatePairs`): work is bounded by
    * Σ df² over KEPT shingles instead of Σ bucket² over LSH buckets — no
    * hashing cost and no probabilistic misses, at the price of a wider
    * candidate set on corpora with many mid-frequency shingles. The
    * standard pick: n-gram Jaccard for high-precision small-n dedup and
    * contamination-adjacent audits, MinHash banding when the corpus is so
    * large even the capped posting join is too wide.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.8,
      shingleN: Int = 3, minShared: Int = 2, dfCap: Int = 100,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    if (noHotShingles(docs, shingleN, dfCap, textCol, idCol))
      uncappedPairStats(docs, shingleN, minShared, textCol, idCol)
        .withColumn("jaccard", col("shared").cast("double") /
          (col("sz1") + col("sz2") - col("shared")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("shared"),
          round(col("jaccard"), 6).as("jaccard"))
    else {
      val (cands, sh, stats) =
        ngramCandidates(docs, shingleN, minShared, dfCap, textCol, idCol)
      ngramJaccardFrom(cands, sh, stats, threshold, idCol)
    }

  /** One aggregate pass answering "does ANY shingle exceed `dfCap`?" —
    * the dispatch gate between [[uncappedPairStats]] (df cap provably a
    * no-op, so the window/stats/array-verify machinery is dead weight)
    * and the capped window form. Runs as its own bounded driver action
    * inside each invocation (a boolean via `isEmpty`, never an
    * unbounded collect), exactly like Layout's boundary sampling or
    * q87's sketch build — computed from the parquet inputs every time,
    * nothing cached across runs. On boilerplate-bearing corpora the
    * pass is ~2-3% overhead before the capped path runs unchanged; on
    * cap-free corpora it unlocks the −33%-at-100× fast form
    * (measurements in OPTIMIZATION_r17.md, "q84/q92").
    */
  private[graft] def noHotShingles(docs: DataFrame, shingleN: Int,
      dfCap: Int, textCol: String, idCol: String): Boolean = {
    val spark = docs.sparkSession
    spark.sparkContext.setJobDescription(
      s"ngram pairs: df-cap gate (dfCap=$dfCap)")
    try {
      docs
        .select(explode(wordShingles(lower(col(textCol)), shingleN)).as("s"))
        .select(shingleKey(col("s")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap)
        .isEmpty
    } finally spark.sparkContext.setJobDescription(null)
  }

  /** The cap-free candidate core: when no shingle's document frequency
    * exceeds the cap (gated by [[noHotShingles]]), the df window is an
    * identity filter, `capped` is 0 for every document, and the exact
    * intersection of two shingle sets over candidate pairs IS `shared`
    * — so per-doc set sizes ride the posting rows (+8 bytes on the one
    * posting exchange) and the pair aggregate picks them up with
    * `min()`, leaving NO stats windows, NO pair-stats joins and NO
    * array-rejoin verify (guide §2.3 "shuffle keys and metadata instead
    * of payloads", §2.4 "remove shuffles outright"). Emits
    * (id1, id2, shared, sz1, sz2); metric arithmetic on integer counts
    * reproduces the array form bit-for-bit (same integers → same IEEE
    * doubles — pinned by NgramFastPathSpec and the probe's exceptAll).
    */
  private[graft] def uncappedPairStats(docs: DataFrame, shingleN: Int,
      minShared: Int, textCol: String, idCol: String): DataFrame = {
    val sh = docs.select(col(idCol),
      wordShingles(lower(col(textCol)), shingleN).as("sh"))
    val posts = sh
      .select(col(idCol), size(col("sh")).cast("long").as("sz"),
        explode(col("sh")).as("shingle"))
      .withColumn("shingle", shingleKey(col("shingle")))
    posts.select(col("shingle"), col(idCol).as("id1"), col("sz").as("sz1"))
      .join(posts.select(col("shingle"), col(idCol).as("id2"),
        col("sz").as("sz2")), Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"),
        min(col("sz1")).as("sz1"), min(col("sz2")).as("sz2"))
      .filter(col("shared") >= minShared)
  }

  /** The verify tail of [[ngramJaccardPairs]] over a candidate block. */
  private[graft] def ngramJaccardFrom(cands: DataFrame, sh: DataFrame,
      stats: DataFrame, threshold: Double, idCol: String): DataFrame = {
    // Algebraic pre-filter before the array verify — the verify join was
    // 90%+ of the operator's cost (3.4M candidates → 7.7k survivors on the
    // 30× probe). Jaccard ≥ t ⟺ |A∩B|·(1+t) ≥ t·(|A|+|B|), and
    // |A∩B| ≤ shared + min(capped₁, capped₂) (capped shingles are the only
    // intersection `shared` cannot see), so any pair failing the bound
    // even with every capped shingle credited to the intersection can be
    // pruned with NO effect on the output. ε guards the double-arithmetic
    // boundary: never over-prune.
    preFilter(cands, stats, idCol) { (interUb, sz1, sz2) =>
      interUb * lit(1.0 + threshold) >=
        lit(threshold) * (sz1 + sz2) - lit(1e-9)
    }
      .join(sh.select(col(idCol).as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col(idCol).as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("shared"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Shared exact-recall candidate generator for the n-gram pair family:
    * returns (candidate id pairs with shared-shingle counts, the per-doc
    * shingle sets, per-doc verify-bound stats). The df gate is a count
    * window over the shingle-partitioned posting stream: ONE exchange
    * hash(shingle) feeds everything downstream — the window's sort is exactly the sort the
    * pair self-join needs, so Spark reuses the exchange and elides
    * re-sorting on both join sides. Measured alternatives lose: the
    * round-14 head-to-head (warm min-of-2, bench heap) re-ran the
    * aggregate + anti/semi-join restructure (hot-shingle keep-list,
    * capped stats via semi-join, sz off the shingle array) now that
    * posting keys are 8-byte longs — it wins q84 at 30× (15.5 vs
    * 20.9 s) but INVERTS at 100× (q84 30.4 vs 24.2 s, q92 29.8 vs
    * 24.1): its three evaluations of the posting lineage re-pay the
    * per-shingle md5 with data volume, while the window's single sort
    * rides the splittable layout's parallelism. The round-15 THIRD arm
    * (the aggregate form with the posting table localCheckpointed once
    * so the md5 is paid once; ARCHITECTURE.md, "The df-attach
    * experiment, arm three") closes most
    * of the aggregate form's gap but still does not beat the window:
    * q84 26.8/30.7/28.8 s and q92 28.0/29.8/25.0 s at 100×
    * (window/agg/agg_mat; 11.3/15.3/12.4 and 10.1/15.3/12.1 at 30×) —
    * its one win (q92 100×, −11%) sits at the ambient band's edge,
    * and the materialization itself is a scale liability the lazy
    * forms don't carry (a corpus-sized posting table pinned to
    * executor storage). Window form kept. A collect_list pair
    * generator also loses — it drops out of whole-stage codegen into
    * ObjectHashAggregate (2× at every scale). A degenerate mega-shingle materializes its
    * window partition before the cap filter drops it, but WindowExec
    * spills — bounded memory either way. Postings carry the shingle as a
    * portable 60-bit md5 long (the same replayable
    * `('0x'||substr(md5(s),1,15))::BIGINT` idiom the oracle family
    * uses): an 8-byte fixed-width key sorts/shuffles ~3× less volume
    * than the raw shingle string and compares as a long. Early rounds
    * measured the hash chain SLOWER at 30× — but that was on the
    * serial-scan replica layout, where the per-row md5 ran on one core;
    * on splittable input the verdict flips (q84 31.1 → 26.6 s, q92
    * 28.4 → 24.8 s warm at 100×). `shared` becomes "shared shingle
    * HASHES": a cross-doc 60-bit collision could overcount an
    * intersection (P ≈ pairs·2⁻⁶⁰ — negligible against the exact
    * array_intersect verify that follows downstream). The df gate sees
    * a second, larger collision surface: a VOCABULARY birthday — any
    * two of the corpus's distinct shingles hashing to one key (expected
    * O(1) around ~10⁹ distinct shingles) merges their df counts, which
    * can push both over `dfCap` and drop true postings, shifting the
    * emitted `shared` value (the capped-stat upper bound stays valid
    * either way: a dropped posting adds to `capped` mass). This stays
    * engine-SYMMETRIC — the oracle SQL applies the identical md5-60
    * idiom to the identical shingle stream, so both engines merge the
    * same keys and emit the same rows (the green hash_match is over the
    * same-collision outputs, not collision-free ones).
    */
  private[graft] def ngramCandidates(docs: DataFrame, shingleN: Int, minShared: Int,
      dfCap: Int, textCol: String, idCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val sh = docs.select(col(idCol),
      wordShingles(lower(col(textCol)), shingleN).as("sh"))
    val withDf = sh
      .select(col(idCol), explode(col("sh")).as("shingle"))
      .withColumn("shingle", shingleKey(col("shingle")))
      .withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("shingle")))
    val posts = withDf.filter(col("df") <= dfCap).drop("df")
    // per-doc verify-bound stats: full distinct-shingle count and how many
    // of them the df gate drops (the intersection mass `shared` can miss)
    val stats = withDf.groupBy(col(idCol)).agg(
      count(lit(1)).as("sz"),
      sum(when(col("df") > dfCap, 1L).otherwise(0L)).as("capped"))
    val cands = posts.select(col("shingle"), col(idCol).as("id1"))
      .join(posts.select(col("shingle"), col(idCol).as("id2")), Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    (cands, sh, stats)
  }

  /** Shared plumbing of the algebraic verify pre-filters: join candidate
    * pairs to per-doc (sz, capped) stats and keep pairs where
    * `keep(interUb, sz1, sz2)` holds, with `interUb` =
    * shared + min(capped₁, capped₂) — a provable upper bound on |A∩B|
    * (capped shingles are the only intersection mass `shared` cannot
    * see). Every candidate id has ≥1 surviving posting row, so the inner
    * stats joins can never drop a candidate. All three columns reach
    * `keep` pre-cast to double; bounds subtract an ε so double rounding
    * can only under-prune, never over-prune.
    */
  private def preFilter(cands: DataFrame, stats: DataFrame, idCol: String)(
      keep: (Column, Column, Column) => Column): DataFrame =
    cands
      .join(stats.select(col(idCol).as("id1"),
        col("sz").as("sz1"), col("capped").as("c1")), "id1")
      .join(stats.select(col(idCol).as("id2"),
        col("sz").as("sz2"), col("capped").as("c2")), "id2")
      .filter(keep(
        (col("shared") + least(col("c1"), col("c2"))).cast("double"),
        col("sz1").cast("double"), col("sz2").cast("double")))
      .select(col("id1"), col("id2"), col("shared"))

  /** Near-CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ threshold over the
    * same exact posting-join candidates as [[ngramJaccardPairs]]. The
    * containment metric is the partial-duplication detector Jaccard
    * structurally misses: a short document quoted whole inside a much
    * longer one has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so a
    * Jaccard-thresholded dedup never pairs them. Corpus pipelines run
    * both — Jaccard for whole-document near-dups, containment for
    * boilerplate extraction and quote/subset leakage audits.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9,
      shingleN: Int = 3, minShared: Int = 2, dfCap: Int = 100,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    if (noHotShingles(docs, shingleN, dfCap, textCol, idCol))
      uncappedPairStats(docs, shingleN, minShared, textCol, idCol)
        .withColumn("containment", col("shared").cast("double") /
          least(col("sz1"), col("sz2")).cast("double"))
        .filter(col("containment") >= threshold)
        .select(col("id1"), col("id2"), col("shared"),
          round(col("containment"), 6).as("containment"))
    else {
      val (cands, sh, stats) =
        ngramCandidates(docs, shingleN, minShared, dfCap, textCol, idCol)
      containmentFrom(cands, sh, stats, threshold, idCol)
    }

  /** [[containmentPairs]]' verify tail over any candidate block — see
    * [[ngramJaccardFrom]]. */
  private[graft] def containmentFrom(cands: DataFrame, sh: DataFrame,
      stats: DataFrame, threshold: Double, idCol: String): DataFrame = {
    // same conservative pre-filter as ngramJaccardPairs, for the
    // containment bound: |A∩B| ≥ t·min(|A|,|B|), |A∩B| ≤ shared + min(c)
    preFilter(cands, stats, idCol) { (interUb, sz1, sz2) =>
      interUb >= lit(threshold) * least(sz1, sz2) - lit(1e-9)
    }
      .join(sh.select(col(idCol).as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col(idCol).as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("containment",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          least(size(col("sh1")), size(col("sh2"))).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id1"), col("id2"), col("shared"),
        round(col("containment"), 6).as("containment"))
  }

  // --------------------------------------------- exact substring dedup

  /** Content-sampled character L-gram fingerprints of a text column —
    * the primitive behind exact-SUBSTRING dedup (the character-level
    * family of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", 2021): two documents are substring-linked when they
    * share a verbatim character run, which word-level shingles miss
    * whenever the run straddles token edits. Any shared run of length
    * ≥ gramLen contains the same length-`gramLen` windows on both sides,
    * so gram-fingerprint equality has exact recall on such runs; to keep
    * posting volume at 1/modP of total characters, a window is KEPT only
    * when its md5-60 hash ≡ 0 (mod modP). The keep rule reads only the
    * window's bytes — never its position — so a shared run selects the
    * SAME windows in both documents (no positional misalignment), and a
    * run of length ≥ gramLen + k still surfaces unless all k+1 of its
    * windows fail the coin — miss probability (1−1/modP)^(k+1),
    * vanishing for runs much longer than gramLen. `modP = 1` restores
    * exact ≥ gramLen recall. Returns distinct array<long>; the 60-bit
    * fingerprint IS the join key downstream (2⁻⁶⁰ collision odds in
    * exchange for shuffling 8-byte longs instead of raw grams).
    *
    * SIZE gramLen IN TOKENS, NOT CHARS: the window must span enough
    * tokens that a chance token-sequence collision is negligible, or
    * mid-frequency grams slip under the df cap and the posting join's
    * constant balloons (a 40-char default spanning ~3 tokens of a small
    * vocabulary went 30× superlinear on the 10× probe; 100 chars ≈ 15–20
    * English words matches the "≈50 BPE tokens" run length the exact-
    * substring dedup literature uses and restored linear scaling, 2527
    * pairs at 10× vs 223 at 1×, with recall on true near-dups unchanged).
    */
  def charGramFingerprints(text: Column, gramLen: Int = 100, modP: Int = 4): Column =
    graft.functions.native.charGramHashes(text, gramLen, modP)

  /** Exact-substring duplicate pairs: documents sharing ≥ `minShared`
    * sampled gram fingerprints, with per-fingerprint document frequency
    * capped at `dfCap` (a fingerprint occurring in d documents yields
    * d·(d−1)/2 candidate rows — the df cap is what keeps boilerplate
    * runs from turning the posting self-join quadratic, exactly as in
    * [[ngramCandidates]]). Same physical shape as the word-shingle
    * posting family: one exchange on the fingerprint feeds the df
    * window and both self-join sides; work is Σ df² over kept
    * fingerprints, never N². Returns (id1, id2, shared).
    */
  def substringDupPairs(docs: DataFrame, gramLen: Int = 100, modP: Int = 4,
      minShared: Int = 2, dfCap: Int = 50,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val posts = docs
      .select(col(idCol),
        explode(charGramFingerprints(col(textCol), gramLen, modP)).as("gh"))
      .withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("gh")))
      .filter(col("df") <= dfCap)
      .drop("df")
    // merge-hint the self-join: both sides are the SAME posting subplan
    // already exchanged on gh for the df window, so SMJ reuses that one
    // exchange (ReusedExchange) and the gram-hash kernel runs ONCE; the
    // broadcast plan AQE picks at small scale re-executes the kernel to
    // build the hash relation — measurably slower wherever the kernel,
    // not the join, is the cost.
    posts.select(col("gh"), col(idCol).as("id1"))
      .join(posts.select(col("gh"), col(idCol).as("id2")).hint("merge"), Seq("gh"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** WINNOWED exact-substring duplicate pairs (Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003) — [[substringDupPairs]] with the mod-p content
    * sampler swapped for winnowing: in every run of `w` consecutive
    * `k`-gram hashes the minimum is selected (rightmost on ties), which
    * GUARANTEES two documents sharing a verbatim run of ≥ w + k − 1
    * code points share at least one fingerprint, at ~2/(w+1) density.
    * The mod-p sampler is position-independent too but can miss a
    * shared run of any length outright; winnowing trades that residual
    * false-negative mass for a per-window min pass. Selection happens
    * INSIDE the native kernel (`CharGramWinnow`, O(w) space) — the
    * unwinnowed hash sequence never exists in the plan, so posting
    * volume is winnowed-density from the scan down. Same posting-join
    * machinery as the rest of the family: per-doc distinct
    * fingerprints, df-capped, one exchange reused across the self-join.
    */
  def winnowedDupPairs(docs: DataFrame, k: Int = 40, w: Int = 10,
      minShared: Int = 2, dfCap: Int = 50, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val posts = docs.select(col(idCol),
      explode(array_distinct(transform(
        graft.functions.native.charGramWinnow(col(textCol), k, w),
        g => g.getField("gh")))).as("gh"))
      .withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("gh")))
      .filter(col("df") <= dfCap)
      .drop("df")
    posts.select(col("gh"), col(idCol).as("id1"))
      .join(posts.select(col("gh"), col(idCol).as("id2")).hint("merge"), Seq("gh"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Incremental exact-substring admission — the corpus-refresh form of
    * [[substringDupPairs]], mirroring [[incrementalDedupBatch]]'s
    * contract: a batch document is rejected when it shares ≥ `minShared`
    * sampled gram fingerprints with a HISTORY document or an
    * earlier (smaller-id) batch document. Candidate generation joins
    * batch postings against the combined posting stream, so
    * history×history pairs are never generated and per-refresh work
    * scales with the batch. The df cap runs over the COMBINED (history ∪
    * batch) fingerprint population — exactly what a whole-corpus
    * [[substringDupPairs]] run applies, so an external whole-corpus
    * replay (the DuckDB oracle) matches this incremental formulation
    * decision-for-decision. At scale the history side reads a
    * materialized fingerprint posting table (append-per-admitted-batch,
    * the q98 df-snapshot pattern); both sides are computed in-plan here
    * for gate self-containment.
    */
  /** Exact-substring SPAN REMOVAL — the rewrite form of the Lee et al.
    * 2021 family ([[substringDupPairs]] finds duplicated content,
    * [[incrementalSubstringBatch]] rejects documents carrying it; this
    * operator keeps every document but CUTS the duplicated spans,
    * which is what the paper actually does to the training corpus).
    *
    * Keep-first semantics: a sampled `gramLen`-char window whose
    * fingerprint occurs in ≥ 2 documents survives only in the minimum-id
    * document; every other occurrence's span [pos, pos+gramLen) is cut.
    * Overlapping cut spans are merged, and the rewrite is a fold over
    * the merged interval list (one `substring` per kept segment) — never
    * a per-character explode. Physical shape: one positioned-gram scan
    * (native `CharGramPosHashes` kernel), one shuffle on the fingerprint
    * for the (keeper, df) aggregate, a membership join back, and one
    * shuffle on the id to assemble per-document cut lists; work is
    * posting-volume linear, no pair join at all. Cut eligibility is
    * df ∈ [2, `dfCap`] — the same degenerate-key guard as the rest of
    * the substring family, here bounding the membership join's per-key
    * fan (the 100× probe found a few boilerplate fingerprints whose df
    * grows with corpus size turning into straggler keys); runs more
    * common than the cap are boilerplate, which is [[TextAnalysis
    * .scrubBoilerplate]]'s job, not span dedup's. The oracle mirrors
    * the cap.
    *
    * Output: (idCol, clean_text, n_cut_chars) for EVERY input document
    * (uncut documents pass through with n_cut_chars = 0).
    */
  def removeSharedSubstrings(docs: DataFrame, gramLen: Int = 100,
      modP: Int = 4, dfCap: Int = 50, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // Run the md5-per-window kernel ONCE with ZERO materialization: one
    // explicit exchange on the fingerprint feeds both consumers — the
    // keeper aggregate and the membership join — via ReusedExchange
    // (the same one-exchange trick substringDupPairs plays on its
    // self-join). The round-6 localCheckpoint of the exploded postings
    // avoided the kernel re-run but pinned 62M deserialized on-heap
    // rows at the 100× probe — THE superlinear single-node constant
    // (8× time for 3.33× data); shuffle files are compressed, on disk,
    // and freed with the stage.
    val posts = docs.select(col(idCol),
      explode(graft.functions.native.charGramPosHashes(
        col(textCol), gramLen, modP)).as("g"))
      .select(col(idCol), col("g.pos").as("pos"), col("g.gh").as("gh"))
    // Keeper and df ride WINDOW functions over the one gh exchange (the
    // df-window precedent from substringDupPairs) instead of a separate
    // keeper aggregate + membership join — a join formulation computes
    // the kernel once per pruned subtree (column pruning breaks
    // exchange reuse). countDistinct-over-window is unsupported, so df
    // is the first-occurrence-marker sum: row_number over (gh, id)
    // marks each document's first posting, summed over (gh). The
    // (gh, id, pos) sort the row_number needs also satisfies the
    // gh-only specs, so this is one exchange + ONE sort, no joins.
    val wGhDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gh"), col(idCol)).orderBy(col("pos"))
    val wGh = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    val cutLists = posts
      .withColumn("_first",
        when(row_number().over(wGhDoc) === 1, 1L).otherwise(0L))
      .withColumn("_df", sum(col("_first")).over(wGh))
      .withColumn("_keeper", min(col(idCol)).over(wGh))
      .filter(col("_df") >= 2 && col("_df") <= dfCap &&
        col(idCol) =!= col("_keeper"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("_cuts"))
    rewriteFromCutLists(docs, cutLists, gramLen, textCol, idCol)
  }

  /** Rebuild documents from per-document sorted cut-position lists (the
    * shared tail of [[removeSharedSubstrings]] and its incremental form):
    * merge sorted [p, p+L) spans into disjoint intervals, then rebuild
    * the text from the gaps — both are folds over the (bounded,
    * per-document) interval list, evaluated only on documents that
    * actually have cuts. `cutLists` is (idCol, _cuts: sorted array<int>).
    */
  private def rewriteFromCutLists(docs: DataFrame, cutLists: DataFrame,
      gramLen: Int, textCol: String, idCol: String): DataFrame = {
    val L = gramLen
    val ivType = "array<struct<s:int,e:int>>"
    val merged = aggregate(col("_cuts"), expr(s"CAST(array() AS $ivType)"),
      (acc, p) => when(
        size(acc) > 0 && p < element_at(acc, -1).getField("e"),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(element_at(acc, -1).getField("s").as("s"),
            greatest(element_at(acc, -1).getField("e"), p + lit(L)).as("e")))))
        .otherwise(concat(acc,
          array(struct(p.as("s"), (p + lit(L)).as("e"))))))
    val scrubbed = docs
      .join(cutLists, Seq(idCol))
      .withColumn("_iv", merged)
      .select(col(idCol),
        aggregate(col("_iv"),
          struct(lit(1).as("p"),
            expr("CAST(array() AS array<string>)").as("parts")),
          (acc, iv) => struct(iv.getField("e").as("p"),
            concat(acc.getField("parts"), array(substring(col(textCol),
              acc.getField("p"),
              iv.getField("s") - acc.getField("p")))).as("parts")),
          acc => concat_ws("",
            concat(acc.getField("parts"), array(substring(col(textCol),
              acc.getField("p"),
              length(col(textCol)) - acc.getField("p") + 1)))))
          .as("clean_text"),
        aggregate(col("_iv"), lit(0),
          (acc, iv) => acc + (iv.getField("e") - iv.getField("s")))
          .cast("long").as("n_cut_chars"))
    docs.select(col(idCol), col(textCol))
      .join(scrubbed, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), col(textCol)).as("clean_text"),
        coalesce(col("n_cut_chars"), lit(0L)).as("n_cut_chars"))
  }

  /** Fingerprint snapshot of a (scrubbed, published) corpus — the
    * materialized side-input [[removeSharedSubstringsIncremental]] scrubs
    * refresh batches against: per sampled gram fingerprint, how many
    * history documents carry it (`df`) and the minimum carrier id
    * (`keeper`). `charGramFingerprints` already emits each fingerprint
    * once per document, so a plain count IS the document frequency — no
    * distinct expand. One kernel scan + one shuffle on the fingerprint;
    * at scale this is written once per admitted batch (the q98 df-
    * snapshot pattern) and read back as a bucketed table, so a refresh
    * never rescans history text.
    */
  def substringFingerprintSnapshot(docs: DataFrame, gramLen: Int = 100,
      modP: Int = 4, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      explode(charGramFingerprints(col(textCol), gramLen, modP)).as("gh"))
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("df"), min(col(idCol)).as("keeper"))

  /** Incremental exact-substring SPAN REMOVAL — the corpus-refresh form
    * of [[removeSharedSubstrings]], completing the q107/q98 pattern for
    * the rewrite family: scrub a refresh batch against a HISTORY
    * fingerprint snapshot ([[substringFingerprintSnapshot]]) without
    * rescanning history text. A batch span [pos, pos+gramLen) is cut
    * when its fingerprint's COMBINED document frequency (history df +
    * batch df — disjoint corpora, so the sum is the union df) lands in
    * [2, `dfCap`] and the document is not the union-wide keeper
    * (min id across history and batch). That reproduces, decision for
    * decision, what a whole-corpus [[removeSharedSubstrings]] run over
    * history ∪ batch does to the batch documents — the oracle replays
    * exactly that — while history documents stay untouched (they are
    * published; re-cutting them is a compaction job, not a refresh).
    *
    * Scale shape: the positioned-gram kernel runs over the BATCH only;
    * batch per-fingerprint stats ride the same one-exchange window trick
    * as the batch operator; the snapshot join is an equality join on the
    * fingerprint (shuffle on the batch side, bucket-pruned on a
    * materialized snapshot). Per-refresh work is batch-sized plus one
    * snapshot join — never corpus-sized.
    */
  def removeSharedSubstringsIncremental(batch: DataFrame,
      snapshot: DataFrame, gramLen: Int = 100, modP: Int = 4,
      dfCap: Int = 50, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val posts = batch.select(col(idCol),
      explode(graft.functions.native.charGramPosHashes(
        col(textCol), gramLen, modP)).as("g"))
      .select(col(idCol), col("g.pos").as("pos"), col("g.gh").as("gh"))
    val wGhDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gh"), col(idCol)).orderBy(col("pos"))
    val wGh = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    val cutLists = posts
      .withColumn("_first",
        when(row_number().over(wGhDoc) === 1, 1L).otherwise(0L))
      .withColumn("_bdf", sum(col("_first")).over(wGh))
      .withColumn("_bmin", min(col(idCol)).over(wGh))
      .join(snapshot.select(col("gh"), col("df").as("_hdf"),
        col("keeper").as("_hkeeper")), Seq("gh"), "left")
      .withColumn("_df", col("_bdf") + coalesce(col("_hdf"), lit(0L)))
      .withColumn("_keeper",
        least(col("_bmin"), coalesce(col("_hkeeper"), col("_bmin"))))
      .filter(col("_df") >= 2 && col("_df") <= dfCap &&
        col(idCol) =!= col("_keeper"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("_cuts"))
    rewriteFromCutLists(batch, cutLists, gramLen, textCol, idCol)
  }

  def incrementalSubstringBatch(history: DataFrame, batch: DataFrame,
      gramLen: Int = 100, modP: Int = 4, minShared: Int = 2, dfCap: Int = 50,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def posts(df: DataFrame, isNew: Boolean): DataFrame = df.select(
      col(idCol),
      explode(charGramFingerprints(col(textCol), gramLen, modP)).as("gh"))
      .withColumn("is_new", lit(isNew))
    val sized = posts(history, isNew = false)
      .unionByName(posts(batch, isNew = true))
      .withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("gh")))
      .filter(col("df") <= dfCap)
      .drop("df")
    val newSide = sized.filter(col("is_new"))
      .select(col("gh"), col(idCol).as("bid"))
    val partners = sized.select(col("gh"), col(idCol).as("pid"),
      col("is_new").as("p_new"))
    val rejected = newSide.join(partners, Seq("gh"))
      .filter(col("pid") =!= col("bid"))
      .groupBy(col("bid"), col("pid"), col("p_new"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      // reject on: any history partner, or an earlier (smaller-id) batch doc
      .filter(!col("p_new") || col("pid") < col("bid"))
      .select(col("bid").as(idCol)).distinct()
    batch.join(rejected, Seq(idCol), "left_anti")
  }

  /** Substring-dedup removal (keep-first policy, mirroring
    * [[dropNearDups]]; compose with `dropByComponents` for the
    * transitive variant).
    */
  def dropSubstringDups(docs: DataFrame, gramLen: Int = 100, modP: Int = 4,
      minShared: Int = 2, dfCap: Int = 50,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val losers = substringDupPairs(docs, gramLen, modP, minShared, dfCap,
        textCol, idCol)
      .select(col("id2").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Dedup-threshold sensitivity curve — the audit run before PICKING a
    * near-dup threshold: for each candidate threshold, how many verified
    * pairs still qualify and how many documents keep-first dedup would
    * drop. One pair-pipeline pass at the LOOSEST threshold feeds every
    * curve point (the pair set at a tighter threshold is a subset, so a
    * per-pair threshold explode + filter replays all cuts without
    * re-running LSH); the curve aggregate is |thresholds|×pairs rows,
    * pair-bounded, never corpus-bounded. Thresholds compare against the
    * ROUNDED verified Jaccard `verifiedNearDups` emits, so an external
    * replayer cuts identically.
    */
  def dedupThresholdCurve(docs: DataFrame,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val pairs = verifiedNearDups(docs, thresholds.min, textCol, idCol)
    val curve = pairs
      .select(col("jaccard"), col("id2"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id2")).as("n_docs_dropped"))
    // every REQUESTED threshold gets an explicit row — a point with no
    // qualifying pairs reports 0/0 rather than silently vanishing from
    // the audit (curve consumers iterate the thresholds they asked for)
    docs.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
      .join(curve, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
  }

  /** Near-dup removal over the exact n-gram Jaccard pair graph (keep-first,
    * mirroring `dropNearDups`' policy; compose with `dropByComponents` for
    * the transitive variant).
    */
  def dropNgramJaccardDups(docs: DataFrame, threshold: Double = 0.8,
      shingleN: Int = 3, minShared: Int = 2, dfCap: Int = 100,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val losers = ngramJaccardPairs(docs, threshold, shingleN, minShared,
        dfCap, textCol, idCol)
      .select(col("id2").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------ connected components

  /** Connected components of an undirected edge list via alternating
    * large-star / small-star contractions (the MapReduce-CC formulation of
    * Kiveris et al., "Connected Components in MapReduce and Beyond"): each
    * round is a per-node window-min plus a regroup, and the edge set
    * provably contracts to per-component stars in O(log² n) rounds
    * (O(log n) in practice) — independent of component DIAMETER, which is
    * what kills plain label propagation on a long near-dup chain at scale.
    * Lineage is truncated every round (`localCheckpoint`), so the plan does
    * not grow with iterations. Input: two columns (either names); output:
    * (node, component) for every node appearing in an edge, where
    * component = the minimum node id of its CC.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val e = ccConvergedStars(edges, maxIter)
    // member rows are unique by the star property; only the (root, root)
    // rows need dedup, and that distinct runs over one row per component
    e.select(col("u").as("node"), col("v").as("component"))
      .union(e.select(col("v").as("node"), col("v").as("component")).distinct())
  }

  /** The contraction loop behind [[connectedComponents]]: returns the
    * CONVERGED star edge set — exactly one row (node, root) per non-root
    * node, root = its component's minimum id. Callers that only need the
    * member→root map (dedup keeps) read it straight off this set and skip
    * `connectedComponents`' final union/distinct, which exists only to
    * add the (root, root) rows.
    *
    * Convergence is detected by a DETERMINISTIC one-job star-set test
    * instead of comparing successive edge sets: both contraction
    * operators preserve connectivity and orient every output edge
    * member→root (u > v), so the state is final exactly when it is a
    * disjoint union of stars — no node appears twice on the member side,
    * and no node appears on both sides. That test (one groupBy over the
    * tagged endpoint union) fires in the round convergence HAPPENS,
    * where the previous next-vs-previous comparison (two counts plus an
    * `except` anti-join per round) needed one extra full round just to
    * observe stability — and a star set's roots are provably their
    * component minima (edges always point u > v), so stopping early
    * cannot return a wrong or partial assignment.
    *
    * `canonicalMemberRoot` lets callers that already guarantee distinct
    * (smaller, larger) pairs — every pair generator in this file — skip
    * the defensive self-loop filter / reorientation / dedup shuffle; the
    * input is still checkpointed once so the (expensive) pair lineage is
    * never replayed inside the loop.
    *
    * SIZE-CONDITIONAL local solve: after LSH banding + verification the
    * pair graph is orders of magnitude smaller than the corpus (near-dups
    * are a minority; at sf0.1 it's ~256 edges for 50k docs). Below
    * `localMaxEdges` edges the distributed loop's per-round cost is pure
    * job/shuffle latency — a driver-side union-find over the collected
    * edge list returns the identical star set in one job's time. The
    * threshold bounds driver memory explicitly (default 4M edges ≈ tens
    * of MB of boxed ids — far under any sane driver heap; override via
    * SPARK_GRAFT_CC_LOCAL_MAX, 0 forces the distributed path). Above it,
    * the contraction loop runs exactly as before — this is the same
    * small-side/big-side regime split Spark itself applies to joins.
    */
  private[graft] def ccConvergedStars(edges: DataFrame, maxIter: Int = 50,
      canonicalMemberRoot: Boolean = false,
      localMaxEdges: Long = ccLocalMaxEdges): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")

    // large-star: every strictly-larger neighbor of u links to
    // m = min(N(u) ∪ {u}). No dedup: duplicates cannot change small-star's
    // window min, the row count is bounded by |sym| = 2|e| either way, and
    // the dedup shuffle cost more than the duplicate rows it removed
    // (small-star's distinct still bounds the per-round edge set).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      sym
        .withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star: group by the larger endpoint; every smaller neighbor and
    // the node itself link to the minimum neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val withM = dir.withColumn("m", min(col("v")).over(w))
      withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // star set ⟺ every member (u-side) node appears exactly once and
    // never as a root (v-side): one shuffle on the node id, no join
    def isStarSet(e: DataFrame): Boolean =
      e.select(col("u").as("n"), lit(1L).as("a"), lit(0L).as("b"))
        .union(e.select(col("v").as("n"), lit(0L).as("a"), lit(1L).as("b")))
        .groupBy(col("n"))
        .agg(sum(col("a")).as("a"), sum(col("b")).as("b"))
        .filter(col("a") > 1 || (col("a") === 1 && col("b") > 0))
        .isEmpty

    var e = (if (canonicalMemberRoot) edges.toDF("u", "v")
      else edges.toDF("u", "v")
        .filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct())
      .localCheckpoint()
    // count is a cheap scan over the just-materialized checkpoint blocks
    if (e.count() <= localMaxEdges && idOrdering(e.schema.head.dataType).isDefined)
      return localStars(e)
    // contract FIRST, then test: real pair graphs are essentially never
    // star-shaped on arrival, so testing the input wastes a job in the
    // common case — and contracting an already-star set is the identity,
    // so skipping the input test cannot change the result
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint()
      converged = isStarSet(e)
      i += 1
    }
    // fail loudly rather than return a partially-contracted (wrong) result
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    e
  }

  /** Driver-memory bound for [[ccConvergedStars]]' local solve, in edges. */
  private[graft] val ccLocalMaxEdges: Long =
    sys.env.get("SPARK_GRAFT_CC_LOCAL_MAX").map(_.toLong).getOrElse(1L << 22)

  /** Total order on the external (Row-level) value of an id column, for
    * the local CC solve's min-root selection. None for types no pair
    * generator produces — the caller then stays on the distributed path.
    */
  private def idOrdering(dt: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case ShortType => Some(Ordering.by((x: Any) => x.asInstanceOf[Short]))
      case StringType => Some(Ordering.by((x: Any) => x.asInstanceOf[String]))
      case _ => None
    }
  }

  /** Driver-side union-find over a (checkpointed, size-bounded) edge list:
    * returns the same converged star set as the contraction loop — one
    * (member, min-root) row per non-root node — as a local relation, which
    * downstream joins then broadcast instead of shuffling. Union by size +
    * path compression; the min id per component is resolved in a final
    * pass so union order never affects the result.
    */
  private def localStars(e: DataFrame): DataFrame = {
    val ord = idOrdering(e.schema.head.dataType).get
    val parent = new java.util.HashMap[Any, Any]()
    val size = new java.util.HashMap[Any, java.lang.Long]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    def add(x: Any): Unit =
      if (!parent.containsKey(x)) { parent.put(x, x); size.put(x, 1L) }
    e.toLocalIterator().forEachRemaining { row =>
      val a = row.get(0); val b = row.get(1)
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (big, small) =
          if (size.get(ra) >= size.get(rb)) (ra, rb) else (rb, ra)
        parent.put(small, big)
        size.put(big, size.get(big) + size.get(small))
      }
    }
    // min id per component root (union order is size-driven, not id-driven)
    val minOf = new java.util.HashMap[Any, Any]()
    val nodes = parent.keySet().toArray
    nodes.foreach { x =>
      val r = find(x)
      val m = minOf.get(r)
      if (m == null || ord.lt(x, m)) minOf.put(r, x)
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    nodes.foreach { x =>
      val m = minOf.get(find(x))
      if (x != m) rows.add(org.apache.spark.sql.Row(x, m))
    }
    e.sparkSession.createDataFrame(rows, e.schema)
  }

  /** Keep exactly one document (the minimum id) per connected component of
    * the given pair graph; documents in no pair are untouched. The losers
    * are read straight off the converged star set's non-root side — see
    * [[ccConvergedStars]]. Set `pairsCanonical` only when `pairs` is
    * already distinct with first column < second column (every pair
    * generator in this file) — it skips the defensive canonicalization
    * shuffle.
    */
  def dropByComponents(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", pairsCanonical: Boolean = false): DataFrame = {
    val e =
      if (pairsCanonical)
        ccConvergedStars(pairs.toDF("v", "u").select(col("u"), col("v")),
          canonicalMemberRoot = true)
      else ccConvergedStars(pairs)
    docs.join(e.select(col("u").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Keep the BEST-scoring document per connected component (ties break to
    * the minimum id) — the curation policy real corpus pipelines usually
    * want over min-id keeps: within a near-dup cluster, retain the highest
    * quality copy. `score` is evaluated over `docs`' columns (e.g.
    * `TextAnalysis.qualityScore(col("text"))`); round it if an external
    * replayer must reproduce the ordering. The per-component argmax is a
    * window partitioned by component — clusters, not the corpus, bound the
    * window size.
    */
  def keepBestByComponents(docs: DataFrame, pairs: DataFrame, score: Column,
      idCol: String = "doc_id", pairsCanonical: Boolean = false): DataFrame = {
    val stars =
      if (pairsCanonical)
        ccConvergedStars(pairs.toDF("v", "u").select(col("u"), col("v")),
          canonicalMemberRoot = true)
      else ccConvergedStars(pairs)
    val members = stars.select(col("u").as("node"), col("v").as("component"))
      .union(stars.select(col("v").as("node"), col("v").as("component")).distinct())
    // join FIRST, score AFTER: the score expression then evaluates only on
    // component members (near-dups are a minority of the corpus), not on
    // every document — at 30× this halved the query
    val scored = docs
      .join(members.withColumnRenamed("node", idCol), idCol)
      .select(col(idCol).as("node"), col("component"), score.as("_score"))
    val losers = scored
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("component")
          .orderBy(col("_score").desc, col("node").asc)))
      .filter(col("_rn") > 1)
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[contaminationPairs]] with a Bloom-filter pre-filter on the corpus
    * side — the variant for when the probe/eval shingle set is too large
    * to broadcast exactly (a full eval-suite sweep can carry tens of
    * millions of shingles; an exact broadcast hash set of those is GBs,
    * a Bloom filter of them is MBs). Identical OUTPUT by construction:
    * the Bloom stage only discards corpus shingles that definitely
    * don't occur in the probe (no false negatives), and everything that
    * survives still flows through the exact semi-join + df-cap + pair
    * aggregation of the exact path, which removes the false positives.
    *
    * Spark-first mechanics: the filter is built DISTRIBUTED by Spark's
    * own `BloomFilterAggregate` (the expression behind runtime join
    * bloom pruning, here driven explicitly) over xxhash64(shingle), and
    * probed scan-side via `BloomFilterMightContain` with the serialized
    * filter inlined as a literal — so the corpus scan drops
    * non-candidate postings before any join, shuffle, or broadcast of
    * the probe set. Only the compact filter (not the shingle set)
    * transits the driver. Sized by `expectedProbeShingles`/`fpp` with
    * m = -n·ln(p)/ln²2 bits.
    */
  def bloomContaminationPairs(corpus: DataFrame, probe: DataFrame,
      shingleN: Int = 3, minShared: Int = 2, dfCap: Int = 100,
      expectedProbeShingles: Long = 1L << 20, fpp: Double = 0.03,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    def shingled(df: DataFrame, out: String): DataFrame = df.select(
      col(idCol).as(out),
      explode(wordShingles(lower(col(textCol)), shingleN)).as("shingle"))
    val p = shingled(probe, "probe_id")

    val numBits = math.max(64L,
      math.ceil(-expectedProbeShingles * math.log(fpp) /
        (math.log(2) * math.log(2))).toLong)
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(
        GraftBridge.expression(xxhash64(col("shingle"))),
        Literal(expectedProbeShingles), Literal(numBits))
        .toAggregateExpression())
    val bloomBytes = p.select(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)

    val mightContain = GraftBridge.column(
      BloomFilterMightContain(
        Literal(bloomBytes, BinaryType),
        GraftBridge.expression(xxhash64(col("shingle")))))

    // bloom-surviving corpus postings are a sliver of the corpus, so the
    // exact semi-join that kills false positives can shuffle both sides
    // instead of broadcasting the (large) probe set; from there the
    // pipeline is exactly contaminationPairs' — df computed after the
    // semi-join equals the corpus-wide df of every joinable shingle.
    val relevant = shingled(corpus, "corpus_id")
      .filter(mightContain)
      .join(p.select(col("shingle")).distinct(), Seq("shingle"))
    val capped = relevant
      .withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("shingle")))
      .filter(col("df") <= dfCap)
      .drop("df")
    capped.join(p, Seq("shingle"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .groupBy(col("corpus_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Per-eval-document contamination report over [[contaminationPairs]]:
    * how many corpus documents share ≥ `minShared` discriminative shingles
    * with each probe doc, the worst overlap, and the boolean gate — the
    * artifact an eval-decontamination run actually publishes. Probe docs
    * with no hits are kept (n_hits = 0), so the report is a total function
    * of the eval set.
    */
  def contaminationReport(corpus: DataFrame, probe: DataFrame,
      shingleN: Int = 3, minShared: Int = 2, dfCap: Int = 100,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val agg = contaminationPairs(corpus, probe, shingleN, minShared, dfCap,
        textCol, idCol)
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("shared")).as("max_shared"))
    probe.select(col(idCol).as("probe_id"))
      .join(agg, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Opt-in TRANSITIVE near-dup removal: cluster the verified-pair graph
    * into connected components and keep only each component's minimum-id
    * doc — an a↔b↔c chain keeps exactly one document even when a↮c,
    * unlike `dropNearDups`' single-pass keep-first policy (which keeps a,
    * drops b and c). Costs the CC iteration on top of pair verification;
    * the pair count — not the corpus — bounds the iterative work, so the
    * overhead is small whenever near-dups are a minority of the corpus.
    */
  def dropNearDupsCC(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame =
    dropByComponents(docs,
      verifiedNearDups(docs, threshold, textCol, idCol, k, bands, shingleN)
        .select(col("id1"), col("id2")),
      idCol, pairsCanonical = true)

  /** Leakage-safe train/valid/test split: the split decision hashes the
    * document's near-dup COMPONENT ROOT, not the document itself, so
    * every member of a transitive near-dup cluster lands in the SAME
    * split — the standard defence against train→eval contamination
    * through near-duplicates, which a per-document hash split cannot
    * give (a pair split across train and test leaks the answer).
    * `pairs` is any canonical (id1 < id2) near-dup pair table from this
    * file's generators; isolated documents are their own group and
    * split independently. Decision: uniformHash(root) < trainCut →
    * train, < validCut → valid, else test — the thresholds are passed
    * as ABSOLUTE cuts, never summed (0.8 + 0.1 is 0.9000000000000001
    * in doubles, which an external replay comparing against the
    * literal 0.9 would miss), so the md5 decision replays exactly and
    * is FROZEN under corpus growth for unchanged groups (append-only
    * refreshes don't reshuffle splits unless a new edge merges two
    * groups). Physical shape: the CC contraction on the (tiny) pair
    * graph, one left join onto docs, a scan-shaped hash decision.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
      trainCut: Double = 0.8, validCut: Double = 0.9,
      salt: String = "split", idCol: String = "doc_id"): DataFrame = {
    require(trainCut > 0 && trainCut <= validCut && validCut < 1,
      s"bad cuts: train=$trainCut valid=$validCut")
    val roots = ccConvergedStars(pairs, canonicalMemberRoot = true)
    docs
      .join(roots.select(col("u").as(idCol), col("v").as("_root")),
        Seq(idCol), "left")
      .withColumn("split_group", coalesce(col("_root"), col(idCol)))
      .withColumn("_h", Sampling.uniformHash(col("split_group"), salt))
      .withColumn("split",
        when(col("_h") < trainCut, "train")
          .when(col("_h") < validCut, "valid")
          .otherwise("test"))
      .select(col(idCol), col("split_group"), col("split"))
  }

  /** Incremental near-dup admission for a corpus-refresh batch: returns
    * the subset of `batch` to ADMIT into an already-curated `history` —
    * a batch doc is rejected when it is a verified near-dup (exact
    * Jaccard ≥ `threshold`) of any history doc, or of a smaller-id doc
    * in the same batch (the keep-first policy applied incrementally).
    * This is the daily-refresh shape of [[dropNearDups]]: history×history
    * pairs are NEVER generated — candidate generation joins only the
    * batch's band keys against the band universe, so per-refresh work
    * scales with |batch| · bucket-occupancy, not |corpus|². At scale the
    * history side's bands and shingle sets are a materialized index
    * (write `lshBands` output bucketed by (band, band_hash) and the
    * admission join is exchange-free on the history side); here both
    * sides are computed in-plan for gate self-containment.
    *
    * The bucket-size guard is applied over the COMBINED (history ∪
    * batch) bucket population — identical to what a whole-corpus
    * `candidatePairs` run applies, so an external replay over the full
    * corpus (the DuckDB oracle) matches this incremental formulation
    * decision-for-decision.
    */
  def incrementalDedupBatch(history: DataFrame, batch: DataFrame,
      threshold: Double = 0.8, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val hb = lshBands(history, textCol, idCol, k, bands, shingleN)
      .withColumn("is_new", lit(false))
    val nb = lshBands(batch, textCol, idCol, k, bands, shingleN)
      .withColumn("is_new", lit(true))
    val sized = hb.unionByName(nb)
      .withColumn("bucket_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "band_hash")))
      .filter(col("bucket_size") <= maxBucketSize)
    val newSide = sized.filter(col("is_new"))
      .select(col("band"), col("band_hash"), col(idCol).as("bid"))
    val partners = sized.select(col("band"), col("band_hash"),
      col(idCol).as("pid"), col("is_new").as("p_new"))
    val cands = newSide.join(partners, Seq("band", "band_hash"))
      .filter(col("pid") =!= col("bid"))
      .select("bid", "pid", "p_new").distinct()
    val sh = history.select(col(idCol), wordShingles(lower(col(textCol)), shingleN).as("sh"))
      .unionByName(batch.select(col(idCol),
        wordShingles(lower(col(textCol)), shingleN).as("sh")))
    val rejected = cands
      .join(sh.select(col(idCol).as("bid"), col("sh").as("shb")), "bid")
      .join(sh.select(col(idCol).as("pid"), col("sh").as("shp")), "pid")
      .withColumn("jaccard",
        size(array_intersect(col("shb"), col("shp"))).cast("double") /
          size(array_union(col("shb"), col("shp"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      // reject on: any history partner, or an earlier (smaller-id) batch doc
      .filter(!col("p_new") || col("pid") < col("bid"))
      .select(col("bid").as(idCol)).distinct()
    batch.join(rejected, Seq(idCol), "left_anti")
  }

  /** Materialize the history side's LSH band index as a bucketed table:
    * the one-time write that makes every later admission run
    * ([[incrementalDedupBatch]]'s band join) exchange-free on the history
    * side — only the (small) batch shuffles, to the index's bucket count.
    * Rewrite (or append) the admitted docs' bands after each refresh;
    * `DedupSpec` pins the exchange-free plan property.
    */
  def writeBandIndex(docs: DataFrame, table: String, buckets: Int,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 16, bands: Int = 4, shingleN: Int = 3): Unit =
    graft.sources.Bucketing.writeBucketed(
      lshBands(docs, textCol, idCol, k, bands, shingleN),
      table, Seq("band", "band_hash"), buckets)

  /** Streaming exact dedup with watermark-bounded state: the fingerprint is
    * the dedup key, and per-key state is EVICTED once the watermark passes
    * the key's event time. Plain `dropDuplicates("fingerprint")` would keep
    * fingerprint state forever (the watermark only drops late input rows
    * when the event-time column is not part of the dedup key) — the exact
    * unbounded-state failure mode of the reference's J1 state.
    * `dropDuplicatesWithinWatermark` is the Spark operator built for this
    * contract: duplicates are guaranteed deduped only while their first
    * sighting is within the watermark delay, which is the right trade at
    * 100 TB — bounded state, dedup horizon = `watermarkDelay`.
    */
  def streamingExactDedup(docs: DataFrame, watermarkDelay: String = "10 minutes",
      textCol: String = "text", tsCol: String = "ts"): DataFrame =
    docs
      .withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")

  // ------------------------------------------------- streaming near-dup

  /** Streaming incremental near-dup detection: as documents arrive, each is
    * checked against the docs already seen in its LSH buckets and candidate
    * pairs are emitted immediately — the stateful-enrichment pattern (J1)
    * applied to the dedup domain.
    *
    * Per (band, band_hash) bucket, state holds the (docId, signature) list;
    * a new arrival emits a pair for every stored doc whose
    * signature-estimated Jaccard (fraction of equal MinHash components —
    * the standard unbiased estimate) clears `threshold`, then appends
    * itself. Scale properties: candidates never leave their bucket (no
    * all-pairs), state per bucket is capped at `maxBucketSize` (arrivals
    * beyond the cap are checked but not stored, so a degenerate
    * all-identical stream cannot grow state), and an optional processing-
    * time TTL drops idle buckets. A pair colliding in b bands is emitted b
    * times (at-least-once semantics); run a batch `distinct` downstream or
    * key the sink by (id1, id2) for exactly-once materialization.
    */
  def streamingNearDupPairs(docs: DataFrame, threshold: Double = 0.5,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      maxBucketSize: Int = 1000,
      stateTtl: Option[java.time.Duration] = None,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = k / bands
    require(rows * bands == k, s"bands=$bands must divide k=$k")
    val sig = minHashSignature(wordShingles(lower(col(textCol)), shingleN), k)
    val banded = docs
      .select(col(idCol).cast("long").as("doc_id"), sig.as("sig"))
      .select(
        col("doc_id"), col("sig"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat(b.cast("string"), lit(":"),
            xxhash64(slice(col("sig"), b * rows + lit(1), lit(rows))).cast("string"))))
          .as("bucket"))
      .as[(Long, Seq[Long], String)]

    def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
      var eq = 0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
      if (n == 0) 0.0 else eq.toDouble / n
    }

    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    banded
      .groupByKey(_._3)
      .flatMapGroupsWithState[List[(Long, Seq[Long])], (Long, Long, Double)](
        OutputMode.Append, timeout) { (_, it, state: GroupState[List[(Long, Seq[Long])]]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var stored = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[(Long, Long, Double)]
          it.foreach { case (id, sigArr, _) =>
            stored.foreach { case (oid, osig) =>
              if (oid != id) {
                val est = estJaccard(sigArr, osig)
                if (est >= threshold)
                  out += ((math.min(id, oid), math.max(id, oid), est))
              }
            }
            if (stored.lengthCompare(maxBucketSize) < 0) stored = (id, sigArr) :: stored
          }
          state.update(stored)
          stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
          out.result().iterator
        }
      }
      .toDF("id1", "id2", "est_jaccard")
  }

  // -------------------------------------------------------------- simhash

  /** 60-bit SimHash over the token multiset: per-bit vote of each token's
    * md5-derived 60-bit hash, packed back into one long (portable to the
    * DuckDB oracle; a 64-bit xxhash64 variant exists as
    * `graft.functions.native.simHash64`). Near-dups have small Hamming
    * distance; bucketing by 15-bit bands gives the scale path (a dup pair
    * at distance ≤3 collides on ≥1 of 4 such bands).
    */
  def simHash(text: Column): Column =
    graft.functions.native.simHash60P(TextAnalysis.tokens(text))

  /** Hamming distance between two simhashes (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs bucketed by 4×15-bit bands. The
    * hamming filter runs BEFORE the distinct (cheap arithmetic prunes the
    * bulk of candidates ahead of the dedup shuffle), and `maxBucketSize`
    * caps degenerate buckets — large exact-duplicate families otherwise
    * make the within-bucket join quadratic.
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucketSize: Int = 1000): DataFrame = {
    val withSh = docs.select(col(idCol), simHash(col(textCol)).as("sh"))
    val banded = withSh.select(
      col(idCol), col("sh"),
      explode(array((0 until 4).map { b =>
        struct(
          lit(b).as("band"),
          shiftright(col("sh"), b * 15).bitwiseAND(0x7FFFL).as("band_key"))
      }: _*)).as("bb"))
      .select(col(idCol), col("sh"), col("bb.band"), col("bb.band_key"))
      .withColumn("bucket_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "band_key")))
      .filter(col("bucket_size") <= maxBucketSize)
    val l = banded.select(col("band"), col("band_key"), col(idCol).as("id1"), col("sh").as("sh1"))
    val r = banded.select(col("band"), col("band_key"), col(idCol).as("id2"), col("sh").as("sh2"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), hamming(col("sh1"), col("sh2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
