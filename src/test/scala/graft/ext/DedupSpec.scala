package graft.ext

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  test("substring span removal cuts shared runs everywhere but the keeper") {
    val shared = "0123456789ABCDEF" // 16 chars → 7 ten-char windows
    val corpus = Seq(
      (1L, shared + "!one"),           // keeper of the shared run
      (2L, "pre-" + shared + "-post"), // run cut: covered = [5, 21)
      (3L, "no duplication here at all"),
      (4L, "abcabcabcabcabc")          // internal repeats only: df = 1, intact
    ).toDF("doc_id", "text")
    val out = Dedup.removeSharedSubstrings(corpus, gramLen = 10, modP = 1)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((shared + "!one", 0L)))
    assert(out(2L) == (("pre--post", 16L)))
    assert(out(3L)._2 == 0L && out(4L)._2 == 0L)
    assert(out(4L)._1 == "abcabcabcabcabc")
  }

  test("leakage-safe split keeps near-dup clusters whole and replays the md5 decision") {
    val docs = (0L until 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // a transitive chain 0-1-2, a pair 5-6, everything else isolated
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id1", "id2")
    val got = Dedup.leakageSafeSplit(docs, pairs)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // clusters land whole: one group, one split, rooted at the min id
    assert(Seq(0L, 1L, 2L).map(got).distinct.size == 1 && got(0L)._1 == 0L)
    assert(got(5L) == got(6L) && got(5L)._1 == 5L)
    // independent replay of every decision (the q118-style external MD5)
    def u(g: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$g:split".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / 1.152921504606846976e18
    }
    got.foreach { case (id, (g, split)) =>
      val want = if (u(g) < 0.8) "train" else if (u(g) < 0.9) "valid" else "test"
      assert(split == want, s"doc $id group $g")
    }
    // all three splits are populated on 300 groups
    assert(got.values.map(_._2).toSet == Set("train", "valid", "test"))
  }

  test("winnowed pairs detect a shared run of exactly w+k-1 chars by construction") {
    // k=40, w=10 → any verbatim shared run of ≥ 49 code points MUST
    // yield a shared fingerprint (the mod-p sampler can miss it). The
    // planted run is exactly 49 chars — the guarantee's lower edge —
    // embedded at different offsets with disjoint surroundings.
    val run = (0 until 49).map(i => ('A' + (i * 7) % 26).toChar).mkString
    assert(run.length == 49)
    val corpus = Seq(
      (1L, "left-pad-one-" + run + "-tail-one-xxxxxxx"),
      (2L, "a different and longer left padding " + run + " other tail"),
      (3L, "totally unrelated content with no shared window of that size " +
        "and some more filler words to cross the window count")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowedDupPairs(corpus, k = 40, w = 10, minShared = 1)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incremental span removal matches the whole-corpus run on the batch") {
    val sAB = "0123456789ABCDEF"  // shared hist↔batch, hist keeper (id 1)
    val sBB = "QRSTUVWXYZqrstuv"  // shared batch↔batch, batch keeper (id 2)
    val sBH = "ghijklmnopGHIJKL"  // shared batch↔hist, BATCH keeper (id 0)
    val corpus = Seq(
      (0L, sBH + "!b0"),             // batch: union keeper of sBH → uncut
      (1L, sAB + "!h1"),             // hist:  keeper of sAB
      (2L, "x-" + sAB + "-y " + sBB), // batch: sAB cut (hist keeper), sBB kept (batch keeper)
      (3L, "hh-" + sBH + "-hh"),     // hist:  would be cut by a full run — but published
      (4L, "z" + sBB + "z")          // batch: sBB cut (earlier batch keeper)
    ).toDF("doc_id", "text")
    val isBatch = col("doc_id") % 2 === 0
    val inc = Dedup.removeSharedSubstringsIncremental(
      corpus.filter(isBatch),
      Dedup.substringFingerprintSnapshot(
        corpus.filter(!isBatch), gramLen = 10, modP = 1),
      gramLen = 10, modP = 1)
      .as[(Long, String, Long)].collect().toSet
    val full = Dedup.removeSharedSubstrings(corpus, gramLen = 10, modP = 1)
      .filter(isBatch)
      .as[(Long, String, Long)].collect().toSet
    assert(inc == full)
    val m = inc.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(0L) == ((sBH + "!b0", 0L)))       // batch doc IS the keeper
    assert(m(2L)._2 == 16L)                    // sAB span cut, sBB kept
    assert(m(4L) == (("zz", 16L)))             // batch-internal dup cut
  }

  test("span removal cuts the right spans behind supplementary-plane chars") {
    // Each 🦀 is ONE code point but TWO UTF-16 units: a kernel emitting
    // UTF-16 positions would shift every cut in doc 2 right by 2 and
    // slice non-duplicate text. pos must be the code-point index Spark
    // SQL substring uses.
    val shared = "0123456789ABCDEF" // 16 chars → 7 ten-char windows
    val corpus = Seq(
      (1L, shared + "!one"),
      (2L, "🦀🦀" + shared + "-post")
    ).toDF("doc_id", "text")
    val out = Dedup.removeSharedSubstrings(corpus, gramLen = 10, modP = 1)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((shared + "!one", 0L)))
    assert(out(2L) == (("🦀🦀-post", 16L)))
  }

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup
    (3L, "completely different content about spark engines and data pipelines here"),
    (4L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG NEAR THE RIVER BANK TODAY") // case dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup: case-normalized duplicates group together, min id kept") {
    val groups = Dedup.exactDupGroups(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(groups(0L) == 3L) // docs 0,1,4 share a fingerprint; keep_id=0
    val kept = Dedup.dropExactDups(docs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 2L, 3L))
  }

  test("minhash/LSH: near-dup pair found, unrelated pair absent, pairs band-bounded") {
    val pairs = Dedup.candidatePairs(docs, k = 16, bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical → all bands collide
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists { case (x, y) => Set(x, y).contains(3L) && Set(x, y).intersect(Set(0L, 1L, 2L)).nonEmpty } ||
      // doc 3 shares no shingles with 0/1/2: a collision would be a hash fluke
      false)
    val verified = Dedup.verifiedNearDups(docs, threshold = 0.5, k = 16, bands = 8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(verified.contains((0L, 1L)) && verified.contains((0L, 2L)))
    assert(!verified.exists { case (x, y) => x == 3L || y == 3L })
  }

  test("verified jaccard matches hand computation") {
    val two = Seq(
      (0L, "a b c d e f"),
      (1L, "a b c d e g")).toDF("doc_id", "text")
    // 3-shingles: doc0 {abc,bcd,cde,def}, doc1 {abc,bcd,cde,deg} → J = 3/5
    val j = Dedup.verifiedNearDups(two, threshold = 0.1, k = 16, bands = 16)
      .select("jaccard").as[Double].collect()
    assert(j.length == 1 && math.abs(j.head - 0.6) < 1e-9)
  }

  test("substring dedup: planted shared 40-char run found, disjoint docs absent") {
    val run = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMN" // 50 chars
    val docs3 = Seq(
      (0L, "prefix one " + run + " suffix alpha"),
      (1L, "totally different lead-in " + run + " and another tail"),
      (2L, "no shared runs here at all just ordinary filler text long enough to window"),
      (3L, "short doc") // < gramLen: contributes no fingerprints
    ).toDF("doc_id", "text")
    // modP = 1 is exact recall: a shared >= 40-char run MUST pair, and the
    // shared count is exactly the fully-contained windows of the shared
    // run — both docs flank `run` with a space, so the run is 52 chars
    // and contributes 52-40+1 = 13 windows (boundary-straddling windows
    // differ by construction)
    val pairs = Dedup.substringDupPairs(docs3, gramLen = 40, modP = 1, minShared = 1)
      .select("id1", "id2", "shared").as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((0L, 1L, 13L)))
    // content sampling keeps a window iff its HASH (not position) passes
    // the coin, so whatever modP selects, it selects on both sides: any
    // surviving pair must still be (0,1)
    val sampled = Dedup.substringDupPairs(docs3, gramLen = 40, modP = 4, minShared = 1)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(sampled.subsetOf(Set((0L, 1L))))
    val kept = Dedup.dropSubstringDups(docs3, gramLen = 40, modP = 1, minShared = 1)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 2L, 3L))
  }

  test("incremental substring admission matches the whole-corpus replay") {
    val run = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMN"
    val all = Seq(
      (0L, "history doc carrying " + run + " the shared payload"),
      (1L, "unrelated history material with nothing shared at all"),
      (2L, "batch doc also carrying " + run + " inside it"), // rejected: history link
      (3L, "fresh batch content with no duplicated runs anywhere"), // admitted
      (4L, "batch doc also carrying " + run + " inside it padded") // rejected: link to 0 (and 2)
    ).toDF("doc_id", "text")
    val history = all.filter(col("doc_id") < 2L)
    val batch = all.filter(col("doc_id") >= 2L)
    val admitted = Dedup.incrementalSubstringBatch(history, batch,
        gramLen = 40, modP = 1, minShared = 1)
      .select("doc_id").as[Long].collect().sorted
    assert(admitted.toSeq == Seq(3L))
    // whole-corpus replay: batch minus docs paired to history or an
    // earlier batch doc — the q107 oracle's decision rule
    val pairs = Dedup.substringDupPairs(all, gramLen = 40, modP = 1, minShared = 1)
      .select("id1", "id2").as[(Long, Long)].collect()
    val batchIds = Set(2L, 3L, 4L)
    val rejected = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .collect { case (b, x) if batchIds.contains(b) &&
        (!batchIds.contains(x) || x < b) => b }.toSet
    assert((batchIds -- rejected).toSeq.sorted == admitted.toSeq)
  }

  test("containment pairs a quoted subset that jaccard misses") {
    // doc 1 = doc 0's text embedded in a much longer doc: containment of
    // doc0's shingles in doc1 is 1.0, jaccard is far below any threshold
    val quoted = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta " +
        (1 to 20).map(i => s"filler$i word$i extra$i").mkString(" ")),
      (2L, "unrelated content entirely different subject")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(quoted, threshold = 0.9)
      .select("id1", "id2", "containment").as[(Long, Long, Double)].collect()
    assert(cont.toSeq == Seq((0L, 1L, 1.0)))
    // the jaccard path at the same bar finds nothing
    assert(Dedup.ngramJaccardPairs(quoted, threshold = 0.5).isEmpty)
  }

  test("ngram jaccard: exact recall via posting join, df cap prunes boilerplate") {
    // doc0/doc1 share 3 of 5 distinct 3-shingles (J = 0.6); doc2 unrelated
    val three = Seq(
      (0L, "a b c d e f"),
      (1L, "a b c d e g"),
      (2L, "x y z w v u")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(three, threshold = 0.5)
      .select("id1", "id2", "shared", "jaccard")
      .as[(Long, Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((0L, 1L, 3L, 0.6)))
    // minShared=4 demands more shared shingles than the pair has → empty
    assert(Dedup.ngramJaccardPairs(three, threshold = 0.5, minShared = 4).isEmpty)
    // dfCap=1 drops every shingle the pair shares (df=2) → no candidates
    assert(Dedup.ngramJaccardPairs(three, threshold = 0.5, dfCap = 1).isEmpty)
    // keep-first drop removes the larger id of the verified pair
    val kept = Dedup.dropNgramJaccardDups(three, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 2L))
  }

  test("ngram jaccard agrees with the LSH-verified path on the shared corpus") {
    // both paths verify exact jaccard, so on pairs BOTH generate the values
    // must agree; the exact path may only ever find MORE pairs (no
    // probabilistic misses), never fewer with a permissive df cap
    val lsh = Dedup.verifiedNearDups(docs, threshold = 0.5)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.5, minShared = 1,
        dfCap = 1000)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (k, j) => assert(math.abs(exact(k) - j) < 1e-9) }
  }

  test("ngram pair pre-filter is bit-identical to brute force under df capping") {
    // The algebraic pre-filter in ngramJaccardPairs/containmentPairs prunes
    // candidates using `shared + min(capped)` as an intersection upper
    // bound. Its safety hinges on the capped-shingle credit, which the
    // driver corpus may never exercise (few shingles over the cap) — so
    // build a random corpus over a TINY vocabulary with a small dfCap,
    // forcing many shingles over the cap, and compare against a
    // brute-force reference for every metric/threshold combination.
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 6).map(i => s"w$i")
    val corpus = (0L until 60L).map { id =>
      val len = 6 + rnd.nextInt(14)
      (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val corpusDf = corpus.toDF("doc_id", "text")

    // reference shingle sets from the same shingle function (n=3)
    val sets: Map[Long, Set[String]] = corpusDf
      .select(col("doc_id"), Dedup.wordShingles(lower(col("text")), 3).as("sh"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, sh) => id -> sh.toSet }.toMap
    for ((dfCap, minShared) <- Seq((3, 1), (5, 2))) {
      val df: Map[String, Int] = sets.values.flatten.groupBy(identity)
        .map { case (s, occ) => s -> occ.size }
      // the scenario must actually exercise the capped-credit path
      assert(df.values.exists(_ > dfCap), s"no capped shingles at dfCap=$dfCap")
      val cands = for {
        a <- sets.keys.toSeq; b <- sets.keys.toSeq if a < b
        sharedKept = (sets(a) & sets(b)).count(s => df(s) <= dfCap)
        if sharedKept >= minShared
      } yield (a, b, sets(a) & sets(b))
      for (t <- Seq(0.3, 0.5, 0.8)) {
        val expJac = cands.collect { case (a, b, inter)
          if inter.size.toDouble / (sets(a) | sets(b)).size >= t =>
            (a, b) -> inter.size.toDouble / (sets(a) | sets(b)).size }.toMap
        val gotJac = Dedup.ngramJaccardPairs(corpusDf, t, 3, minShared, dfCap)
          .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
          .map { case (a, b, j) => (a, b) -> j }.toMap
        assert(gotJac.keySet == expJac.keySet,
          s"jaccard t=$t dfCap=$dfCap: missing=${expJac.keySet -- gotJac.keySet} " +
            s"extra=${gotJac.keySet -- expJac.keySet}")
        gotJac.foreach { case (k, j) => assert(math.abs(j - expJac(k)) < 1e-6) }

        val expCont = cands.collect { case (a, b, inter)
          if inter.size.toDouble / math.min(sets(a).size, sets(b).size) >= t =>
            (a, b) -> inter.size.toDouble / math.min(sets(a).size, sets(b).size) }.toMap
        val gotCont = Dedup.containmentPairs(corpusDf, t, 3, minShared, dfCap)
          .select("id1", "id2", "containment").as[(Long, Long, Double)].collect()
          .map { case (a, b, c) => (a, b) -> c }.toMap
        assert(gotCont.keySet == expCont.keySet,
          s"containment t=$t dfCap=$dfCap: missing=${expCont.keySet -- gotCont.keySet} " +
            s"extra=${gotCont.keySet -- expCont.keySet}")
        gotCont.foreach { case (k, c) => assert(math.abs(c - expCont(k)) < 1e-6) }
      }
      // the candidate generator's per-doc stats on the edge docs: id 60 has
      // NULL text, which wordShingles propagates and the exploded posting
      // stream drops, so it has NO stats row; ids 61/62 (empty/whitespace)
      // carry the kernel's single short-doc shingle, sz = 1
      val edgeDf = (corpus ++ Seq((60L, null.asInstanceOf[String]), (61L, ""),
        (62L, "  \t "))).toDF("doc_id", "text")
      val stats = Dedup.ngramCandidates(edgeDf, 3, minShared, dfCap, "text", "doc_id")
        ._3.collect().map(_.toSeq).toSet
      assert(!stats.exists(_.head == 60L), "stats must omit the null-text doc")
      assert(stats.exists(r => r.head == 61L && r(1) == 1L) &&
        stats.exists(r => r.head == 62L && r(1) == 1L),
        "short docs carry the kernel's single short-doc shingle")
    }
  }

  test("simhash: identical docs hamming 0; near-dups closer than unrelated") {
    val sh = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)))
    val pairs = Dedup.simHashPairs(docs, maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("dropNearDups keeps the smallest id per near-dup family") {
    val kept = Dedup.dropNearDups(docs, threshold = 0.5, k = 16, bands = 8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 1 (exact dup), 2 (near dup), 4 (case dup) all pair with 0 → dropped
    assert(kept == Seq(0L, 3L))
  }

  test("streaming exact dedup drops duplicate fingerprints across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = Dedup.streamingExactDedup(
      input.toDF().toDF("ts", "text"), watermarkDelay = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
      input.addData((t, "same doc"))
      q.processAllAvailable()
      input.addData((t, "same doc"), (t, "OTHER doc"))
      q.processAllAvailable()
      val texts = spark.sql("SELECT text FROM dedup_stream").as[String].collect().sorted
      assert(texts.toSeq == Seq("OTHER doc", "same doc"))
    } finally q.stop()
  }

  test("streaming near-dup pairs emit on arrival against bucket state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val pairs = Dedup.streamingNearDupPairs(input.toDF().toDF("doc_id", "text"))
    val q = pairs.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      input.addData((0L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM neardup_stream").count() == 0)
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different words entirely unrelated content here"))
      q.processAllAvailable()
      // the exact dup collides in every band (4 emissions, distinct → 1 pair
      // at estimate 1.0); the unrelated doc pairs with nothing
      val rows = spark.sql("SELECT DISTINCT id1, id2, est_jaccard FROM neardup_stream")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((0L, 1L, 1.0)))
    } finally q.stop()
  }

  test("streaming near-dup pairs reconcile with the batch LSH path on random corpora") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    // random corpus where every third doc is a one-word mutation of its
    // predecessor — a mix of near-dup families and unrelated docs
    def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
      val r = new scala.util.Random(seed)
      val base = (0 until n).map { _ =>
        (0 until (5 + r.nextInt(8)))
          .map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
      }.toArray
      (0 until n).map { i =>
        if (i % 3 == 2) {
          val toks = base(i - 1).split(" ")
          toks(r.nextInt(toks.length)) = vocab(r.nextInt(vocab.size))
          (i.toLong, toks.mkString(" "))
        } else (i.toLong, base(i))
      }
    }
    val t = 0.5
    var sawPairs = false
    for (seed <- Seq(42, 43, 44)) {
      val docs = corpus(seed, 30)
      val df = docs.toDF("doc_id", "text")
      // expected = batch candidate pairs (same band-slice bucketing, modulo
      // hash function) filtered by the SAME signature-estimated Jaccard the
      // streaming operator applies
      val sigs = df.select(col("doc_id"),
        Dedup.minHashSignature(Dedup.wordShingles(lower(col("text")))).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      def est(a: Seq[Long], b: Seq[Long]): Double =
        a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
      val batchCands = Dedup.candidatePairs(df).as[(Long, Long)].collect().toSet
      val expected = batchCands.filter { case (i, j) => est(sigs(i), sigs(j)) >= t }
      // stream the same corpus in three arrival chunks
      val input = MemoryStream[(Long, String)]
      val q = Dedup.streamingNearDupPairs(input.toDF().toDF("doc_id", "text"),
        threshold = t)
        .writeStream.format("memory").queryName(s"neardup_prop_$seed")
        .outputMode("append").start()
      val streamed =
        try {
          docs.grouped(10).foreach { chunk =>
            input.addData(chunk); q.processAllAvailable()
          }
          spark.sql(s"SELECT DISTINCT id1, id2 FROM neardup_prop_$seed")
            .as[(Long, Long)].collect().toSet
        } finally q.stop()
      assert(streamed == expected,
        s"seed=$seed: streamed ${streamed.size} pairs != batch-derived ${expected.size}; " +
          s"missing=${(expected -- streamed).take(5)} extra=${(streamed -- expected).take(5)}")
      // the VERDICT-stated containment: every exact-Jaccard-verified batch
      // pair whose signature estimate clears the threshold is streamed
      val verifiedEst = Dedup.verifiedNearDups(df, threshold = t)
        .select("id1", "id2").as[(Long, Long)].collect()
        .filter { case (i, j) => est(sigs(i), sigs(j)) >= t }.toSet
      assert(verifiedEst.subsetOf(streamed))
      sawPairs ||= expected.nonEmpty
    }
    assert(sawPairs, "property vacuous: no seed produced any near-dup pair")
  }

  test("contamination pairs: verbatim leakage found, boilerplate df-capped, self-pairs excluded") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),          // contains probe text
      (1L, "alpha beta gamma delta unrelated tail words"),  // shares 2 shingles with probe
      (2L, "totally different content with no overlap at all"),
      (3L, "alpha beta gamma delta epsilon zeta")           // exact copy of 0
    ).toDF("doc_id", "text")
    val probe = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val pairs = Dedup.contaminationPairs(corpus, probe, shingleN = 3, minShared = 3)
      .select("corpus_id", "probe_id", "shared").as[(Long, Long, Long)].collect().toSet
    // docs 0 and 3 share all 4 shingles with the probe; doc 1 only 2 (< min)
    assert(pairs == Set((0L, 100L, 4L), (3L, 100L, 4L)))
    // df cap: a shingle present in every corpus doc is dropped before the join
    val boiler = (0L until 10L).map(i => (i, s"common boiler plate suffix $i")).toDF("doc_id", "text")
    val bp = Seq((100L, "common boiler plate")).toDF("doc_id", "text")
    assert(Dedup.contaminationPairs(boiler, bp, shingleN = 3, minShared = 1, dfCap = 5).count() == 0)
    // self-pair exclusion when probe ⊆ corpus
    val self = Dedup.contaminationPairs(corpus, corpus.filter(col("doc_id") === 0), minShared = 1)
      .select("corpus_id").as[Long].collect().toSet
    assert(!self.contains(0L) && self.contains(3L))
  }

  test("bloom-prefiltered contamination returns exactly the exact-path result") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta unrelated tail words"),
      (2L, "totally different content with no overlap at all"),
      (3L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val probe = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val exact = Dedup.contaminationPairs(corpus, probe, shingleN = 3, minShared = 3)
      .select("corpus_id", "probe_id", "shared").as[(Long, Long, Long)].collect().toSet
    val bloom = Dedup.bloomContaminationPairs(corpus, probe, shingleN = 3, minShared = 3)
      .select("corpus_id", "probe_id", "shared").as[(Long, Long, Long)].collect().toSet
    assert(bloom == exact && exact.nonEmpty)
    // a deliberately tiny/over-saturated filter still cannot lose results
    // (false positives only): outputs stay identical
    val saturated = Dedup.bloomContaminationPairs(corpus, probe, shingleN = 3,
        minShared = 3, expectedProbeShingles = 4, fpp = 0.5)
      .select("corpus_id", "probe_id", "shared").as[(Long, Long, Long)].collect().toSet
    assert(saturated == exact)
  }

  test("connectedComponents contracts chains, stars, and isolated pairs") {
    // chain 1-2-3 (+ 3-4), separate pair 7-8, self-loop ignored
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L), (7L, 8L), (9L, 9L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
    // empty edge set converges to an empty mapping
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("a", "b")).count() == 0)
  }

  test("connectedComponents matches union-find on random graphs") {
    for (seed <- 1 to 5) {
      val r = new scala.util.Random(seed)
      val n = 40
      val edges = Seq.fill(50)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var a = x; while (parent(a) != a) a = parent(a); a }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val minByRoot = nodes.groupBy(x => find(x.toInt)).map { case (root, ns) => root -> ns.min }
      val expected = nodes.map(x => x -> minByRoot(find(x.toInt))).toMap
      val got = Dedup.connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"seed=$seed: CC disagrees with union-find")
      // both regimes of the size-conditional solve agree: the forced
      // distributed contraction loop and the forced driver-local
      // union-find return the identical converged star set
      def stars(localMax: Long) =
        Dedup.ccConvergedStars(edges.toDF("a", "b"), localMaxEdges = localMax)
          .as[(Long, Long)].collect().toSet
      assert(stars(0L) == stars(Long.MaxValue),
        s"seed=$seed: local union-find disagrees with contraction loop")
    }
  }

  test("local CC solve handles string ids and canonical member-root input") {
    val edges = Seq(("b", "a"), ("c", "b"), ("z", "y")).toDF("u", "v")
    val comp = Dedup.connectedComponents(edges)
      .as[(String, String)].collect().toMap
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a", "y" -> "y", "z" -> "y"))
    // canonicalMemberRoot path (member = first col, larger id) — the shape
    // dropByComponents/keepBestByComponents feed after relabeling pairs
    val stars = Dedup.ccConvergedStars(
        Seq(("b", "a"), ("c", "b"), ("z", "y")).toDF("u", "v"),
        canonicalMemberRoot = true)
      .as[(String, String)].collect().toSet
    assert(stars == Set(("b", "a"), ("c", "a"), ("z", "y")))
  }

  test("CC dedup keeps exactly one doc per transitive chain (a-b-c, a not~c)") {
    val corpus = Seq(
      (10L, "a"), (11L, "b"), (12L, "c"), (13L, "d"), (14L, "e"), (15L, "f"))
      .toDF("doc_id", "text")
    // verified pairs a↔b and b↔c but NOT a↔c, plus an unrelated pair d↔e:
    // keep-first (dropNearDups) would keep 10 and drop 11,12 — CC must give
    // the same members here, but by clustering, not pair direction
    val pairs = Seq((10L, 11L), (11L, 12L), (13L, 14L)).toDF("id1", "id2")
    val kept = Dedup.dropByComponents(corpus, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(10L, 13L, 15L))
    // direction-agnostic: reversed pair order changes nothing
    val keptRev = Dedup.dropByComponents(corpus,
      Seq((12L, 11L), (10L, 11L), (14L, 13L)).toDF("id1", "id2"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptRev == Seq(10L, 13L, 15L))
  }

  test("dropNearDupsCC subsumes dropNearDups on the shared corpus") {
    val cc = Dedup.dropNearDupsCC(docs, threshold = 0.5, k = 16, bands = 8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // same family structure as dropNearDups here (0,1,2,4 one component)
    assert(cc == Seq(0L, 3L))
  }

  test("keepBestByComponents keeps the best-scoring doc per cluster, min-id on ties") {
    val corpus = Seq(
      (10L, 1.0), (11L, 3.0), (12L, 2.0),  // chain: 11 has the best score
      (13L, 5.0), (14L, 5.0),              // tie: min id 13 wins
      (15L, 0.0))                          // isolated: untouched
      .toDF("doc_id", "score")
    val pairs = Seq((10L, 11L), (11L, 12L), (13L, 14L)).toDF("id1", "id2")
    val kept = Dedup.keepBestByComponents(corpus, pairs, col("score"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L, 13L, 15L))
    // contrast: min-id policy keeps 10, not the best-scoring 11
    assert(Dedup.dropByComponents(corpus, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(10L, 13L, 15L))
  }

  test("contamination report includes zero-hit probes and flags leaked ones") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally different words here entirely now"),
      (3L, "alpha beta gamma delta unrelated tail")).toDF("doc_id", "text")
    val probe = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // leaked: overlaps 1 and 3
      (200L, "nothing matches this probe at all ok")).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, probe, shingleN = 3, minShared = 2)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(rep(100L)._4 && rep(100L)._2 == 2L) // hits docs 1 and 3
    assert(rep(100L)._3 == 4L)                 // 4 shared shingles with doc 1
    assert(rep(200L) == ((200L, 0L, 0L, false)))
  }

  test("estimator calibration: identical docs estimate 1.0; est within stderr band") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta iota")   // near-dup of 1
    ).toDF("doc_id", "text")
    val cal = Dedup.estimatorCalibration(corpus)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // identical shingle sets: both estimate and exact are 1.0
    assert(cal((1L, 2L)) == ((1.0, 1.0)))
    // near-dups: exact J = 5/7; estimate is m/16 with stderr sqrt(J(1-J)/16)≈0.11
    val (est, exact) = cal((1L, 3L))
    assert(exact == math.floor(5.0 / 7.0 * 1e6) / 1e6 ||
      math.abs(exact - 5.0 / 7.0) < 1e-6)
    assert(est >= 0.0 && est <= 1.0 && math.abs(est - exact) < 0.45)
  }

  test("ingest-time span scrub: incremental form runs per micro-batch against a frozen snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val shared = "0123456789ABCDEF"
    val history = Seq(
      (1L, shared + "!hist"),
      (3L, "other history content entirely")).toDF("doc_id", "text")
    // the write-once side-input: history (gh, df, keeper), text never rescanned
    val snap = Dedup.substringFingerprintSnapshot(
      history, gramLen = 10, modP = 1).cache()
    val arrivals = Seq(
      (10L, "pre-" + shared + "-post"),  // carries the history run → cut
      (11L, "clean refresh document"))
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map[Long, (String, Long)]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.removeSharedSubstringsIncremental(
            batch, snap, gramLen = 10, modP = 1)
          .as[(Long, String, Long)].collect()
          .foreach(r => got.synchronized { got(r._1) = (r._2, r._3) })
        ()
      }.start()
    try {
      arrivals.grouped(1).foreach { c => input.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(got(10L) == (("pre--post", 16L)))
    assert(got(11L) == (("clean refresh document", 0L)))
  }

  test("ingest-time decontamination: the gate applies per micro-batch via foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val evalSet = Seq((900L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val flagged = scala.collection.mutable.Map[Long, Boolean]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // corpus side = the arriving batch, probe side = the static eval set
        val leaked = Dedup.contaminationPairs(batch, evalSet,
            shingleN = 3, minShared = 2)
          .select("corpus_id").as[Long].collect().toSet
        batch.select("doc_id").as[Long].collect()
          .foreach(id => flagged.synchronized { flagged(id) = leaked(id) })
        ()
      }.start()
    try {
      input.addData(
        (1L, "alpha beta gamma delta something else"), // leaked: 3-gram overlap
        (2L, "completely unrelated tokens only here"))
      q.processAllAvailable()
      input.addData((3L, "beta gamma delta epsilon tail words"))
      q.processAllAvailable()
      assert(flagged.synchronized(flagged.toMap) ==
        Map(1L -> true, 2L -> false, 3L -> true))
    } finally q.stop()
  }

  test("ingest-time admission: incrementalDedupBatch runs per micro-batch, admitted docs extend history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // history starts with one curated doc; each micro-batch's ADMITTED docs
    // are appended — the refresh loop a daily-crawl pipeline runs, where at
    // scale `history` is the corpus table plus its materialized band index
    var history = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ok = Dedup.incrementalDedupBatch(history, batch,
          threshold = 0.5, k = 16, bands = 8)
        val ids = ok.select("doc_id").as[Long].collect().sorted
        admitted.synchronized { admitted ++= ids }
        history = history.unionByName(ok.select("doc_id", "text"))
        ()
      }.start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // ~history → rejected
        (2L, "fresh unseen writing on distributed query planning and shuffle costs")) // admitted
      q.processAllAvailable()
      input.addData(
        (3L, "fresh unseen writing on distributed query planning and shuffle fees"), // ~doc 2 (now history) → rejected
        (4L, "entirely new subject matter covering vector search and quantization")) // admitted
      q.processAllAvailable()
      assert(admitted.synchronized(admitted.toList) == List(2L, 4L))
    } finally q.stop()
  }

  test("bucketed band index: admission band join is exchange-free on the history side") {
    val history = (0L until 200L)
      .map(i => (i, s"history document number $i about subject ${i % 7} with extra words"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1000L, "history document number 3 about subject 3 with extra words"),
      (1001L, "completely novel writing unseen before in any form")
    ).toDF("doc_id", "text")
    Dedup.writeBandIndex(history, "hist_band_idx", buckets = 4, bands = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Dedup.lshBands(batch, "text", "doc_id", k = 16, bands = 8)
        .withColumnRenamed("doc_id", "bid")
        .join(spark.table("hist_band_idx"), Seq("band", "band_hash"))
      val plan = joined.queryExecution.executedPlan.toString
      // exactly one shuffle: the batch side repartitioning to the index's
      // bucket layout; the history scan itself is never exchanged
      val exchanges = "(?<!Reused)Exchange".r.findAllIn(plan).length
      assert(exchanges == 1, s"want 1 exchange (batch side only):\n$plan")
      // and the join actually finds the near-dup partner
      assert(joined.filter(col("bid") === 1000L).count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS hist_band_idx")
    }
  }

  test("dup-cluster histogram counts families by multiplicity") {
    val corpus = Seq(
      (1L, "aa"), (2L, "AA "), (3L, "aa"),   // one family of 3 (normalized)
      (4L, "bb"), (5L, "bb"),                // one family of 2
      (6L, "cc"), (7L, "dd")                 // two unique docs
    ).toDF("doc_id", "text")
    val h = Dedup.dupClusterHistogram(corpus)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(h == Map(3L -> ((1L, 3L)), 2L -> ((1L, 2L)), 1L -> ((2L, 2L))))
  }

  test("LSH bucket-size guard drops degenerate buckets") {
    // 50 identical docs: one bucket of 50 → guard at 10 suppresses the blowup
    val many = (0L until 50L).map(i => (i, "same same same same text")).toDF("doc_id", "text")
    val guarded = Dedup.candidatePairs(many, maxBucketSize = 10).count()
    assert(guarded == 0)
    val unguarded = Dedup.candidatePairs(many, maxBucketSize = 1000).count()
    assert(unguarded == 50L * 49L / 2)
  }

  test("incremental admission: rejects near-dups of history and of earlier batch docs") {
    val history = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "completely different content about spark engines and data pipelines here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of history doc 10 → rejected (even though 5 < 10)
      (5L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),
      // unique → admitted
      (6L, "fresh unseen writing on distributed query planning and shuffle costs"),
      // near-dup of batch doc 6 (larger id) → rejected, 6 kept
      (7L, "fresh unseen writing on distributed query planning and shuffle fees"),
      // exact dup of history doc 11 → rejected
      (8L, "completely different content about spark engines and data pipelines here")
    ).toDF("doc_id", "text")
    val admitted = Dedup.incrementalDedupBatch(history, batch,
        threshold = 0.5, k = 16, bands = 8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(admitted == Seq(6L))
    // an empty batch admits nothing and an empty history rejects only intra-batch dups
    assert(Dedup.incrementalDedupBatch(history, batch.limit(0)).isEmpty)
    val noHist = Dedup.incrementalDedupBatch(history.limit(0), batch,
        threshold = 0.5, k = 16, bands = 8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(noHist == Seq(5L, 6L, 8L)) // 7 still loses to 6; 5 and 8 have no history to hit
  }

  test("threshold curve emits an explicit 0/0 row for thresholds with no pairs") {
    // two moderately similar docs (identical except one token) plus an
    // unrelated doc: some pairs exist at a loose threshold, none at 1.0
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj"),
      (2L, "aa bb cc dd ee ff gg hh ii zz"),
      (3L, "completely different content with other words here now ok")
    ).toDF("doc_id", "text")
    val curve = Dedup.dedupThresholdCurve(docs, thresholds = Seq(0.2, 1.0))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(curve.keySet == Set(0.2, 1.0), "every requested threshold present")
    assert(curve(0.2)._1 >= 1L, "loose threshold finds the near-pair")
    assert(curve(1.0) == ((0L, 0L)), "empty point reported explicitly, not omitted")
  }
}
