package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines, built
  * entirely from codegen'd built-in expressions (no UDFs): every function
  * here stays inside WholeStageCodegen and is oracle-expressible, so it
  * scales linearly with the scan.
  */
object TextAnalysis {

  /** Whitespace tokens, empty tokens dropped (split-on-space keeps the
    * semantics portable to the DuckDB oracle). Native codegen'd kernel —
    * the HOF formulation `filter(split(text, " "), _ =!= "")` pays
    * interpreted-lambda dispatch per token and dominated the langid /
    * quality profile at scale.
    */
  def tokens(text: Column): Column =
    graft.functions.native.whitespaceTokens(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count heuristic: word-piece splits on transitions
    * between letter/digit/punctuation classes, approximated as
    * words + digits-runs + punctuation-runs.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "[^A-Za-z0-9]+"), t => t =!= lit(""))) +
      size(filter(split(text, "[A-Za-z0-9 ]+"), t => t =!= lit("")))

  /** Normalized document fingerprint (exact-dup key): md5 of
    * lowercased, whitespace-trimmed text.
    */
  def fingerprint(text: Column): Column = md5(lower(trim(text)).cast("binary"))

  /** Rolling-hash (Rabin-Karp-style) content fingerprint over tokens:
    * polynomial accumulation modulo a Mersenne prime, kept within 2^31 so
    * the multiply never overflows ANSI long arithmetic; order-sensitive so
    * reorderings produce different prints (unlike a bag-of-words hash).
    * The per-token base hash is md5-derived (first 15 hex digits as a
    * 60-bit value) so a DuckDB oracle replays the identical fold:
    * `list_reduce(list_prepend(0, hashes), (a, h) -> (a*1000003 + h) % M)`.
    */
  def rollingHash(text: Column): Column = {
    val M = lit(2147483647L)
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) =>
        pmod(acc * lit(1000003L) +
          pmod(conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long"), M), M))
  }

  /** Quality-score features: character length, token count, punctuation
    * ratio, stopword ratio, mean token length. Composable into a single
    * 0..1 score.
    */
  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this")

  def punctRatio(text: Column): Column = {
    val len = length(text)
    when(len === 0, lit(0.0))
      .otherwise(
        (len - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
          len.cast("double"))
  }

  /** Stopword ratio from a pre-tokenized LOWERCASED token array — the
    * tokenize-once formulation for feature pipelines that compute several
    * token statistics in one pass (q62): tokenizing per-feature makes the
    * scan stage re-split the text up to ~7× per row.
    */
  def stopwordRatioFromTokens(ltoks: Column,
      stopwords: Seq[String] = DefaultStopwords): Column =
    when(size(ltoks) === 0, lit(0.0))
      .otherwise(
        graft.functions.native.arrayCountIn(ltoks, stopwords).cast("double") /
          size(ltoks).cast("double"))

  def stopwordRatio(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    stopwordRatioFromTokens(tokens(lower(text)), stopwords)

  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          size(toks).cast("double"))
  }

  /** Heuristic quality score in [0,1]: long-enough docs with moderate
    * punctuation and a natural-language stopword ratio score high.
    * `qualityScoreFromTokens` is the tokenize-once variant taking the raw
    * and lowercased token arrays as columns (see `stopwordRatioFromTokens`).
    */
  def qualityScoreFromTokens(text: Column, toks: Column, ltoks: Column): Column = {
    val lenScore = least(size(toks).cast("double") / lit(20.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * lit(4.0), lit(1.0))
    val swScore = least(stopwordRatioFromTokens(ltoks) * lit(5.0), lit(1.0))
    round((lenScore * lit(0.5) + punctScore * lit(0.25) + swScore * lit(0.25)), 6)
  }

  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text), tokens(lower(text)))

  /** Language-ID by marker-token voting: count hits of per-language marker
    * words, pick the argmax (deterministic tie-break by language order).
    * Marker lists are the classic top-stopwords per language; the same rule
    * is expressible in ANSI SQL for the oracle.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "los", "las", "una", "es"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  def markerHitsFromTokens(ltoks: Column, markers: Seq[String]): Column =
    graft.functions.native.arrayCountIn(ltoks, markers)

  def markerHits(text: Column, markers: Seq[String]): Column =
    markerHitsFromTokens(tokens(lower(text)), markers)

  def langIdFromTokens(ltoks: Column): Column = {
    // argmax as ONE array_max over (hits, -order, lang) structs: highest
    // hit count wins, ties break to the earliest language (max of -index).
    // Each marker count appears exactly once in the expression tree — the
    // naive when()-fold duplicates every earlier count into both branches
    // (2^langs copies), which is free under a Project (whole-stage CSE
    // collapses them) but catastrophic when predicate pushdown inlines the
    // expression into a Filter, whose codegen does NO subexpression
    // elimination (measured 55 s vs 0.4 s on the q65 sampling gate at 30×).
    val scored = LangMarkers.zipWithIndex.map { case ((lang, markers), i) =>
      struct(
        markerHitsFromTokens(ltoks, markers).as("h"),
        lit(-i).as("o"),
        lit(lang).as("lang"))
    }
    // 'und' sentinel at h=1 with the lowest order: it wins only when every
    // real language scores 0 (a real h>=1 beats it on the order tie-break),
    // which lets the result be ONE getField instead of a when() that would
    // evaluate the array_max twice
    val sentinel = struct(lit(1).as("h"), lit(-LangMarkers.size).as("o"),
      lit("und").as("lang"))
    array_max(array(scored :+ sentinel: _*)).getField("lang")
  }

  def langId(text: Column): Column = langIdFromTokens(tokens(lower(text)))

  /** Top-k characteristic terms per document by TF-IDF, with a RATIONAL
    * idf — score = tf · (N+1)/(df+1) — instead of the usual log form:
    * the ranking stays a pure integer-ratio computation that any engine
    * reproduces bit-exactly (ln() implementations differ by ULPs across
    * runtimes, which would break oracle hash comparison), and within a
    * fixed df the ordering is identical to log-idf. Drop-in log variant:
    * replace the score expression with tf · ln((N+1)/(df+1) + 1).
    *
    * Physical shape at scale: one shuffle to (doc, term) counts, the
    * document-frequency aggregate derives FROM those counts (map-side
    * combine both times), the corpus size joins in as a broadcast scalar,
    * and the per-doc top-k is a rank window — no step holds more than one
    * term-row per (doc, term). Column pruning gives the tf subtree
    * different shapes in the join's two branches, so Spark re-derives it
    * rather than reusing one exchange; at real scale materialize the tf
    * table first (one write) and run both the df aggregate and the join
    * from it.
    */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("term"))
    // `term` must survive to the output, but the df side and the df join
    // key are engine-internal — hash them (the [[trainBigramLm]] idiom):
    // the df aggregate and the join's sort move 8-byte longs, the term
    // string rides only the tf side it already lives on
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("ht", xxhash64(col("term")))
    val dfreq = tf.groupBy(col("ht")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "ht")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf").cast("double") * (col("n_docs") + lit(1)).cast("double") /
          (col("df") + lit(1)).cast("double"), 6))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("score").desc, col("term").asc)))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Gopher-style repetition signals per document: the fraction of tokens
    * taken by the single most frequent token, the fraction of bigrams taken
    * by the most frequent bigram, and the distinct/total token ratio —
    * the standard "repetitive document" quality filters for pretraining
    * corpora (high top-fractions / low distinct ratio ⇒ boilerplate or
    * degenerate text).
    *
    * Physical shape: ZERO shuffles. A document's tokens are already
    * co-located in its row, so per-doc frequency stats are a per-row
    * hashmap pass (native `TokenFreqStats` kernel, one for unigrams and
    * one over native `AdjacentBigrams` — bigrams keep duplicates, unlike
    * WordShingles' MinHash dedup: the signal IS the duplicate mass), and
    * the whole operator is scan → project — it rides the input
    * partitioning at any corpus size. (The first formulation was two
    * explode → groupBy(doc, term) → groupBy(doc) shuffle chains; the
    * kernel replaces ~4 corpus-wide exchanges and the token-volume
    * explode.) Documents with zero tokens produce no row (there is
    * nothing to measure); callers wanting them keep a left join on the
    * corpus.
    */
  def repetitionSignals(docs: DataFrame, topWordMax: Double = 0.12,
      topBigramMax: Double = 0.08, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    docs
      .select(col(idCol),
        graft.functions.native.tokenFreqStats(toks).as("u"),
        graft.functions.native.tokenFreqStats(
          graft.functions.native.adjacentBigrams(toks)).as("b"))
      .filter(col("u.n_total") > 0)
      .select(col(idCol),
        col("u.n_total").as("n_tokens"),
        col("u.n_distinct").as("n_distinct"),
        round(col("u.top_freq").cast("double") /
          col("u.n_total").cast("double"), 6).as("top_word_frac"),
        round(when(col("b.n_total") === 0, lit(0.0))
          .otherwise(col("b.top_freq").cast("double") /
            col("b.n_total").cast("double")), 6).as("top_bigram_frac"),
        round(col("u.n_distinct").cast("double") /
          col("u.n_total").cast("double"), 6).as("distinct_ratio"))
      .withColumn("repetitive",
        col("top_word_frac") > topWordMax || col("top_bigram_frac") > topBigramMax)
  }

  /** Vocabulary coverage report — the tokenizer-sizing artifact: terms
    * ranked by corpus frequency with each term's cumulative share of all
    * tokens ("a 32k vocab covers X% of the corpus" reads straight off
    * this). Token counts shuffle once to per-term aggregates (map-side
    * combined); the global rank + running sum go through
    * [[graft.operators.PrefixSum]] — range partition by (cnt desc, term),
    * parallel per-partition windows, broadcast prefix — so a web-scale
    * vocabulary (10^8 terms) never lands on one task. Coverage stays an
    * exact integer ratio until the final division, so external replay is
    * bit-stable.
    */
  def vocabCoverage(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("_total"))
    graft.operators.PrefixSum
      .withGlobalCumSum(counts,
        order = Seq(col("cnt").desc, col("term").asc),
        value = col("cnt"), cumCol = "cum_cnt", rankCol = Some("rank"))
      .crossJoin(broadcast(total))
      .select(col("term"), col("cnt"), col("rank").cast("long").as("rank"),
        round(col("cum_cnt").cast("double") / col("_total").cast("double"), 6)
          .as("coverage"))
  }

  /** Rare-token ratio — the OOV-ish quality signal (CCNet-family): per
    * document, the fraction of tokens whose corpus DOCUMENT frequency is
    * below `dfThreshold`. High ratios flag gibberish/noise; near-zero
    * ratios flag boilerplate. The honest scale shape: token explode →
    * per-term doc-frequency aggregate → term-keyed join back → per-doc
    * aggregate. The rare vocabulary is NOT broadcast: under Zipf most of
    * a web-scale vocabulary IS rare, so the rare set grows with the
    * corpus and only the shuffle join scales.
    */
  def rareTokenRatio(docs: DataFrame, dfThreshold: Long = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // term keys hashed — engine-internal (per-doc ratios out, the oracle
    // replays raw strings): the distinct, the df aggregate and the
    // token-volume join back all move 8-byte longs (the
    // [[trainBigramLm]] idiom, same collision class)
    val toks = docs.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("term"))
      .select(col(idCol), xxhash64(col("term")).as("ht"))
    val dfreq = toks.distinct()
      .groupBy(col("ht")).agg(count(lit(1)).as("df"))
    toks.join(dfreq, "ht")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("df") < dfThreshold, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_ratio",
        round(col("n_rare").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** PII patterns shared by the scrub and the oracle replay. Kept to the
    * regex intersection of Java's engine and RE2 (character classes,
    * bounded repetition, `\b`/`\d` in their ASCII meanings) so any
    * engine applies the identical automaton; no backreferences or
    * lookaround, which RE2 lacks.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** PII detection + redaction — the scrub pass every training-corpus
    * pipeline runs before packing: per doc, the email/IPv4/phone match
    * counts (over the original text) and the text with matches replaced
    * by `[EMAIL]`/`[IP]`/`[PHONE]`, in that order (emails first: the
    * email pattern spans dotted hosts that the IP pattern could
    * otherwise split). All regex evaluation is codegen'd
    * `RegExpReplace`/`RegExpCount` in one projection over the scan —
    * no shuffle, no UDF; at 100 TB this is a map-only pass.
    */
  def scrubPii(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      regexp_count(t, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(t, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(regexp_replace(t,
        EmailRe, "[EMAIL]"), Ipv4Re, "[IP]"), PhoneRe, "[PHONE]")
        .as("scrubbed"))
  }

  /** Corpus-global boilerplate scrub — the CCNet-style pass that strips
    * segments appearing in many documents (headers, footers, navigation
    * chrome) while keeping each document's unique content: documents are
    * cut into non-overlapping `segTokens`-token segments, a segment's
    * document frequency is computed corpus-wide, and segments present in
    * more than `maxDfFrac` of all documents are dropped before the text is
    * reassembled in order. Unlike doc-level dedup (q20/q42) this is an
    * intra-document REWRITE driven by corpus-global statistics.
    *
    * Output: (idCol, clean_text, n_kept) — documents whose every segment
    * is boilerplate produce no row (nothing survives the scrub), matching
    * the inner-join shape any SQL replay produces.
    *
    * Physical shape at scale: segmentation is a per-row `transform` inside
    * the scan projection (no token-level explode — one row per SEGMENT,
    * ~1/segTokens of the token volume); the df aggregate is one map-side
    * combined shuffle on the segment string; the threshold is a broadcast
    * one-row corpus count; reassembly shuffles segments once on the doc id.
    * The df threshold is RELATIVE (a fraction of corpus size), so the
    * operator's selectivity is scale-invariant — the same pipeline config
    * behaves identically at sf0.01 and at 100 TB.
    */
  def scrubBoilerplate(docs: DataFrame, segTokens: Int = 2,
      maxDfFrac: Double = 0.05, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    scrubBoilerplateAgainst(docs, segmentDf(docs, segTokens, textCol, idCol),
      docs.agg(count(lit(1)).as("n_docs")), segTokens, maxDfFrac, textCol, idCol)

  /** Exploded (idCol, idx, seg) segment rows: non-overlapping
    * `segTokens`-token slices. This IS [[Chunking.chunkTokens]] with
    * stride == chunkSize (overlap 0) — one segmentation implementation
    * to keep in sync with the DuckDB oracle, not two.
    */
  def segments(docs: DataFrame, segTokens: Int, textCol: String,
      idCol: String): DataFrame =
    Chunking.chunkTokens(docs, chunkSize = segTokens, stride = segTokens,
        textCol, idCol)
      .select(col(idCol), col("chunk_idx").as("idx"),
        col("chunk_text").as("seg"))

  /** Corpus-wide segment document frequencies: (hs = xxhash64(seg), df).
    * The key is hashed because it is engine-internal — the scrub only
    * equality-joins it and every emitted column is rebuilt from the
    * batch's own segment strings (the [[trainBigramLm]] idiom, same
    * collision class) — so this aggregate, the df join's sort and the
    * materialized snapshot all carry 8-byte longs instead of segment
    * strings. Materialize this once per corpus snapshot (one
    * map-side-combined shuffle) and feed it to
    * [[scrubBoilerplateAgainst]] for every subsequent batch — the
    * incremental-refresh path (see q90's admission pattern) that scrubs
    * new arrivals without rescanning 100 TB of history.
    */
  def segmentDf(docs: DataFrame, segTokens: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    segments(docs, segTokens, textCol, idCol)
      .groupBy(xxhash64(col("seg")).as("hs"))
      .agg(countDistinct(col(idCol)).as("df"))

  /** Scrub `batch` against a PRE-COMPUTED segment-df table and corpus
    * count (a one-row DataFrame with `n_docs`). `scrubBoilerplate` is
    * this applied corpus-against-itself; a production refresh applies it
    * batch-against-history so per-batch work scales with the batch, not
    * the corpus. Segments absent from `segDf` are treated as df=0 (kept):
    * a brand-new segment is by definition not boilerplate.
    */
  def scrubBoilerplateAgainst(batch: DataFrame, segDf: DataFrame,
      nDocs: DataFrame, segTokens: Int = 2, maxDfFrac: Double = 0.05,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    segments(batch, segTokens, textCol, idCol)
      .withColumn("hs", xxhash64(col("seg")))
      .join(segDf, Seq("hs"), "left")
      .crossJoin(broadcast(nDocs))
      .filter(coalesce(col("df"), lit(0L)).cast("double") <=
        lit(maxDfFrac) * col("n_docs").cast("double"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("seg")))),
            s => s.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))

  /** Add-k–smoothed word-bigram language model — the model behind a
    * CCNet-style (Wenzek et al., "CCNet", 2019) perplexity quality gate:
    * train a small LM on a trusted corpus slice, score every incoming
    * document by mean bigram log-probability, and flag documents whose
    * perplexity says they are far from the trusted distribution. The
    * reference pipeline has no model-based filter; this is the standard
    * companion to the heuristic gates in [[qualityScore]].
    *
    * `bigrams` is (h1 = xxhash64(w1), h12 = xxhash64(w1, w2), c12);
    * `histories` is (h1, c1 = Σ_w2 c12) — the history count is derived
    * from the bigram table so the two are always consistent; `vocab` is
    * a 1-row (v = |distinct training tokens|) frame kept as a plan (not
    * a collected scalar) and broadcast at scoring time. Keys are hashed
    * because they are engine-internal — see the note in
    * [[trainBigramLm]]. 100 TB: both tables are vocabulary-bounded
    * aggregates (not corpus-bounded — counts saturate, rows don't grow
    * past V and V²), produced by one tokenize pass + one shuffle;
    * scoring joins on h12 / h1 are plain equality joins AQE broadcasts
    * while the model is small and shuffles once it isn't.
    */
  final case class BigramLm(bigrams: DataFrame, histories: DataFrame,
      vocab: DataFrame, k: Double)

  /** Train a [[BigramLm]] over `train`'s `textCol` (lowercased whitespace
    * tokens — the oracle-portable tokenizer used corpus-wide here).
    */
  def trainBigramLm(train: DataFrame, k: Double = 0.5,
      textCol: String = "text"): BigramLm = {
    val toks = train.select(tokens(lower(col(textCol))).as("t"))
    // Model tables are keyed by xxhash64 of the token(s), not the token
    // strings — the q84 posting-key idiom (round 17): the key is
    // engine-INTERNAL (every emitted column is a per-document aggregate;
    // the oracle replays raw strings and only compares outputs), so the
    // requirement is injectivity-in-practice (collision P ≈ pairs·2⁻⁶⁴,
    // the accepted md5-60 class). h12 hashes the two tokens as separate
    // xxhash64 fields — no concat ambiguity — and every score join and
    // the train aggregates shuffle 8/16-byte longs instead of token
    // strings: q111 warm 5.8 → 3.8 s at the 30× probe, exact equality
    // checked both directions (OPTIMIZATION_r17.md, "Hashed
    // engine-internal join keys").
    val bigrams = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))")).as("p"))
      .select(xxhash64(col("p.w1")).as("h1"),
        xxhash64(col("p.w1"), col("p.w2")).as("h12"))
      .groupBy(col("h1"), col("h12"))
      .agg(count(lit(1)).as("c12"))
    val histories = bigrams.groupBy("h1").agg(sum(col("c12")).as("c1"))
    val vocab = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(xxhash64(col("w"))).cast("double").as("v"))
    BigramLm(bigrams, histories, vocab, k)
  }

  /** Per-document mean bigram log-probability + perplexity under `lm`,
    * with the standard three-way backoff: seen bigram →
    * ln((c12+k)/(c1+kV)); seen history, unseen continuation →
    * ln(k/(c1+kV)); unseen history → uniform −ln(V). Documents with
    * fewer than two tokens have no bigrams and are dropped (both engines
    * drop them identically). Scoring a stream against a trained model is
    * a stream-static join, so the gate is streaming-identical by
    * construction (same shape as `Sampling`'s rate gates).
    */
  def perplexityScores(docs: DataFrame, lm: BigramLm,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = lm.k
    val bg = docs
      .select(col(idCol), tokens(lower(col(textCol))).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))")).as("p"))
      .select(col(idCol), xxhash64(col("p.w1")).as("h1"),
        xxhash64(col("p.w1"), col("p.w2")).as("h12"))
    // join on BOTH hashes (h1 is h12-determined, so the extra key does
    // not change matches): the two-key form measured 8.0 → 4.8 s warm at
    // the 100× probe vs joining on h12 alone — the pair (h1, h12)
    // reuses the model aggregate's existing (h1, h12) partitioning and
    // keeps the probe exchange aligned with the histories join's h1
    bg.join(lm.bigrams, Seq("h1", "h12"), "left")
      .join(lm.histories, Seq("h1"), "left")
      .crossJoin(broadcast(lm.vocab))
      .withColumn("lp",
        when(col("c1").isNotNull && col("c12").isNotNull,
          log(col("c12") + lit(k)) - log(col("c1") + lit(k) * col("v")))
          .when(col("c1").isNotNull,
            log(lit(k)) - log(col("c1") + lit(k) * col("v")))
          .otherwise(-log(col("v"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("lp")).as("avg_lp"))
      .withColumn("ppl", exp(-col("avg_lp")))
  }

  /** Multinomial Naive-Bayes text classifier, trained closed-form from
    * count aggregates — the fasttext-style supervised labeler of real
    * curation pipelines (train on a labeled seed set, label the corpus),
    * in the one model family whose training IS a Spark aggregation: no
    * gradient loop, one shuffle for the (token, class) count table, one
    * for the class stats. Add-k smoothing throughout; every count is an
    * exact integer, so any engine replays the model bit-for-bit.
    *
    * `tokenCounts` is (hw = xxhash64(w), cls, cwc) — token keys hashed
    * for the same engine-internal reason as [[BigramLm]]'s;
    * `classStats` is (cls, prior_lp =
    * ln(docs_c/docs_total), n_c = Σ_w cwc); `vocab` is the 1-row distinct
    * training-token count V. 100 TB: the model is vocabulary×classes
    * bounded, scoring is a map-side cross with the (tiny) class list plus
    * an equality join on the token — AQE broadcasts the model while it
    * fits.
    */
  final case class NbModel(tokenCounts: DataFrame, classStats: DataFrame,
      vocab: DataFrame, k: Double)

  /** Train an [[NbModel]] from `train`'s `textCol` / `labelCol`. */
  def trainNaiveBayes(train: DataFrame, labelCol: String, k: Double = 0.5,
      textCol: String = "text"): NbModel = {
    val toks = train.select(col(labelCol).as("cls"),
      tokens(lower(col(textCol))).as("t"))
    // token keys are engine-internal (outputs are per-doc/per-class
    // aggregates; the oracle replays raw strings) — hash them so the
    // count table, the vocab distinct and every scoring join shuffle
    // 8-byte longs instead of token strings (the [[trainBigramLm]]
    // idiom, same collision class)
    val tokenCounts = toks
      .select(col("cls"), explode(col("t")).as("w"))
      .groupBy(xxhash64(col("w")).as("hw"), col("cls"))
      .agg(count(lit(1)).as("cwc"))
    val nDocs = toks.groupBy("cls").agg(count(lit(1)).as("_docs"))
    val classStats = tokenCounts.groupBy("cls").agg(sum(col("cwc")).as("n_c"))
      .join(nDocs, Seq("cls"))
      .crossJoin(broadcast(nDocs.agg(sum(col("_docs")).as("_tot"))))
      .select(col("cls"),
        (log(col("_docs").cast("double")) - log(col("_tot").cast("double")))
          .as("prior_lp"),
        col("n_c"))
    val vocab = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(xxhash64(col("w"))).cast("double").as("v"))
    NbModel(tokenCounts, classStats, vocab, k)
  }

  /** Classify `docs` under `model`: per document, the argmax class of
    * prior + Σ_token [ln(c(w,cls)+k) − ln(n_c+kV)] (unseen (w,cls) pairs
    * take c=0), deterministic tie-break by class ascending. Scores are
    * rounded to 6 decimals before the argmax so near-ties resolve the
    * same way regardless of double summation order. Output: (idCol,
    * pred). Scoring is stream-static against the trained model, so it
    * runs unchanged over a stream.
    */
  /** Per-(doc, class) rounded NB log-joint scores — the shared scoring
    * stage of [[naiveBayesClassify]] and [[naiveBayesMarginAudit]].
    */
  private def nbScores(docs: DataFrame, model: NbModel,
      idCol: String, textCol: String): DataFrame = {
    val k = model.k
    val tok = docs.select(col(idCol), tokens(lower(col(textCol))).as("t"))
      .select(col(idCol), explode(col("t")).as("w"))
      .select(col(idCol), xxhash64(col("w")).as("hw"))
    val classes = model.classStats.select("cls", "prior_lp", "n_c")
    tok
      .crossJoin(broadcast(classes))
      .join(model.tokenCounts, Seq("hw", "cls"), "left")
      .crossJoin(broadcast(model.vocab))
      .withColumn("_lp",
        log(coalesce(col("cwc"), lit(0L)) + lit(k)) -
          log(col("n_c") + lit(k) * col("v")))
      .groupBy(col(idCol), col("cls"))
      .agg((first(col("prior_lp")) + sum(col("_lp"))).as("_score"))
      .withColumn("_score", round(col("_score"), 6))
  }

  def naiveBayesClassify(docs: DataFrame, model: NbModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // argmax as ONE aggregation, not a ranking window: min of
    // (−score, cls) is exactly "score desc, cls asc, limit 1" — no
    // second shuffle, and (with the stream-static scoring joins above)
    // the whole classifier runs unchanged on a stream in update mode
    nbScores(docs, model, idCol, textCol).groupBy(col(idCol))
      .agg(min(struct(-col("_score"), col("cls"))).getField("cls").as("pred"))

  /** Margin-reliability audit for the NB labeler — the calibration
    * check BEFORE using classifier confidence as a routing threshold
    * (auto-accept above a margin, human-review below): bucket the
    * held-out docs by the LOG-MARGIN between the best and second-best
    * class scores and report per-bucket volume and empirical accuracy.
    * A well-ordered margin (accuracy monotone in the bin) is what
    * licenses margin-thresholded auto-labeling; a flat curve says the
    * scores carry no confidence signal.
    *
    * The margin — a difference of the already-6dp-rounded scores — is
    * used instead of a softmax posterior deliberately: it is pure
    * arithmetic on engine-identical doubles, so the DuckDB oracle
    * replays the binning bit-exactly, where exp() tails differ in ULPs
    * across libms. One extra aggregation over the q109 scoring stage;
    * output is at most `maxBin`+1 rows.
    */
  def naiveBayesMarginAudit(eval: DataFrame, model: NbModel,
      labelCol: String, binWidth: Double = 2.0, maxBin: Int = 9,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // margins above the last bin are capped BEFORE the floor: the cap is
    // both the single-class sentinel (no runner-up = effectively infinite
    // margin = top bin) and what keeps floor() inside long range under
    // ANSI mode — floor(Double.MaxValue / binWidth) would overflow
    val capped = binWidth * (maxBin + 1)
    val ranked = nbScores(eval, model, idCol, textCol)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(
        struct((-col("_score")).as("neg"), col("cls").as("cls")))).as("arr"))
      .select(col(idCol),
        element_at(col("arr"), 1).getField("cls").as("pred"),
        // margin = s1 − s2 = neg2 − neg1
        when(size(col("arr")) >= 2,
          least(element_at(col("arr"), 2).getField("neg")
            - element_at(col("arr"), 1).getField("neg"), lit(capped)))
          .otherwise(lit(capped)).as("margin"))
    ranked
      .join(eval.select(col(idCol), col(labelCol).as("_truth")), Seq(idCol))
      .withColumn("margin_bin",
        least(floor(col("margin") / lit(binWidth)), lit(maxBin.toLong)))
      .groupBy(col("margin_bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("_truth"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_docs").cast("double"), 6))
  }

  /** Per-document feature frame over a corpus. */
  def documentFeatures(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"),
      length(t).cast("long").as("n_chars_calc"),
      tokenCount(t).cast("long").as("n_tokens"),
      fingerprint(t).as("fingerprint"),
      punctRatio(t).as("punct_ratio"),
      stopwordRatio(t).as("stopword_ratio"),
      qualityScore(t).as("quality"),
      langId(t).as("lang_pred"))
  }

  /** Intra-document de-repetition — the REWRITE counterpart of
    * [[repetitionSignals]] (which only measures): cut every repeated
    * word `n`-gram occurrence WITHIN a document, keeping the first.
    * A word index is cut when it is covered by an n-gram occurrence
    * whose start is strictly after the gram's first start in that doc;
    * the kept words are re-joined with single spaces. This is the
    * within-doc analogue of [[Dedup.removeSharedSubstrings]] (which cuts
    * ACROSS documents) and handles the "same paragraph pasted five
    * times" failure mode that cross-doc dedup and df-based boilerplate
    * scrubs both miss by construction (df counts documents, not
    * occurrences).
    *
    * Scale shape: one word-gram explode (n rows per word), one window
    * exchange on (id, gram) — the doc id is IN the partition key, so no
    * key grows with corpus size, unlike corpus-wide df shuffles — and
    * one groupBy on the id to assemble cut sets. The rebuild is pure
    * array algebra in the projection (flatten cut starts → covered
    * index set → indexed filter), never a per-word explode. Work is
    * words × n; documents shorter than `n` words pass through untouched
    * on the left-join's null branch.
    *
    * Output: (idCol, clean_text, n_cut_words) for every input document.
    */
  def scrubRepeatedNgrams(docs: DataFrame, n: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val ws = filter(split(col(textCol), " "), w => w =!= "")
    val grams = docs
      .select(col(idCol), ws.as("_ws"))
      .filter(size(col("_ws")) >= n)
      .select(col(idCol), col("_ws"),
        explode(sequence(lit(1), size(col("_ws")) - (n - 1))).as("s"))
      .select(col(idCol), col("s"),
        concat_ws(" ", slice(col("_ws"), col("s"), lit(n))).as("gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("gram"))
    val cutSets = grams
      .withColumn("_m", min(col("s")).over(w))
      .filter(col("s") > col("_m"))
      .groupBy(col(idCol))
      .agg(collect_set(col("s")).as("_ss"))
      // covered 1-based word indexes, deduped across overlapping cuts
      .select(col(idCol), array_sort(array_distinct(flatten(transform(
        col("_ss"), s => sequence(s, s + (n - 1)))))).as("_cut_idx"))
    docs.select(col(idCol), col(textCol))
      .join(cutSets, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_cut_idx").isNull, col(textCol))
          .otherwise(concat_ws(" ",
            filter(ws, (word, i) =>
              !array_contains(col("_cut_idx"), i + 1))))
          .as("clean_text"),
        coalesce(size(col("_cut_idx")), lit(0)).cast("long")
          .as("n_cut_words"))
  }
}
