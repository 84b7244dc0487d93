package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-validation corpus generator: writes an N× replica of an sf dir,
  * used to demonstrate that every operator's runtime scales ~linearly with
  * data volume (the local stand-in for the 100 TB question — a superlinear
  * operator shows up immediately as a >N× runtime jump at N× data).
  *
  * Replication rules preserve workload SHAPE, not just row counts:
  *  - surrogate keys are offset per replica (`key + i * (max+1)`), so
  *    customer→orders→lineitem referential fan-out is identical per replica
  *    and join/agg key cardinalities grow N× like real growth would;
  *  - document text gets a per-replica vocabulary translation (every token
  *    suffixed `_r<i>`): similarity structure WITHIN a replica is exactly
  *    preserved (dup/near-dup families replicate), while cross-replica
  *    Jaccard is 0 — without this, every doc would gain N-1 exact copies
  *    and the near-dup pair count would grow N²-ish, which is a different
  *    workload, not a bigger one;
  *  - embeddings are circularly rotated by the replica index, then
  *    sign-flipped by a run-tag-keyed ± pattern (both isometries:
  *    intra-replica cosine structure exact, cross-replica ≈ random, and
  *    the tag keeps composed runs from re-colliding);
  *  - dimension tables (region, nation) are shared, as at real scale.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sfx")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("full")
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "full" => generate(spark, src, dst, n)
      case "docsfixed" => generateDocsFixedVocab(spark, src, dst, n)
      case other => sys.error(s"unknown mode '$other' (full|docsfixed)")
    }
    spark.stop()
  }

  /** Per-run vocabulary tag — MD5 of the source dir (see the documents
    * rule in [[generate]] for why composition needs an injective tag).
    */
  private def vocabTagOf(src: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(src.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString

  /** Replica-0 keeps `text` verbatim; every other replica gets each
    * non-empty token suffixed `_<tag-prefixed suffix>` — the shared
    * transform of the full replica (suffix varies per replica → vocab
    * ∝ corpus) and the docsfixed probe (suffix constant per digit-width
    * → vocab fixed), kept in ONE place so the two modes can never drift
    * apart in tokenization or cost shape.
    */
  private def translatedText(suffix: Column): Column =
    when(col("_i") === 0, col("text")).otherwise(
      array_join(
        transform(split(col("text"), " "),
          t => when(t === "", t).otherwise(concat(t, suffix))),
        " "))

  /** Documents-only replica with a FIXED vocabulary — the q80 scale
    * adjudication probe. The full replica's per-replica token
    * translation grows the vocabulary (and so the term-df table)
    * ∝ corpus; a production corpus's vocabulary grows sublinearly
    * (Heaps' law), so a query whose cost tracks VOCABULARY rather than
    * corpus volume looks superlinear on the replica without being so in
    * production. This mode isolates that variable: every non-zero
    * replica's tokens get a suffix whose BYTES match the full replica's
    * `_r<tag>x<i>` per replica — `<i>`'s digits are translated to `0`s
    * (replica 7 → `x0`, replica 45 → `x00`), so token lengths, row
    * counts, and shuffle bytes are identical replica-for-replica while
    * the vocabulary stays ~(1 + digit-widths)× base at ANY replication
    * factor. Runtime that is linear here but superlinear on the full
    * replica is vocabulary-driven — the fixture's artifact, not the
    * operator's.
    */
  def generateDocsFixedVocab(spark: SparkSession, src: String, dst: String,
      n: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docSpan = docs.agg(max(col("doc_id")).cast("long")).head().getLong(0)
    val zeros = translate(col("_i").cast("string"), "123456789", "000000000")
    docs.withColumn("_i", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("doc_id", col("doc_id") + col("_i") * lit(docSpan + 1))
      .withColumn("text",
        translatedText(concat(lit(s"_r${vocabTagOf(src)}x"), zeros)))
      .withColumn("n_chars", length(col("text")))
      .drop("_i")
      .repartition(math.min(n, 256))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"[scalegen] wrote ${n}x fixed-vocab documents of $src to $dst")
  }

  def generate(spark: SparkSession, src: String, dst: String, n: Int): Unit = {
    // driver events.parquet carries ns-precision timestamps Spark can't
    // represent natively; read them as raw longs (the replica keeps the
    // BIGINT ts schema, which Tables.loadEvents handles transparently)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // An N× corpus is N× the FILES, not one N×-bigger row group: real
    // growth appends files/partitions, and parquet scans can only split
    // at row-group boundaries, so writing a replica as one explode-sized
    // row group (what the single-partition source scan would produce)
    // serializes every downstream scan STAGE on it — the round-12 sweeps
    // ran tokenize/fingerprint/decode kernels on ONE core of 32 because
    // documents/embeddings landed as single-row-group files (measured:
    // the r11→r12 "drift" on the IO-heavy tail was serial-stage
    // sensitivity to background load, not plan changes). Replicated
    // fact tables therefore fan out to ~N files (capped), matching the
    // source fixture's granularity per replica; shared dims stay single.
    def wr(df: DataFrame, t: String): Unit =
      df.repartition(math.min(n, 256))
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head().getLong(0)

    // one row per (source row, replica): the replica index drives key offsets
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("_i", explode(sequence(lit(0), lit(n - 1))))

    def off(c: String, span: Long): Column = col(c) + col("_i") * lit(span + 1)

    def wr1(df: DataFrame, t: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    wr1(rd("region"), "region")
    wr1(rd("nation"), "nation")

    val cust = rd("customer")
    val custSpan = maxOf(cust, "c_custkey")
    // c_name must stay a bijection of the key: replicating the name
    // verbatim gives every name n exact copies, so the fuzzy-join probe's
    // dist-0 pair count grows ~n² instead of linearly (caught by q94 at
    // 30×: 55.8× time for 30× data). Regenerating the TPC-H name shape
    // from the OFFSET key keeps the name space dense and 1:1, which is
    // the shape-preserving invariant every other column here follows.
    wr(replicate(cust)
      .withColumn("c_custkey", off("c_custkey", custSpan))
      // format_string pads to 9 digits but NEVER truncates (lpad would
      // silently truncate 10+-digit offset keys back into collision)
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      .drop("_i"), "customer")

    val supp = rd("supplier")
    val suppSpan = maxOf(supp, "s_suppkey")
    // same bijection rule as c_name: s_name is key-formatted in the source
    wr(replicate(supp)
      .withColumn("s_suppkey", off("s_suppkey", suppSpan))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
      .drop("_i"), "supplier")

    val part = rd("part")
    val partSpan = maxOf(part, "p_partkey")
    // p_name is word-based ("small ring"), not key-derived: replication
    // gives each name n exact copies. That matches TPC-H's own p_name
    // cardinality (a fixed word vocabulary, heavy duplication at any SF),
    // so it's left verbatim — but a fuzzy/dedup probe pointed at p_name
    // would see dist-0 pairs grow ~n² (the artifact q94 caught on c_name)
    // and must probe a key-derived column instead.
    wr(replicate(part).withColumn("p_partkey", off("p_partkey", partSpan)).drop("_i"),
      "part")

    val orders = rd("orders")
    val orderSpan = maxOf(orders, "o_orderkey")
    wr(replicate(orders)
      .withColumn("o_orderkey", off("o_orderkey", orderSpan))
      .withColumn("o_custkey", off("o_custkey", custSpan))
      .drop("_i"), "orders")

    wr(replicate(rd("lineitem"))
      .withColumn("l_orderkey", off("l_orderkey", orderSpan))
      .withColumn("l_partkey", off("l_partkey", partSpan))
      .withColumn("l_suppkey", off("l_suppkey", suppSpan))
      .drop("_i"), "lineitem")

    val events = rd("events")
    val eventSpan = maxOf(events, "event_id")
    wr(replicate(events)
      .withColumn("event_id", off("event_id", eventSpan))
      .withColumn("user_id", off("user_id", custSpan))
      .drop("_i"), "events")

    val docs = rd("documents")
    val docSpan = maxOf(docs, "doc_id")
    // The vocab suffix carries a per-RUN tag derived from the source dir,
    // not just the replica index: with a bare `_r<i>` suffix, COMPOSING
    // ScaleGen runs (e.g. building 30× as 3× of a 10× replica) collides —
    // outer-replica-i of inner-replica-0 and inner-replica-i of
    // outer-replica-0 both translate token t to `t_r<i>`, giving those
    // cross-replica doc pairs Jaccard 1 and superlinear near-dup pair
    // counts (caught by the q84 posting-join probe at 30×: 18.7k pairs
    // where 30×256 = 7.7k was the linear expectation). Tagging by source
    // makes every composition step injective: the inner run suffixes with
    // its tag, the outer run with a different one.
    val vocabTag = vocabTagOf(src)
    wr(replicate(docs)
      .withColumn("doc_id", off("doc_id", docSpan))
      .withColumn("text",
        translatedText(concat(lit(s"_r${vocabTag}x"), col("_i"))))
      .withColumn("n_chars", length(col("text")))
      .drop("_i"), "documents")

    val emb = rd("embeddings")
    val vecSpan = maxOf(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // rotation 1 + (_i-1) % (dim-1) ∈ [1, dim-1] for every non-zero replica:
    // a plain `_i % dim` yields rotation 0 whenever _i is a multiple of dim
    // (possible when n > dim), which would clone replica 0's vectors and
    // inflate near-dup counts superlinearly — breaking the "cross-replica
    // ≈ random" invariant the scale probe relies on.
    val rot = when(col("_i") === 0, lit(0))
      .otherwise((col("_i") - 1) % (dim - 1) + 1)
    // rotate, then flip signs by a (run-tag, replica, dimension)-keyed
    // pattern. The flip is an isometry (intra-replica cosine structure is
    // bit-exact), but unlike rotation it does NOT compose back into the
    // same family: composed runs stack DIFFERENT tag-keyed flip patterns,
    // so outer-i∘inner-0 and inner-i∘outer-0 — identical under pure
    // rotation (both = rotation i), the embedding analog of the doc-vocab
    // collision above — diverge in ~dim/2 signs and land ≈ orthogonal.
    val rotated =
      when(col("_i") === 0, col("embedding")).otherwise(
        concat(
          slice(col("embedding"), rot + 1, lit(dim) - rot),
          slice(col("embedding"), lit(1), rot)))
    val flipped =
      when(col("_i") === 0, col("embedding")).otherwise(
        transform(rotated, (v, k) =>
          v * when(pmod(hash(lit(vocabTag), col("_i"), k), lit(2)) === 0,
            lit(1.0f)).otherwise(lit(-1.0f))))
    wr(replicate(emb)
      .withColumn("vec_id", off("vec_id", vecSpan))
      .withColumn("embedding", flipped.cast("array<float>"))
      .drop("_i"), "embeddings")

    println(s"[scalegen] wrote ${n}x of $src to $dst")
  }
}
