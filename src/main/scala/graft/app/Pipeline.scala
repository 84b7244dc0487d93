package graft.app

import graft.core.Schemas
import graft.operators.{EnrichmentJoin, Envelope, Projections, WindowCounts}
import graft.sinks.DocumentSink
import graft.sources.IngestSource
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** End-to-end wiring ≈ the reference's `Main.main()`
  * (`/root/reference/src/main/java/Main.java:45-182`):
  * two sources → parse → stateful enrichment join → fan-out to
  * (a) userAddress upsert by userId, (b)/(c) 1-minute windowed address
  * counts upserted by state / country.
  *
  * Flink fans one job graph out of one keyed state to three sinks;
  * `startAllShared` keeps that shape: one streaming query, one J1 state
  * store, and a `foreachBatch` fan-out to the three sinks. Checkpointing
  * (mandatory in Structured Streaming) plus idempotent sinks gives
  * effectively-exactly-once end-to-end — a strict upgrade over the
  * reference's no-checkpoint posture (§3.4).
  *
  * Window-fire semantics: the reference's processing-time windows emit once
  * per minute at window close (`Main.java:137,154`). Here each micro-batch
  * merges its partial (window, key) counts into the count sinks as it
  * arrives, so a window's row holds its running total and reaches the
  * final total with the window's last batch; nothing waits on a later
  * batch to close the window, so the newest window is written even once
  * input stops.
  */
final class Pipeline(
    source: IngestSource,
    userAddressSink: DocumentSink,
    stateCountSink: DocumentSink,
    countryCountSink: DocumentSink,
    windowLength: String = "1 minute",
    stateTtl: Option[java.time.Duration] = None,
    procTimeExpr: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.current_timestamp()) {

  /** Parse both topics and merge into the keyed envelope stream. */
  def envelopes(spark: SparkSession): Dataset[Envelope] = {
    import spark.implicits._
    // Within one micro-batch, users sort before addresses (seq 0 < 1) —
    // the reference generator's wire order (`user-generator.py:57-71`
    // emits each user before its addresses); across batches arrival order
    // rules, exactly like the reference's Kafka consumption.
    val users = Schemas.parseUsers(source.users(spark))
      .map(u => Envelope.ofUser(u, 0L))
    val addresses = Schemas.parseAddresses(source.addresses(spark))
      .map(a => Envelope.ofAddress(a, 1L))
    users.unionByName(addresses)
  }

  /** The joined cumulative-snapshot stream, stamped with processing time
    * (the reference is watermark-free processing time, `Main.java:70-71`).
    * Tests inject a deterministic `procTimeExpr` to control window closing.
    */
  def snapshots(spark: SparkSession): DataFrame =
    EnrichmentJoin.joinStream(spark, envelopes(spark), stateTtl).toDF()
      .withColumn("procTime", procTimeExpr)

  /** A batch can carry several cumulative snapshots of one user; the upsert
    * must keep the LAST-emitted one. A user's snapshots are produced in
    * emission order by a single task (keyed state op, no shuffle before the
    * sink), so a per-partition monotonic id is a valid order stamp. Applied
    * inside foreachBatch — the streaming plan itself cannot host
    * monotonically_increasing_id.
    */
  private def withSnapshotOrder(docs: DataFrame): DataFrame =
    docs.withColumn("snap_order",
      org.apache.spark.sql.functions.monotonically_increasing_id())

  /** The topology: ONE streaming query computes the J1 snapshot stream
    * once per micro-batch and `foreachBatch` fans it out to all three
    * sinks — one checkpoint (`<checkpointDir>/shared`), one join state
    * store, one pass of join compute.
    *
    * Per micro-batch (`fanOut`): the batch is persisted and materialised by
    * one action, so J1 — its state load and RocksDB commit included — runs
    * exactly once, and the emptiness test reads that action's row count.
    * The three sink writes then run concurrently on the cached batch, and
    * all of them complete or fail before the batch is released.
    *
    * Fan-out semantics inside each batch:
    *  - userAddress docs: LWW upsert by userId, naturally idempotent under
    *    batch replay;
    *  - window counts: the batch's partial per-(window, key) counts are
    *    merged ADDITIVELY against the sink's current table, then reduced to
    *    LWW-by-newest-window per key. A window spanning many micro-batches
    *    accumulates to the total of every snapshot stamped in it, and a
    *    key's row persists until a newer window overwrites it (the
    *    reference's stale-keys-persist contract, SURVEY §2.2). Late
    *    partials for an already-superseded window are dropped.
    *
    * Additive merge is not idempotent, so batch replay is fenced per count
    * sink: a marker file `<batchId>.<key>` is written after that sink's
    * merge commits, so a retry after one write failed never re-applies the
    * other sink's merge. A bare `<batchId>` marker (one marker for both
    * merges, as earlier versions wrote it) counts as both merges done. A
    * Mongo/Delta sink would record the batch id inside the same
    * transaction as the merge; the marker file is the local stand-in and
    * leaves only the crash-between-merge-and-marker window, which a
    * transactional sink closes.
    */
  def startAllShared(spark: SparkSession, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val markerDir = java.nio.file.Paths.get(checkpointDir, "sharedMerged")
    java.nio.file.Files.createDirectories(markerDir)
    snapshots(spark)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$checkpointDir/shared")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => fanOut(batch, batchId, markerDir) }
      .start()
  }

  /** One micro-batch of `startAllShared`: J1 evaluated once into the
    * cache, then the three sink writes at once, each count merge behind its
    * own replay marker in `markerDir`.
    */
  private[graft] def fanOut(batch: DataFrame, batchId: Long,
      markerDir: java.nio.file.Path): Unit = {
    batch.persist()
    try {
      // the one J1 evaluation: every partition is cached before any sink
      // job starts, so concurrent jobs never compute (and load the state
      // store of) the same J1 partition twice
      if (batch.count() > 0) {
        def fenced(key: String)(merge: => Unit): () => Unit = () => {
          val marker = markerDir.resolve(s"$batchId.$key")
          val legacy = markerDir.resolve(batchId.toString)
          if (!java.nio.file.Files.exists(marker) && !java.nio.file.Files.exists(legacy)) {
            merge
            java.nio.file.Files.createFile(marker)
          }
        }
        Pipeline.runConcurrently(Seq(
          () => userAddressSink.upsert(
            withSnapshotOrder(Projections.userAddressDocument(batch)),
            "userId", orderCol = Some("snap_order")),
          fenced("state")(mergeWindowCounts(batch, byState = true)),
          fenced("country")(mergeWindowCounts(batch, byState = false))))
      }
    } finally batch.unpersist()
  }

  /** Accumulate one batch's partial window counts into a count sink:
    * union the sink's current (window_start, key, count) rows with the
    * batch partials, sum per (window, key), and upsert — the per-key LWW
    * by window_start inside `upsert` keeps the newest window's total.
    * The partial is collected: its size is bounded by the windows in the
    * batch times the key cardinality, not by the input volume, and holding
    * it on the driver computes it once. The count table is tiny (one row
    * per distinct key), so the read-merge-write is the same copy-on-write
    * shape the sink already takes per batch.
    */
  private def mergeWindowCounts(batch: DataFrame, byState: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val partial =
      if (byState) WindowCounts.countByState(batch, windowLength = windowLength)
      else WindowCounts.countByCountry(batch, windowLength = windowLength)
    val (sink, key) =
      if (byState) (stateCountSink, "state") else (countryCountSink, "country")
    val rows = partial.collect()
    if (rows.nonEmpty) {
      val spark = batch.sparkSession
      val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), partial.schema)
      val all = sink.snapshotOption(spark).map(_.unionByName(local)).getOrElse(local)
      val acc = all
        .groupBy(col("window_start"), col(key))
        .agg(sum(col("count")).as("count"))
        .select(col("window_start"), col(key), col("count"))
      sink.upsert(acc, key, orderCol = Some("window_start"))
    }
  }
}

object Pipeline {
  /** Runs `tasks` at once and returns once every one has completed or
    * failed, then rethrows the first failure (later ones are attached as
    * suppressed). Each task gets a thread started here, so it inherits a
    * copy of the caller's Spark local properties: inside `foreachBatch`
    * that is the stream's job group, which `StreamingQuery.stop()`
    * cancels. A long-lived pool would instead carry the properties of
    * whichever query first started its threads. An interrupt does not cut
    * the wait short, so no task outlives the call; it is re-raised after.
    */
  private[app] def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() => try task() catch { case e: Throwable => failures.add(e) },
        s"${Thread.currentThread().getName}-fan-out-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    Option(failures.poll()).foreach { first =>
      failures.forEach(e => first.addSuppressed(e))
      throw first
    }
  }
}
