package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** S1–S3: idempotent last-write-wins upsert sink keyed by one field.
  *
  * Reference contract (`/root/reference/src/main/java/Sink/MongoSink.java:44-63`):
  * every record becomes `updateOne(eq(keyField, v), {$set: doc}, upsert=true)`
  * — one document per key, latest write wins, stale keys persist (SURVEY.md
  * §2.2). The reference issues one round-trip per record; this design upserts
  * a whole micro-batch at once (`foreachBatch`-shaped), the only write
  * pattern that survives at scale.
  */
trait DocumentSink {
  /** Upsert a batch. Within the batch, later rows (by `orderCol`, when
    * given) win per key; across batches, the newest batch wins.
    */
  def upsert(batch: DataFrame, keyField: String, orderCol: Option[String] = None): Unit
  /** Current materialized table (one row per key). */
  def snapshot(spark: SparkSession): DataFrame
  /** Like `snapshot`, but None before the first upsert — read-merge-write
    * callers (the shared-topology count merge) need a safe first-batch read.
    */
  def snapshotOption(spark: SparkSession): Option[DataFrame]
}

object DocumentSink {
  /** Reduce a batch to one row per key: last-write-wins within the batch.
    * With an explicit order column the winner is deterministic; without one
    * it mirrors the reference's arrival-order overwrite.
    */
  def lastWritePerKey(batch: DataFrame, keyField: String, orderCol: Option[String]): DataFrame =
    firstPerKey(batch, keyField, orderCol.map(col(_).desc).toSeq)

  /** One row per key: the first by `order`, or an arbitrary one without it. */
  private[sinks] def firstPerKey(rows: DataFrame, keyField: String, order: Seq[Column]): DataFrame =
    if (order.isEmpty) rows.dropDuplicates(keyField)
    else {
      val w = Window.partitionBy(col(keyField)).orderBy(order: _*)
      rows.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }
}

/** Test/driver-local sink holding the keyed table in driver memory. */
final class InMemoryDocumentSink extends DocumentSink {
  private val table = scala.collection.mutable.LinkedHashMap.empty[Any, Row]
  @volatile private var lastSchema: org.apache.spark.sql.types.StructType = _

  override def upsert(batch: DataFrame, keyField: String, orderCol: Option[String]): Unit = {
    val deduped = DocumentSink.lastWritePerKey(batch, keyField, orderCol)
    lastSchema = deduped.schema
    // driver-side collect is acceptable here by construction: this impl is
    // the unit-test double, not the scale path (see ParquetDocumentSink).
    deduped.collect().foreach(r => synchronized { table(r.getAs[Any](keyField)) = r })
  }

  override def snapshot(spark: SparkSession): DataFrame = synchronized {
    val rows = table.values.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), lastSchema)
  }

  override def snapshotOption(spark: SparkSession): Option[DataFrame] =
    synchronized { if (table.isEmpty) None else Some(snapshot(spark)) }

  def get(key: Any): Option[Row] = synchronized(table.get(key))
  def size: Int = synchronized(table.size)
}

/** Parquet-backed keyed table: the local stand-in for the Mongo collection
  * (zero-egress sandbox). Copy-on-write: each upsert writes the whole merged
  * table to a new version directory `v<n>`, then flips the `_VERSION`
  * marker to it — the same shape a Delta/Iceberg MERGE takes at cluster
  * scale. A reader sees either the old or the new version, never a mix.
  */
final class ParquetDocumentSink(path: String) extends DocumentSink {
  private val fs = java.nio.file.Paths.get(path)
  /** The version this sink last wrote and its schema: reading that version
    * back needs no parquet schema inference, which costs a Spark job.
    */
  @volatile private var written: Option[(Int, StructType)] = None

  private def versionFile = fs.resolve("_VERSION")
  private def currentVersion: Int =
    if (java.nio.file.Files.exists(versionFile))
      new String(java.nio.file.Files.readAllBytes(versionFile)).trim.toInt
    else -1

  private def read(spark: SparkSession, v: Int): DataFrame = {
    val dir = fs.resolve(s"v$v").toString
    written match {
      case Some((`v`, schema)) => spark.read.schema(schema).parquet(dir)
      case _ => spark.read.parquet(dir)
    }
  }

  /** Ranks the current version and the batch together in one pass: per
    * key, a batch row beats an existing one, and within the batch the
    * largest `orderCol` wins. The batch side must rank first whatever its
    * `orderCol`: the snapshot stamp restarts every batch, so an existing
    * row can carry a larger one.
    */
  override def upsert(batch: DataFrame, keyField: String, orderCol: Option[String]): Unit = synchronized {
    val v = currentVersion
    val inBatch = orderCol.map(col(_).desc).toSeq
    val merged =
      if (v < 0) DocumentSink.firstPerKey(batch, keyField, inBatch)
      else DocumentSink.firstPerKey(
          batch.withColumn("__batch", lit(true))
            .unionByName(read(batch.sparkSession, v).withColumn("__batch", lit(false))),
          keyField, col("__batch").desc +: inBatch)
        .drop("__batch")
    val next = v + 1
    merged.write.mode("overwrite").parquet(fs.resolve(s"v$next").toString)
    written = Some((next, merged.schema))
    java.nio.file.Files.createDirectories(fs)
    // write-then-rename: `Files.write` truncates before it writes, so a
    // reader between the two would see an empty marker
    val tmp = java.nio.file.Files.createTempFile(fs, "_VERSION", ".tmp")
    java.nio.file.Files.write(tmp, next.toString.getBytes)
    java.nio.file.Files.move(tmp, versionFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  override def snapshot(spark: SparkSession): DataFrame = {
    val v = currentVersion
    require(v >= 0, s"no data written to $path yet")
    read(spark, v)
  }

  override def snapshotOption(spark: SparkSession): Option[DataFrame] =
    if (currentVersion >= 0) Some(snapshot(spark)) else None

  /** Drop all but the newest `keep` versions (copy-on-write tables grow one
    * full copy per batch; compaction is part of the contract at scale).
    */
  def vacuum(keep: Int = 2): Unit = synchronized {
    val v = currentVersion
    if (v >= 0) {
      val cutoff = v - keep + 1
      val dirs = java.nio.file.Files.list(fs).iterator()
      while (dirs.hasNext) {
        val d = dirs.next()
        val name = d.getFileName.toString
        if (name.startsWith("v") && name.drop(1).forall(_.isDigit) &&
            name.drop(1).toInt < cutoff) {
          // delete the whole version directory tree
          java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
    }
  }
}
