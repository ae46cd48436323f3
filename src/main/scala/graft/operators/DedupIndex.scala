package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** s12: persisted EXACT-DEDUP index — the lake artifact that makes
  * q109/q126's scale footnote ("at production scale the corpus digest
  * set is maintained as a bucketed lake table") real code, the same way
  * s11 ([[AnnIndex]]) does for ANN serving.
  *
  * `fit` materializes two tables for index `name`:
  *   - `<name>_digests`: the corpus' DISTINCT normalized-text digests
  *     ([[Dedup.normDigest]] — the one digest every exact-dedup surface
  *     keys on), BUCKETED on dg so verify probes prune to the buckets
  *     holding candidate digests;
  *   - `<name>_bloom`: ONE metadata row — the serialized Bloom sidecar
  *     plus the capacity pair (est_items, num_bits) that makes later
  *     increment filters mergeable, the configured fpp, and the live
  *     digest count.
  *
  * `dedup(batch, name)` is q126 served from the tables alone: the
  * bloom evaluates map-side on the batch (definitely-new docs never
  * touch the digest table), candidates verify against the bucketed
  * table, and the verdict tail is the SAME [[Dedup.ingestStatus]] the
  * batch operators use — specced bit-identical to q109 on the fitted
  * corpus. `append(docs, name)` registers newly ingested documents:
  * their not-yet-present digests (bucket-pruned anti-join) append into
  * the digest table with the table's own bucket spec, and an
  * increment bloom built with the STORED capacity pair merges into the
  * sidecar — one batch-sized scan, never a corpus scan, exactly the
  * q109 daily cadence. REFIT TRIGGER: the sidecar's fpp guarantee
  * erodes as n_digests outgrows est_items (the metadata row exposes
  * both) — re-run `fit` with fresh capacity then; correctness never
  * depends on it (false positives only cost verify probes).
  *
  * Streaming twin: [[graft.streaming.Streams.startCorpusDedupGate]]
  * (st20) runs dedup-then-append per micro-batch, so corpus-dedup
  * state lives in the LAKE (readable, compactable, shared across
  * queries) instead of a per-query state store. */
object DedupIndex {

  def digestsTable(name: String): String = s"${name}_digests"
  def bloomTable(name: String): String   = s"${name}_bloom"

  /** local[32]-scaled default, same reasoning as [[AnnIndex]]: on a
    * real cluster this is sized so each bucket file stays O(100 MB). */
  val DefaultBuckets = 8

  def fit(corpus: DataFrame, name: String,
          buckets: Int = DefaultBuckets, fpp: Double = 0.01): Unit = {
    LakeLock.withWriter(corpus.sparkSession, name) { graft.Pins.scope {
    val spark = corpus.sparkSession
    drop(spark, name)
    val dgs = graft.Pins.pin(corpus.select(Dedup.normDigest.as("dg")).distinct())
    Sources.writeBucketed(dgs, digestsTable(name), "dg", buckets)
    val n = dgs.count()
    val (nItems, nBits) = Dedup.bloomParams(n, fpp)
    writeBloomRow(spark, name, n, nItems, nBits, fpp,
      Dedup.bloomAggregate(dgs, nItems, nBits))
  } }
  }

  /** q126 against the persisted tables — same bloom-prefilter shape,
    * same [[Dedup.ingestStatus]] verdict tail, no corpus anywhere. */
  def dedup(batch: DataFrame, name: String): DataFrame = {
    val spark = batch.sparkSession
    val bloom = loadBloom(spark, name)
    val batchDg = batch.select(col("doc_id"), Dedup.normDigest.as("dg"))
    val candDg = batchDg.filter(Dedup.bloomMightContain(bloom, col("dg")))
      .select(col("dg")).distinct()
    val hitDg = spark.table(digestsTable(name))
      .join(candDg, Seq("dg"), "left_semi")
      .withColumn("hit", lit(1))
    Dedup.ingestStatus(batchDg, hitDg)
  }

  /** Register newly ingested documents' digests. Idempotent by
    * construction (the anti-join drops digests already present), so a
    * foreachBatch replay can only no-op, never double-register. */
  def append(docs: DataFrame, name: String): Unit = {
    LakeLock.withWriter(docs.sparkSession, name) {
    val spark = docs.sparkSession
    val meta = spark.table(bloomTable(name)).head()
    val newDg = Sources.unregistered(
      docs.select(Dedup.normDigest.as("dg")).distinct(), digestsTable(name), "dg")
    val nNew = newDg.count()
    if (nNew > 0L) {
      val estItems = meta.getAs[Long]("est_items")
      val numBits = meta.getAs[Long]("num_bits")
      val inc = Dedup.bloomAggregate(newDg, estItems, numBits)
      Sources.appendBucketed(newDg, digestsTable(name), "dg")
      val merged = org.apache.spark.util.sketch.BloomFilter
        .readFrom(meta.getAs[Array[Byte]]("bloom"))
      merged.mergeInPlace(
        org.apache.spark.util.sketch.BloomFilter.readFrom(inc))
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      writeBloomRow(spark, name, meta.getAs[Long]("n_digests") + nNew,
        estItems, numBits, meta.getAs[Double]("fpp"), bos.toByteArray)
    }
  }
  }

  def drop(spark: SparkSession, name: String): Unit =
    Seq(digestsTable(name), bloomTable(name))
      .foreach(Sources.clearTable(spark, _))

  private[graft] def loadBloom(spark: SparkSession, name: String): Array[Byte] =
    spark.table(bloomTable(name)).head().getAs[Array[Byte]]("bloom")

  private def writeBloomRow(spark: SparkSession, name: String,
                            nDigests: Long, estItems: Long, numBits: Long,
                            fpp: Double, bloom: Array[Byte]): Unit = {
    import spark.implicits._
    Seq((nDigests, estItems, numBits, fpp, bloom))
      .toDF("n_digests", "est_items", "num_bits", "fpp", "bloom")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(bloomTable(name))
  }
}
