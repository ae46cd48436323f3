package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** s15: persisted URL-FRONTIER index — the crawl-side member of the
  * serving-index family (s11 ANN / s12 exact-dedup / s13 near-dup /
  * s14 BM25): a bucketed lake table of canonical-URL hashes that
  * answers "have we fetched this page before?" without the corpus.
  *
  * Keys are xxhash64 of the [[UrlCuration.normalizeUrl]] canonical
  * form — 8 bytes per URL at any corpus size; a 64-bit collision can
  * only FALSE-DROP a genuinely new page (~n²/2⁶⁵, the q114 collision
  * contract), never re-admit a duplicate. Fit bootstraps the registry
  * from an existing corpus (one distinct over hash keys — the q151
  * canonicals by construction); `dedup` serves batch verdicts with
  * q109's status vocabulary (`new` / `dup_batch` / `dup_corpus`);
  * `append` registers new hashes behind an anti-join (replay can only
  * no-op) under the [[LakeLock]] single-writer contract. The st25
  * streaming gate is exactly dedup → admit → append per micro-batch,
  * so stream and batch verdicts cannot drift. */
object UrlIndex {

  val DefaultBuckets = 8

  def urlsTable(name: String): String = s"${name}_urlseen"

  /** Canonical-URL hash column for a frame carrying `url`. */
  def urlHash(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    xxhash64(UrlCuration.normalizeUrl(c))

  /** Bootstrap the registry from a corpus frame with a `url` column. */
  def fit(corpus: DataFrame, name: String,
          buckets: Int = DefaultBuckets): Unit = {
    LakeLock.withWriter(corpus.sparkSession, name) {
      drop(corpus.sparkSession, name)
      Sources.writeBucketed(
        corpus.select(urlHash(col("url")).as("uh")).distinct(),
        urlsTable(name), "uh", buckets)
    }
  }

  /** Batch verdicts against the fitted registry: `new` (first fetch of
    * its canonical URL anywhere), `dup_batch` (an earlier doc_id in
    * THIS batch already claims it), `dup_corpus` (the registry has
    * it). One narrow shuffle on the 8-byte hash + one left join
    * against the bucketed table — Exchange-free on the index side. */
  def dedup(batch: DataFrame, name: String): DataFrame = {
    val spark = batch.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("uh")).orderBy(col("doc_id"))
    batch.withColumn("uh", urlHash(col("url")))
      .withColumn("rk", row_number().over(w))
      .join(spark.table(urlsTable(name)).select(col("uh"))
        .withColumn("seen", lit(1)), Seq("uh"), "left_outer")
      .withColumn("status",
        when(col("seen").isNotNull, "dup_corpus")
          .when(col("rk") > 1, "dup_batch")
          .otherwise("new"))
      .select(col("doc_id"), col("uh"), col("status"))
  }

  /** Register the canonical URLs of `docs` not already present. */
  def append(docs: DataFrame, name: String): Unit = {
    LakeLock.withWriter(docs.sparkSession, name) {
      val newUh = Sources.unregistered(
        docs.select(urlHash(col("url")).as("uh")).distinct(), urlsTable(name), "uh")
      if (newUh.limit(1).count() > 0L)
        Sources.appendBucketed(newUh, urlsTable(name), "uh")
    }
  }

  def drop(spark: SparkSession, name: String): Unit =
    Sources.clearTable(spark, urlsTable(name))
}
