package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** s14: persisted BM25 TEXT-RETRIEVAL index — the inverted-index lake
  * artifact that completes the serving-index family (s11 ANN vectors,
  * s12 exact digests, s13 near-dup shingles, s14 ranked text search):
  * fit once over the corpus, then answer any later multi-query batch
  * (q116's contract) from the tables alone — no corpus scan, ever.
  *
  * `fit` materializes four tables for index `name`, all derived from
  * ONE tokenization pass:
  *   - `<name>_postings` (tok, doc_id, tf), bucketed on tok — the
  *     inverted index; a query probes only its own terms' buckets;
  *   - `<name>_df` (tok, df), bucketed on tok — vocab-sized document
  *     frequencies;
  *   - `<name>_dl` (doc_id, dl), bucketed on doc_id — document
  *     lengths, and the doc REGISTRY the append anti-join keys on;
  *   - `<name>_stats` — one row (n_docs, total_toks).
  *
  * `search(queries, name, k)` is q116 served from the tables: the
  * query batch's distinct terms (a metadata-sized collect, bounded by
  * the batch's total term count — the s11 probe-bucket pattern) push
  * an IN filter into the bucketed postings/df scans so only the
  * touched bucket files are read, then the SAME scoring tail as q116
  * ([[TextAnalysis.bm25Tail]]) ranks — specced bit-identical to live
  * q116 on the fitted corpus. idf derives from (df, n_docs) at query
  * time, never at fit time, which is what makes append exact.
  *
  * `append(docs, name)` registers new documents: doc_ids not yet in
  * the registry (bucket-pruned anti-join on the dl table) contribute
  * batch-sized postings/dl appends, a vocab-sized df merge (old df ∪
  * increment, summed, rewritten — document frequencies are additive),
  * and a one-row stats bump. Because every serving-time quantity
  * (idf, avgdl) derives from the maintained tables, fit(old) +
  * append(new) ≡ fit(old ∪ new) bit-for-bit — specced across search.
  * Replays no-op via the registry anti-join. Re-INDEXING a changed
  * doc is the m02 keyed-upsert problem, out of the append fast path
  * (drop + refit, or delete-then-append at table-maintenance cadence). */
object Bm25Index {

  def postingsTable(name: String): String = s"${name}_postings"
  def dfTable(name: String): String       = s"${name}_df"
  def dlTable(name: String): String       = s"${name}_dl"
  def statsTable(name: String): String    = s"${name}_stats"

  /** local[32]-scaled default, same reasoning as the sibling indexes. */
  val DefaultBuckets = 8

  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), " ")).as("tok"))

  def fit(corpus: DataFrame, name: String,
          buckets: Int = DefaultBuckets): Unit = {
    LakeLock.withWriter(corpus.sparkSession, name) {
    val spark = corpus.sparkSession
    drop(spark, name)
    // postings materialize first; df/dl/stats then derive from the
    // postings TABLE (df = docs per term, dl = Σ tf per doc), so the
    // corpus text is scanned exactly once
    Sources.writeBucketed(
      toks(corpus).groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("tf")),
      postingsTable(name), "tok", buckets)
    val p = spark.table(postingsTable(name))
    Sources.writeBucketed(
      p.groupBy(col("tok")).agg(count(lit(1)).as("df")),
      dfTable(name), "tok", buckets)
    Sources.writeBucketed(
      p.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl")),
      dlTable(name), "doc_id", buckets)
    writeStats(spark, name,
      spark.table(dlTable(name))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("dl")).cast("long").as("total_toks")).head())
  }
  }

  /** q116 against the fitted tables — same scoring tail, no corpus
    * scan, postings/df scans pruned to the query vocabulary. */
  def search(queries: DataFrame, name: String, k: Int = 10): DataFrame = {
    val spark = queries.sparkSession
    val qterms = queries.select(col("query_id"),
      posexplode(col("terms")).as(Seq("pos", "term")))
    // the batch's distinct terms: metadata-sized (≤ the batch's total
    // term count), collected to push an IN into the bucketed scans —
    // the s11 probe-key pattern
    val terms: Seq[String] = qterms.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    def pruned(df: DataFrame): DataFrame = df.filter(col("tok").isin(terms: _*))
    val tf = pruned(spark.table(postingsTable(name)))
      .select(col("tok").as("term"), col("doc_id"), col("tf"))
    val dfs = pruned(spark.table(dfTable(name)))
      .select(col("tok").as("term"), col("df"))
    TextAnalysis.bm25Tail(qterms, tf, dfs,
      spark.table(dlTable(name)),
      spark.table(statsTable(name)), k)
  }

  /** Register NEW documents into the fitted index (see scaladoc). */
  def append(docs: DataFrame, name: String): Unit = {
    LakeLock.withWriter(docs.sparkSession, name) {
    val spark = docs.sparkSession
    // registry anti-join: only not-yet-indexed doc_ids register
    val newDocs = Sources.unregistered(
      docs.select(col("doc_id"), col("text")), dlTable(name), "doc_id")
    if (newDocs.limit(1).count() > 0L) graft.Pins.scope {
      val inc = toks(newDocs).groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .transform(graft.Pins.pin)
      // df is additive in new docs: merged table = old ∪ increment,
      // summed — vocab-sized, pinned before the overwrite
      val mergedDf = spark.table(dfTable(name))
        .unionAll(inc.groupBy(col("tok")).agg(count(lit(1)).as("df")))
        .groupBy(col("tok")).agg(sum(col("df")).cast("long").as("df"))
        .transform(Ckpt.cut(_))
      val incStats = inc
        .agg(countDistinct(col("doc_id")).cast("long").as("nd"),
          sum(col("tf")).cast("long").as("tt")).head()
      val old = spark.table(statsTable(name)).head()
      Sources.appendBucketed(inc, postingsTable(name), "tok")
      Sources.appendBucketed(
        inc.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl")),
        dlTable(name), "doc_id")
      Sources.rewriteBucketed(mergedDf, dfTable(name))
      writeStats(spark, name, org.apache.spark.sql.Row(
        old.getAs[Long]("n_docs") + incStats.getAs[Long]("nd"),
        old.getAs[Long]("total_toks") + incStats.getAs[Long]("tt")))
    }
  }
  }

  def drop(spark: SparkSession, name: String): Unit =
    Seq(postingsTable(name), dfTable(name), dlTable(name), statsTable(name))
      .foreach(Sources.clearTable(spark, _))

  private def writeStats(spark: SparkSession, name: String,
                         row: org.apache.spark.sql.Row): Unit = {
    import spark.implicits._
    Seq((row.getAs[Long](0), row.getAs[Long](1)))
      .toDF("n_docs", "total_toks")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(statsTable(name))
  }
}
