package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupIndex}

/** s12: persisted exact-dedup index — digest table + mergeable bloom
  * sidecar. Contract: serving from the tables is bit-identical to the
  * batch operators on the same corpus, and append maintenance is one
  * batch-sized scan that can only no-op on replay. */
class DedupIndexSpec extends GraftSpec {
  import spark.implicits._

  private lazy val corpus = (1L to 300L)
    .map(i => (i, s"indexed corpus text number ${i % 120}"))
    .toDF("doc_id", "text")
  private lazy val batch = Seq(
    (1001L, "indexed corpus text number 5"),   // dup_corpus
    (1002L, "fresh batch text alpha"),         // new
    (1003L, "fresh batch text alpha"),         // dup_batch
    (1004L, "fresh batch text beta")           // new
  ).toDF("doc_id", "text")

  private val Name = "graft_dedupix"
  private lazy val fitted: Unit = {
    DedupIndex.drop(spark, Name)
    DedupIndex.fit(corpus, Name)
  }

  private def statuses(df: DataFrame) =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("dg"),
      r.getAs[String]("status"))).toSeq

  test("s12 fit over an orphaned table location starts from a clean table") {
    val n = "graft_dedupix_orphan"
    orphanLocations(DedupIndex.digestsTable(n), DedupIndex.bloomTable(n))
    DedupIndex.fit(corpus, n)
    assert(spark.table(DedupIndex.digestsTable(n)).count() == 120L)
    assert(spark.table(DedupIndex.bloomTable(n)).count() == 1L)
    DedupIndex.drop(spark, n)
  }

  test("s12 dedup from the loaded index == batch q109, bit for bit") {
    fitted
    assert(statuses(DedupIndex.dedup(batch, Name)) ==
      statuses(Dedup.q109(corpus, batch)))
  }

  test("s12 append registers only missing digests and is replay-idempotent") {
    fitted
    val before = spark.table(DedupIndex.digestsTable(Name)).count()
    assert(before == 120L)
    // 2 new texts + 1 already-indexed text: only the 2 register
    val ingest = Seq(
      (2001L, "appended novel text one"),
      (2002L, "appended novel text two"),
      (2003L, "indexed corpus text number 9")
    ).toDF("doc_id", "text")
    DedupIndex.append(ingest, Name)
    assert(spark.table(DedupIndex.digestsTable(Name)).count() == before + 2)
    // replaying the same append can only no-op
    DedupIndex.append(ingest, Name)
    assert(spark.table(DedupIndex.digestsTable(Name)).count() == before + 2)
    // a later batch is judged against corpus ∪ appended — identical to
    // a batch q109 over the widened corpus
    val batch2 = Seq(
      (3001L, "appended novel text one"),     // dup vs the APPENDED docs
      (3002L, "indexed corpus text number 7"),// dup vs the fitted corpus
      (3003L, "never seen text gamma")        // new
    ).toDF("doc_id", "text")
    val widened = corpus.select(col("doc_id"), col("text"))
      .unionAll(ingest.select(col("doc_id"), col("text")))
    assert(statuses(DedupIndex.dedup(batch2, Name)) ==
      statuses(Dedup.q109(widened, batch2)))
    // the MERGED sidecar still has no false negatives over the grown table
    val bloom = DedupIndex.loadBloom(spark, Name)
    val probed = spark.table(DedupIndex.digestsTable(Name))
      .withColumn("mc", Dedup.bloomMightContain(bloom, col("dg")))
      .collect()
    assert(probed.length == (before + 2).toInt &&
      probed.forall(_.getAs[Boolean]("mc")))
    // metadata row tracks the live digest count for the refit trigger
    assert(spark.table(DedupIndex.bloomTable(Name)).head()
      .getAs[Long]("n_digests") == before + 2)
  }

  test("s06 compaction applies to the index tables: files collapse, verdicts identical") {
    import org.apache.spark.sql.functions.{col, input_file_name, concat, lit}
    val ixName = "graft_dedupix_cmp"
    DedupIndex.drop(spark, ixName)
    DedupIndex.fit(corpus, ixName)
    // three ingest cycles: each append adds a file per touched bucket
    (1 to 3).foreach { r =>
      DedupIndex.append(corpus.limit(40)
        .select(col("doc_id"), concat(col("text"), lit(s" cycle $r")).as("text")),
        ixName)
    }
    val t = DedupIndex.digestsTable(ixName)
    def files = spark.table(t).select(input_file_name()).distinct().count()
    assert(files > DedupIndex.DefaultBuckets.toLong)
    val before = DedupIndex.dedup(batch, ixName).collect().toSeq
    val rowsBefore = spark.table(t).count()
    graft.sources.Sources.compactBucketed(spark, t)
    // one file per bucket, same rows, same bucket layout, same verdicts
    assert(files == DedupIndex.DefaultBuckets.toLong)
    assert(spark.table(t).count() == rowsBefore)
    assert(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      .bucketSpec.exists(_.numBuckets == DedupIndex.DefaultBuckets))
    assert(DedupIndex.dedup(batch, ixName).collect().toSeq == before)
    // and the compacted table still accepts bucketed appends
    DedupIndex.append(corpus.limit(5)
      .select(col("doc_id"), concat(col("text"), lit(" post-compact")).as("text")),
      ixName)
    assert(spark.table(t).count() == rowsBefore + 5)
  }
}
