package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Bm25Index, TextAnalysis}

/** s14: persisted BM25 inverted index. Contract: serving from the
  * fitted tables is bit-identical to live q116; append maintenance
  * equals a full refit (idf derives from the maintained df/stats at
  * query time); the postings scan prunes to the query vocabulary. */
class Bm25IndexSpec extends GraftSpec {
  import spark.implicits._

  private lazy val corpus = (1L to 200L).map { i =>
    val topic = Seq("spark", "hive", "parquet", "arrow")(i.toInt % 4)
    (i, s"document about $topic processing number ${i % 40} with filler words")
  }.toDF("doc_id", "text")

  private lazy val queries = Seq(
    (1L, Seq("spark", "processing")),
    (2L, Seq("parquet", "filler", "nosuchterm"))
  ).toDF("query_id", "terms")

  private val Name = "graft_bm25ix"
  private lazy val fitted: Unit = {
    Bm25Index.drop(spark, Name)
    Bm25Index.fit(corpus, Name)
  }

  test("s14 fit over an orphaned table location starts from a clean table") {
    val n = "graft_bm25ix_orphan"
    orphanLocations(Bm25Index.postingsTable(n), Bm25Index.dfTable(n),
      Bm25Index.dlTable(n), Bm25Index.statsTable(n))
    Bm25Index.fit(corpus, n)
    assert(spark.table(Bm25Index.dlTable(n)).count() == 200L)
    assert(spark.table(Bm25Index.statsTable(n)).head().getAs[Long]("n_docs") == 200L)
    Bm25Index.drop(spark, n)
  }

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("doc_id"), r.getAs[Long]("n_hit"),
      r.getAs[Double]("score"))).toSeq

  test("s14 search from the loaded index == live q116, bit for bit") {
    fitted
    assert(rows(Bm25Index.search(queries, Name)) ==
      rows(TextAnalysis.q116(corpus, queries)))
  }

  test("s14 pruned search reads only the query terms' bucket files") {
    fitted
    val total = spark.table(Bm25Index.postingsTable(Name))
      .select(input_file_name()).distinct().count()
    val touched = spark.table(Bm25Index.postingsTable(Name))
      .filter(col("tok").isin("spark", "processing"))
      .select(input_file_name()).distinct().count()
    assert(total == Bm25Index.DefaultBuckets.toLong)
    assert(touched < total) // bucket pruning is real file skipping
  }

  test("s14 append == full refit across search, and replay is a no-op") {
    fitted
    val newDocs = Seq(
      (1001L, "fresh spark streaming document with novel vocabulary"),
      (1002L, "another parquet document about compaction"),
      (1003L, corpus.filter(col("doc_id") === 3L).head().getAs[String]("text"))
    ).toDF("doc_id", "text")
    // doc 3's TEXT re-appearing under a NEW id is a legitimate new doc
    // for retrieval (BM25 indexes ids, dedup is s12/s13's job) — but a
    // replayed id must not double-register
    Bm25Index.append(newDocs, Name)
    val reg = spark.table(Bm25Index.dlTable(Name)).count()
    assert(reg == 203L)
    Bm25Index.append(newDocs, Name)
    assert(spark.table(Bm25Index.dlTable(Name)).count() == 203L)
    // bit parity with a fresh fit over the widened corpus: idf/avgdl
    // re-derive from the merged df/stats, so ranking shifts EXACTLY as
    // the refit's would
    val refit = "graft_bm25ix_refit"
    Bm25Index.drop(spark, refit)
    Bm25Index.fit(corpus.unionAll(newDocs), refit)
    val q2 = Seq((9L, Seq("spark", "novel", "compaction"))).toDF("query_id", "terms")
    assert(rows(Bm25Index.search(q2, Name)) ==
      rows(Bm25Index.search(q2, refit)))
    assert(rows(Bm25Index.search(queries, Name)) ==
      rows(Bm25Index.search(queries, refit)))
    // stats row tracked the increment exactly
    val s = spark.table(Bm25Index.statsTable(Name)).head()
    val s2 = spark.table(Bm25Index.statsTable(refit)).head()
    assert(s.getAs[Long]("n_docs") == s2.getAs[Long]("n_docs") &&
      s.getAs[Long]("total_toks") == s2.getAs[Long]("total_toks"))
  }
}
