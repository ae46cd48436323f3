package graft

import org.apache.spark.sql.functions._
import graft.operators.{UrlCuration, UrlIndex}

/** s15: persisted URL-frontier index — registry bootstrap from a
  * corpus, batch verdicts with the q109 status vocabulary, idempotent
  * append, and agreement with the q151 canonical/dup partition. */
class UrlIndexSpec extends GraftSpec {
  import spark.implicits._

  private val Name = "graft_urlix"

  private lazy val corpus = Seq(
    (1L, "https://www.siteA.com:443/p/1?utm_source=x"),
    (2L, "HTTPS://sitea.com/p/1#frag"),          // same canonical as 1
    (3L, "https://siteB.org/p/2")
  ).toDF("doc_id", "url")

  test("s15 fit registers one hash per canonical URL") {
    UrlIndex.drop(spark, Name)
    UrlIndex.fit(corpus, Name)
    assert(spark.table(UrlIndex.urlsTable(Name)).count() == 2L) // A/p/1, B/p/2
  }

  test("s15 fit over an orphaned table location starts from a clean table") {
    val n = "graft_urlix_orphan"
    orphanLocations(UrlIndex.urlsTable(n))
    UrlIndex.fit(corpus, n)
    assert(spark.table(UrlIndex.urlsTable(n)).count() == 2L)
    UrlIndex.drop(spark, n)
  }

  test("s15 dedup verdicts: corpus dup, in-batch dup, new") {
    UrlIndex.drop(spark, Name)
    UrlIndex.fit(corpus, Name)
    val batch = Seq(
      (10L, "https://sitea.com/p/1/"),          // variant of a fitted URL
      (11L, "https://siteC.net/p/9"),           // new
      (12L, "https://www.siteC.net/p/9"),       // in-batch variant of 11
      (13L, "https://siteB.org/p/2?utm_a=1")    // variant of fitted
    ).toDF("doc_id", "url")
    val got = UrlIndex.dedup(batch, Name).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(got == Map(10L -> "dup_corpus", 11L -> "new",
      12L -> "dup_batch", 13L -> "dup_corpus"), got)
  }

  test("s15 append registers only new canonicals and replays no-op") {
    UrlIndex.drop(spark, Name)
    UrlIndex.fit(corpus, Name)
    val inc = Seq(
      (20L, "https://siteD.io/x"),
      (21L, "https://sitea.com/p/1")            // already registered
    ).toDF("doc_id", "url")
    UrlIndex.append(inc, Name)
    assert(spark.table(UrlIndex.urlsTable(Name)).count() == 3L)
    UrlIndex.append(inc, Name)                  // replay
    assert(spark.table(UrlIndex.urlsTable(Name)).count() == 3L)
    // the appended URL now judges as corpus-dup
    val v = UrlIndex.dedup(Seq((30L, "https://www.siteD.io/x"))
      .toDF("doc_id", "url"), Name).collect()
    assert(v.head.getAs[String]("status") == "dup_corpus")
  }

  test("s15 verdict partition == q151 canonical/dup over the same frame") {
    // q151 over synthetic doc URLs; UrlIndex fitted EMPTY then asked to
    // judge the same frame: in-batch firsts == q151 canonicals
    val docs = (0L until 120L).map(i => (i, s"t$i", s"src${i % 20}"))
      .toDF("doc_id", "text", "source")
    val withUrl = UrlCuration.withUrl(docs).select(col("doc_id"), col("url"))
    UrlIndex.drop(spark, Name)
    UrlIndex.fit(withUrl.limit(0), Name)
    val verdicts = UrlIndex.dedup(withUrl, Name).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val q151 = UrlCuration.q151(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    q151.foreach { case (id, st) =>
      val expected = if (st == "canonical") "new" else "dup_batch"
      assert(verdicts(id) == expected, s"doc $id: ${verdicts(id)} vs $st")
    }
  }
}
