package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, NearDupIndex}

/** s13: persisted near-dup (MinHash-LSH) index + its table-free twin
  * q131. Contract: serving from the fitted lake tables is bit-identical
  * to the live computation; verdicts are exact Jaccard (so plantable);
  * append maintenance equals a full refit because every artifact is a
  * pure hash of the text. */
class NearDupIndexSpec extends GraftSpec {
  import spark.implicits._

  // 15-word distinct texts (13 shingles each) + an exact-dup clique
  private def words(i: Long) =
    (1 to 15).map(w => s"w${(i * 31 + w * 7) % 997}x$w").mkString(" ")
  private lazy val corpus = (1L to 60L)
    .map(i => (i, if (i <= 55) words(i) else words(1L))) // 56..60 dup w1
    .toDF("doc_id", "text")

  // near-dup = corpus text + ONE appended word: 14 shingles, 13 shared
  // → J = 13/14 ≈ 0.9286 (≥ the 0.7 threshold, banding P ≈ 1)
  private def near(i: Long) = words(i) + " zz_tail"
  private lazy val batch = Seq(
    (1001L, words(5)),                  // dup_corpus
    (1002L, near(7L)),                  // near_corpus vs words(7)
    (1003L, "completely different text about unrelated topics entirely " +
      "with enough words to actually shingle into a real set"), // new
    (1004L, near(7L)),                  // dup_batch (same dg as 1002)
    (1005L, "tiny doc"),                // < 3 words: no shingles → new
    (1006L, words(1L))                  // dup_corpus (via the clique)
  ).toDF("doc_id", "text")

  private val Name = "graft_neardupix"
  private lazy val fitted: Unit = {
    NearDupIndex.drop(spark, Name)
    NearDupIndex.fit(corpus, Name)
  }

  test("s13 fit over an orphaned table location starts from a clean table") {
    val n = "graft_neardupix_orphan"
    orphanLocations(NearDupIndex.digestsTable(n), NearDupIndex.bandsTable(n),
      NearDupIndex.gramsTable(n))
    NearDupIndex.fit(corpus, n)
    assert(spark.table(NearDupIndex.digestsTable(n)).count() == 55L)
    NearDupIndex.drop(spark, n)
  }

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("dg"),
      r.getAs[String]("status"), r.getAs[String]("match_dg"),
      Option(r.getAs[java.lang.Double]("jaccard")).map(_.doubleValue))).toSeq

  test("s13 dedup from the loaded index == live q131, bit for bit") {
    fitted
    assert(rows(NearDupIndex.dedup(batch, Name)) ==
      rows(Dedup.q131(corpus, batch)))
  }

  test("q131 verdicts: planted exact / near / batch / short-doc statuses") {
    val out = rows(Dedup.q131(corpus, batch))
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1001L)._3 == "dup_corpus")
    assert(byId(1003L)._3 == "new")
    assert(byId(1004L)._3 == "dup_batch")
    assert(byId(1005L)._3 == "new") // shingle-less docs can only be exact-judged
    assert(byId(1006L)._3 == "dup_corpus")
    // the near row names its base text and carries the EXACT Jaccard
    val (_, _, st, matchDg, jac) = byId(1002L)
    assert(st == "near_corpus")
    val dg7 = corpus.filter(col("doc_id") === 7L)
      .select(md5(encode(lower(trim(col("text"))), "UTF-8"))).head().getString(0)
    assert(matchDg == dg7)
    assert(jac.exists(j => math.abs(j - 13.0 / 14.0) < 1e-12))
    // exact statuses never carry match columns
    assert(byId(1001L)._4 == null && byId(1001L)._5.isEmpty)
    assert(byId(1004L)._4 == null)
  }

  test("s13 exact-dup collapse discipline: a 500-member clique bands ONCE, verdicts stay per-member") {
    // the q42 collapse audit the s27 index made standard (r16 verdict
    // follow-up): both the FIT side and the PROBE side key all LSH
    // artifacts by normalized-text digest, so a boilerplate clique of
    // any size contributes ONE banding row set — the candidate join's
    // fan-in is distinct texts, never documents
    val cliqueText = (1 to 15).map(w => s"clique_w$w term$w").mkString(" ")
    val fitBase = Seq((1L, cliqueText), (2L, "totally other words here now"))
    val cliquey = fitBase ++ (3L to 502L).map(i => (i, cliqueText))
    val nm1 = "graft_s13_collapse_a"; val nm2 = "graft_s13_collapse_b"
    NearDupIndex.drop(spark, nm1); NearDupIndex.drop(spark, nm2)
    NearDupIndex.fit(fitBase.toDF("doc_id", "text"), nm1)
    NearDupIndex.fit(cliquey.toDF("doc_id", "text"), nm2)
    // fit side: 500 clique members store EXACTLY the rows 1 member does
    assert(spark.table(NearDupIndex.bandsTable(nm2)).count() ==
      spark.table(NearDupIndex.bandsTable(nm1)).count())
    assert(spark.table(NearDupIndex.gramsTable(nm2)).count() ==
      spark.table(NearDupIndex.gramsTable(nm1)).count())
    // probe side: a 500-member batch clique of a NEAR text collapses to
    // one shingled representative (the verdict core's newRep drop) —
    // per-member verdicts still come out right: the first id is the
    // near_corpus row, the other 499 are dup_batch
    val nearText = cliqueText + " tail"
    val probe = (1001L to 1500L).map(i => (i, nearText))
    val out = rows(NearDupIndex.dedup(probe.toDF("doc_id", "text"), nm1))
    assert(out.count(_._3 == "near_corpus") == 1, out.take(5))
    assert(out.find(_._3 == "near_corpus").map(_._1).contains(1001L))
    assert(out.count(_._3 == "dup_batch") == 499, out.take(5))
    NearDupIndex.drop(spark, nm1); NearDupIndex.drop(spark, nm2)
  }

  test("s13 append == pinned full refit, and replay is a no-op") {
    fitted
    val admitted = Seq(
      (2001L, (1 to 15).map(w => s"appended_a$w token$w").mkString(" ")),
      (2002L, (1 to 15).map(w => s"appended_b$w token$w").mkString(" ")),
      (2003L, words(3L)) // already indexed: must not re-register
    ).toDF("doc_id", "text")
    NearDupIndex.append(admitted, Name)
    val nDg = spark.table(NearDupIndex.digestsTable(Name)).count()
    assert(nDg == 57L) // 55 distinct corpus texts + 2 appended
    NearDupIndex.append(admitted, Name) // replay
    assert(spark.table(NearDupIndex.digestsTable(Name)).count() == nDg)
    // a later batch near-dups an APPENDED doc and exact-dups another
    val batch2 = Seq(
      (3001L, (1 to 15).map(w => s"appended_a$w token$w").mkString(" ") + " zz"),
      (3002L, (1 to 15).map(w => s"appended_b$w token$w").mkString(" ")),
      (3003L, "never indexed text with plenty of fresh words to shingle " +
        "cleanly and land as new")
    ).toDF("doc_id", "text")
    val got = rows(NearDupIndex.dedup(batch2, Name))
    // bit parity with a live q131 over the widened corpus — i.e.
    // fit(old) + append(new) ≡ fit(old ∪ new)
    val widened = corpus.unionAll(admitted)
    assert(got == rows(Dedup.q131(widened, batch2)))
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(3001L)._3 == "near_corpus")
    assert(byId(3002L)._3 == "dup_corpus")
    assert(byId(3003L)._3 == "new")
  }

  test("s13 appended band postings land under the tables' bucket spec") {
    fitted
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(NearDupIndex.bandsTable(Name)))
    assert(meta.bucketSpec.exists(_.numBuckets == NearDupIndex.DefaultBuckets))
    assert(meta.bucketSpec.exists(_.bucketColumnNames == Seq("band_key")))
    // every indexed digest with ≥ 3 words has exactly 16 band rows
    val bandCounts = spark.table(NearDupIndex.bandsTable(Name))
      .groupBy(col("dg")).agg(count(lit(1)).as("n")).select(col("n"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(bandCounts == Set(Dedup.Bands.toLong))
  }
}
