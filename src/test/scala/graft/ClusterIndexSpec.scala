package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{ClusterIndex, Dedup}

/** s27: persisted near-dup cluster-label index. Contract: the served
  * labels are bit-identical to the inline CC path, append ≡ refit on
  * the union corpus, fit params persist, and the downstream family
  * (q105/q133/q182/q188) returns identical frames either way. */
class ClusterIndexSpec extends GraftSpec {
  import spark.implicits._

  // near-dup structure: docs 1/2 Jaccard-near (one word differs in a
  // long shingle stream), 3 an exact dup of 1, 4/5 near pair, 6 alone,
  // 7 a one-token doc (gram-less — must stay out of the label frame)
  private def line(tail: String) =
    s"alpha beta gamma delta epsilon zeta eta theta iota kappa $tail"
  private lazy val corpus = Seq(
    (1L, line("one two three four five six seven")),
    (2L, line("one two three four five six EIGHT")),
    (3L, line("one two three four five six seven").toUpperCase),
    (4L, "the quick brown fox jumps over the lazy dog again and again ok"),
    (5L, "the quick brown fox jumps over the lazy dog again and again no"),
    (6L, "entirely different content with no shingles shared anywhere at all"),
    (7L, "solo")
  ).toDF("doc_id", "text")

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private val Name = "graft_clix"

  test("s27 fit over an orphaned table location starts from a clean table") {
    val n = "graft_clix_orphan"
    orphanLocations(ClusterIndex.labelsTable(n), ClusterIndex.gramsTable(n),
      ClusterIndex.digestsTable(n), ClusterIndex.metaTable(n))
    ClusterIndex.fit(corpus, n)
    assert(labelSet(ClusterIndex.labels(spark, n)).nonEmpty)
    assert(ClusterIndex.params(spark, n)._2 == 7L)
    ClusterIndex.drop(spark, n)
  }

  test("s27 fit: served labels == inline clusters(neardupEdges), bit for bit") {
    ClusterIndex.drop(spark, Name)
    ClusterIndex.fit(corpus, Name)
    val served = labelSet(ClusterIndex.labels(spark, Name))
    val inline = labelSet(Dedup.clusters(Dedup.neardupEdges(corpus)))
    assert(served == inline, s"served $served != inline $inline")
    // the structure the fixture promises: {1,2,3} labelled 1, {4,5}
    // labelled 4; 6 and 7 absent (no edges)
    assert(served == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)))
  }

  test("s27 params persist; probing them before fit fails loudly") {
    ClusterIndex.drop(spark, Name)
    val e = intercept[IllegalArgumentException] {
      ClusterIndex.params(spark, Name)
    }
    assert(e.getMessage.contains("run fit first"))
    ClusterIndex.fit(corpus, Name, t = 0.7)
    val (t, n, v) = ClusterIndex.params(spark, Name)
    assert(t == 0.7 && n == 7L && v == 1)
  }

  test("s27 append == refit on the union: absorb, bridge, new clique") {
    ClusterIndex.drop(spark, Name)
    ClusterIndex.fit(corpus, Name)
    val batch = Seq(
      // exact dup of doc 1's normalized text: absorbed via digests
      (101L, line("one two three four five six seven")),
      // near-dup BRIDGE between cluster {1,2,3} and a new text family:
      // near 2's text (differs from 2 by one trailing word)
      (102L, line("one two three four five six NINE")),
      // new batch-internal exact-dup clique
      (103L, "novel appended content family with many matching shingles yes"),
      (104L, "novel appended content family with many matching shingles yes"),
      // unrelated batch doc: stays a singleton, out of the label frame
      (105L, "lone appended text with nothing shared against anything else")
    ).toDF("doc_id", "text")
    ClusterIndex.append(batch, Name)
    val served = labelSet(ClusterIndex.labels(spark, Name))
    val refit = labelSet(Dedup.clusters(
      Dedup.neardupEdges(corpus.unionAll(batch))))
    assert(served == refit, s"append $served != refit $refit")
    assert(served.contains((101L, 1L)) && served.contains((102L, 1L)),
      served)
    assert(served.contains((104L, 103L)), served)
    assert(!served.exists(_._1 == 105L), served)
    val (_, n, _) = ClusterIndex.params(spark, Name)
    assert(n == 12L)
  }

  test("s27 append retry after a mid-crash: grams landed, digests didn't — retry heals") {
    // the non-atomic multi-table append's one dangerous window (r16
    // review): a crash after the grams append but before the digests
    // commit record. Reconstruct that exact state from a COMPLETED
    // append — labels rolled back to the fitted value, batch digests
    // removed, batch grams left in place — then retry and require (a)
    // labels == refit on the union and (b) zero duplicated gram rows
    // (a duplicate would inflate every future Jaccard verification).
    ClusterIndex.drop(spark, Name)
    ClusterIndex.fit(corpus, Name)
    val fitLabels = spark.table(ClusterIndex.labelsTable(Name))
      .collect().toSeq
    val batch = Seq(
      (201L, line("one two three four five six NINE")),      // near-dup bridge
      (202L, "fresh retry family with plenty of shared shingles right here"),
      (203L, "fresh retry family with plenty of shared shingles right here")
    ).toDF("doc_id", "text")
    ClusterIndex.append(batch, Name)
    val healthy = labelSet(ClusterIndex.labels(spark, Name))
    // reconstruct the crash window
    val batchDgs = batch.select(Dedup.normDigest.as("dg"))
      .collect().map(_.getString(0)).toSet
    val keptDigests = spark.table(ClusterIndex.digestsTable(Name))
      .collect().filterNot(r => batchDgs.contains(r.getAs[String]("dg")))
    val dgSchema = spark.table(ClusterIndex.digestsTable(Name)).schema
    graft.sources.Sources.writeBucketed(
      spark.createDataFrame(
        spark.sparkContext.parallelize(keptDigests.toSeq), dgSchema),
      ClusterIndex.digestsTable(Name) + "_tmp", "dg", 8)
    spark.sql(s"DROP TABLE ${ClusterIndex.digestsTable(Name)}")
    spark.sql(s"ALTER TABLE ${ClusterIndex.digestsTable(Name)}_tmp " +
      s"RENAME TO ${ClusterIndex.digestsTable(Name)}")
    val lblSchema = spark.table(ClusterIndex.labelsTable(Name)).schema
    graft.sources.Sources.writeBucketed(
      spark.createDataFrame(
        spark.sparkContext.parallelize(fitLabels), lblSchema),
      ClusterIndex.labelsTable(Name), "doc_id", 8)
    // retry the append against the half-committed state
    ClusterIndex.append(batch, Name)
    val healed = labelSet(ClusterIndex.labels(spark, Name))
    assert(healed == healthy, s"retry diverged: $healed vs $healthy")
    val refit = labelSet(Dedup.clusters(
      Dedup.neardupEdges(corpus.unionAll(batch))))
    assert(healed == refit, s"retry != refit: $healed vs $refit")
    val grams = spark.table(ClusterIndex.gramsTable(Name))
    assert(grams.count() ==
      grams.select(col("doc_id"), col("g")).distinct().count(),
      "duplicated gram rows after retry")
  }

  test("s27 layout invariance: labels identical under input repartition") {
    ClusterIndex.drop(spark, Name)
    ClusterIndex.fit(corpus.repartition(7), Name)
    val a = labelSet(ClusterIndex.labels(spark, Name))
    ClusterIndex.drop(spark, Name)
    ClusterIndex.fit(corpus.coalesce(1), Name)
    assert(a == labelSet(ClusterIndex.labels(spark, Name)))
  }

  test("s27 downstream family parity: q64/q65/q105/q133/q182/q188 identical via index") {
    ClusterIndex.drop(spark, Name)
    ClusterIndex.fit(corpus, Name)
    val lbl = Some(ClusterIndex.labels(spark, Name))
    val docs = corpus
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq
    assert(rows(operators.Pipeline.q105(docs, labels = lbl)) ==
      rows(operators.Pipeline.q105(docs)))
    assert(rows(operators.Pipeline.q133(docs, labels = lbl)) ==
      rows(operators.Pipeline.q133(docs)))
    assert(rows(operators.Pipeline.q182(docs, labels = lbl)) ==
      rows(operators.Pipeline.q182(docs)))
    assert(rows(Dedup.q188(docs, precomputedLabels = lbl)) ==
      rows(Dedup.q188(docs)))
    assert(rows(Dedup.q64(docs, precomputedLabels = lbl)) ==
      rows(Dedup.q64(docs)))
    assert(rows(operators.Pipeline.cleanCorpus(docs, precomputedLabels = lbl)) ==
      rows(operators.Pipeline.cleanCorpus(docs)))
  }

  test("reliable-checkpoint seam: CC labels AND pagerank bit-identical on the reliable path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L), (13L, 12L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val local = labelSet(Dedup.clusters(pairs))
    // every iterative loop shares the Ckpt seam: pagerank on the same
    // session must also be bit-identical on the reliable path —
    // baselines computed BEFORE the seam flips
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
    def ranks() = operators.Graphs.pagerank(edges, iters = 5).collect()
      .map(_.toString).sorted.toSeq
    val localRanks = ranks()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val reliable = labelSet(Dedup.clusters(pairs))
      assert(reliable == local)
      assert(ranks() == localRanks)
      // the reliable store was actually used: RDD checkpoint files exist
      val files = new java.io.File(dir).listFiles()
      assert(files != null && files.nonEmpty, s"no checkpoint data in $dir")
    } finally spark.conf.set("spark.graft.reliableCheckpoint", "false")
  }
}
