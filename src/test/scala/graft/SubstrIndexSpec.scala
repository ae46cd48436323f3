package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Dedup, SubstrIndex}

/** s26: persisted substring-containment index. Contract: a batch doc
  * containing a verbatim run ≥ minLen chars of any fitted text is
  * flagged with its EXACT maximal span length and covered chars;
  * detection of ≥ minLen runs is guaranteed (winnowing bound), spans
  * are exact (extension verify); append maintenance equals a refit. */
class SubstrIndexSpec extends GraftSpec {
  import spark.implicits._

  private val block =
    "this benchmark passage is long enough to trip the sixty four char floor"
  private val other =
    "a second distinct corpus passage also comfortably past the length floor!"

  private lazy val corpus = Seq(
    (1L, "corpus intro " + block + " corpus outro words here"),
    (2L, "unrelated corpus content about completely different things here"),
    (3L, "another document carrying " + other + " inside its body text")
  ).toDF("doc_id", "text")

  private lazy val batch = Seq(
    (101L, "new doc quoting " + block.toUpperCase + " in different casing"), // contained (case-insensitive)
    (102L, "totally novel writing sharing nothing with the fitted corpus!"), // clean
    (103L, "this one splices " + block + " and also " + other + " together"), // contained, two spans
    (104L, "corpus intro " + block + " corpus outro words here")             // exact copy of doc 1
  ).toDF("doc_id", "text")

  private val Name = "graft_substrix"
  private lazy val fitted: Unit = {
    SubstrIndex.drop(spark, Name)
    SubstrIndex.fit(corpus, Name)
  }

  test("s26 fit over an orphaned table location starts from a clean table") {
    val n = "graft_substrix_orphan"
    orphanLocations(SubstrIndex.sfpTable(n), SubstrIndex.textsTable(n),
      SubstrIndex.paramsTable(n))
    SubstrIndex.fit(corpus, n)
    assert(spark.table(SubstrIndex.textsTable(n)).count() == 3L)
    SubstrIndex.drop(spark, n)
  }

  test("s26 append heals a compaction that crashed between its two renames") {
    val n = "graft_substrix_heal"
    SubstrIndex.drop(spark, n)
    SubstrIndex.fit(corpus, n)
    val sfp = SubstrIndex.sfpTable(n)
    val fittedRows = spark.table(sfp).collect().toSet
    // the crash window: the serving name is unbound, the complete
    // rewrite survives under `_compacting`
    spark.sql(s"ALTER TABLE $sfp RENAME TO ${sfp}_compacting")
    val inc = Seq((201L, "a freshly admitted document that is long enough " +
      "to carry fingerprints of its own past the floor")).toDF("doc_id", "text")
    SubstrIndex.append(inc, n)
    assert(spark.catalog.tableExists(sfp))
    assert(!spark.catalog.tableExists(s"${sfp}_compacting"))
    val healed = spark.table(sfp).collect().toSet
    assert(fittedRows.subsetOf(healed) && healed.size > fittedRows.size,
      s"fitted ${fittedRows.size} rows, healed table holds ${healed.size}")
    val v = rows(SubstrIndex.containment(batch, n))
    graft.Pins.release()
    assert(v(101L)._1 == "contained", v)
    SubstrIndex.drop(spark, n)
  }

  private def rows(df: DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("status"), r.getAs[Int]("max_len"),
        r.getAs[Long]("covered_chars"))).toMap

  test("s26 containment: planted verbatim runs flagged with exact extents") {
    fitted
    graft.Pins.release()
    val v = rows(SubstrIndex.containment(batch, Name))
    graft.Pins.release()
    assert(v(102L)._1 == "clean" && v(102L)._2 == 0 && v(102L)._3 == 0L, v)
    // 101: the quoted block normalizes into doc 1's text; the maximal
    // span includes the shared " " on each side of the block? No — the
    // surrounding words differ, so the span is the block plus any
    // accidentally-equal boundary chars; at least the block itself
    assert(v(101L)._1 == "contained" && v(101L)._2 >= block.length, v)
    assert(v(101L)._3 >= block.length, v)
    // 103 carries two distinct corpus passages: covered ≥ both blocks
    assert(v(103L)._1 == "contained", v)
    assert(v(103L)._3 >= (block.length + other.length).toLong, v)
    // 104 is byte-identical to fitted doc 1: contained end to end
    val t104 = "corpus intro " + block + " corpus outro words here"
    assert(v(104L)._1 == "contained" && v(104L)._2 == t104.length, v)
    assert(v(104L)._3 == t104.length.toLong, v)
  }

  test("s26 exactness: reported max_len equals the brute-force longest common run") {
    fitted
    graft.Pins.release()
    def longestRun(a: String, b: String): Int = {
      var best = 0
      for (d <- -(b.length - 1) to (a.length - 1)) {
        var i = math.max(0, d); var run = 0
        while (i < a.length && (i - d) < b.length) {
          if (a.charAt(i) == b.charAt(i - d)) { run += 1; best = math.max(best, run) }
          else run = 0
          i += 1
        }
      }
      best
    }
    val corpusTexts = corpus.collect().map(_.getString(1).trim.toLowerCase)
    val v = rows(SubstrIndex.containment(batch, Name))
    graft.Pins.release()
    batch.collect().foreach { r =>
      val t = r.getString(1).trim.toLowerCase
      val exact = corpusTexts.map(c => longestRun(t, c)).max
      val got = v(r.getLong(0))._2
      if (exact >= 64) assert(got == exact, s"doc ${r.getLong(0)}: $got vs $exact")
      else assert(got == 0, s"doc ${r.getLong(0)}: $got but longest run $exact < 64")
    }
  }

  test("s26 append: post-append containment sees the new corpus; replay no-ops") {
    fitted
    graft.Pins.release()
    val extra = "freshly appended corpus text holding its own sixty-four char secret!!"
    assert(extra.length >= 64)
    val newDocs = Seq((10L, "wrapper around " + extra + " trailing")).toDF("doc_id", "text")
    val probe = Seq((201L, "probe that quotes " + extra + " verbatim")).toDF("doc_id", "text")
    val before = rows(SubstrIndex.containment(probe, Name))
    graft.Pins.release()
    assert(before(201L)._1 == "clean", before)
    SubstrIndex.append(newDocs, Name)
    val after = rows(SubstrIndex.containment(probe, Name))
    graft.Pins.release()
    assert(after(201L)._1 == "contained" && after(201L)._2 >= extra.length, after)
    // replay: appending the same docs again changes nothing
    val n1 = spark.table(SubstrIndex.sfpTable(Name)).count()
    SubstrIndex.append(newDocs, Name)
    assert(spark.table(SubstrIndex.sfpTable(Name)).count() == n1)
    val again = rows(SubstrIndex.containment(probe, Name))
    graft.Pins.release()
    assert(again == after)
  }

  test("s26 guarantee: every planted run >= minLen is detected across random offsets") {
    fitted
    graft.Pins.release()
    // plant the corpus block at several offsets/paddings — the
    // winnowing bound says detection cannot depend on alignment
    val probes = (0 until 6).map { i =>
      (300L + i, ("pad" + ("x" * i) + " ") * (i + 1) + block + " tail" + i)
    }.toDF("doc_id", "text")
    val v = rows(SubstrIndex.containment(probes, Name))
    graft.Pins.release()
    v.foreach { case (id, (st, len, _)) =>
      assert(st == "contained" && len >= block.length, s"$id: $st/$len")
    }
  }

  test("s26 scrub: leaked bytes cut with interval union, clean docs byte-identical, closure holds") {
    fitted
    graft.Pins.release()
    val probes = Seq(
      (601L, "own opening " + block + " own middle " + other + " own closing"), // two cuts
      (602L, "totally novel writing sharing nothing with the fitted corpus!"),  // untouched
      (603L, "corpus intro " + block + " corpus outro words here")              // == fitted doc 1: cut to nothing-ish
    ).toDF("doc_id", "text")
    val out = SubstrIndex.scrub(probes, Name).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("cut_chars"))).toMap
    graft.Pins.release()
    // both planted blocks cut, the doc's own prose survives
    assert(out(601L)._3 >= (block.length + other.length).toLong, out(601L))
    assert(!out(601L)._1.contains(block) && !out(601L)._1.contains(other), out(601L))
    assert(out(601L)._1.contains("own opening"), out(601L))
    // clean doc passes through byte-identical (normalized)
    assert(out(602L)._3 == 0L &&
      out(602L)._1 == "totally novel writing sharing nothing with the fitted corpus!",
      out(602L))
    // an exact copy of a fitted text is cut end to end
    assert(out(603L)._1.isEmpty && out(603L)._3 == out(603L)._2, out(603L))
    // closure: scrubbed output re-probes clean
    val re = SubstrIndex.containment(
      Seq((701L, out(601L)._1), (702L, out(602L)._1)).toDF("doc_id", "text"),
      Name).collect()
    graft.Pins.release()
    assert(re.forall(_.getAs[String]("status") == "clean"), re.toSeq)
  }

  test("s26 params: probes serve under the FITTED (minLen, gram), not defaults") {
    val name = "graft_substrix_p"
    SubstrIndex.drop(spark, name)
    // non-default knobs: gram 24, floor 72 — under the r14 bug a probe
    // would fingerprint with the DEFAULT gram 16, share zero hashes
    // with the index, and read 'clean' (silent false negative)
    SubstrIndex.fit(corpus, name, minLen = 72, gram = 24)
    val probe = Seq((401L, "quoting " + block + " here")).toDF("doc_id", "text")
    val v = rows(SubstrIndex.containment(probe, name))
    graft.Pins.release()
    assert(v(401L)._1 == "contained" && v(401L)._2 >= block.length, v)
    // append under fitted params: a doc registered post-fit is found
    // by a later probe even though nobody re-supplied (minLen, gram)
    val extra = "appended body comfortably past the seventy-two char floor set at fit time!!"
    assert(extra.length >= 72)
    SubstrIndex.append(Seq((402L, extra)).toDF("doc_id", "text"), name)
    val v2 = rows(SubstrIndex.containment(
      Seq((403L, "probe with " + extra + " inside")).toDF("doc_id", "text"), name))
    graft.Pins.release()
    assert(v2(403L)._1 == "contained" && v2(403L)._2 >= extra.length, v2)
    // a pre-params index (no _params table) fails loudly, not 'clean'
    spark.sql(s"DROP TABLE IF EXISTS ${SubstrIndex.paramsTable(name)}")
    intercept[IllegalArgumentException] {
      SubstrIndex.containment(probe, name)
    }
    SubstrIndex.drop(spark, name)
  }

  test("s26 dfCap: hot boilerplate grams are excluded from candidates, rare spans still hit") {
    val name = "graft_substrix_cap"
    SubstrIndex.drop(spark, name)
    val boiler = "universal footer boilerplate carried verbatim by every fitted corpus document in this index fixture!"
    assert(boiler.length >= 64)
    val secret = "a rare passage that exactly one fitted document carries well past the floor"
    assert(secret.length >= 64)
    val fitDocs = ((1L to 40L).map(i =>
      (i, s"fitted doc $i body token z${i * 13} then " + boiler)) :+
      (41L, "the keeper doc holds " + secret + " and " + boiler))
      .toDF("doc_id", "text")
    SubstrIndex.fit(fitDocs, name, dfCap = 10)
    val probes = Seq(
      (501L, "new page quoting only " + boiler + " and nothing else"),
      (502L, "new page quoting the " + secret + " rare passage")
    ).toDF("doc_id", "text")
    val v = rows(SubstrIndex.containment(probes, name))
    graft.Pins.release()
    // boilerplate-only probe: its anchors are all hot (df = 41 > 10) —
    // forgone by the cap, knowingly
    assert(v(501L)._1 == "clean", v)
    // rare-span probe: df = 1 anchors survive the cap
    assert(v(502L)._1 == "contained" && v(502L)._2 >= secret.length, v)
    SubstrIndex.drop(spark, name)
  }
}
