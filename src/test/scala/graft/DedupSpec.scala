package graft

import graft.operators.Dedup

/** Planted-duplicate specs for the dedup family (§2c). Docs 1 and 4 are
  * identical; doc 2 is a one-word near-dup (Jaccard 0.75); doc 3 is
  * unrelated. */
class DedupSpec extends GraftSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text about spark engines here today"),
    (4L, "the quick brown fox jumps over the lazy dog")
  ).toDF("doc_id", "text")

  test("q40 exact dedup groups identical text, keeps min doc_id") {
    val rows = Dedup.q40(docs).collect()
    assert(rows.length == 3)
    val dup = rows.find(_.getAs[Long]("keep_id") == 1L).get
    assert(dup.getAs[Long]("dup_count") == 2L)
  }

  test("q41 n-gram Jaccard finds the identical pair, not the 0.75 pair") {
    val pairs = Dedup.q41(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.toSeq == Seq((1L, 4L)))
  }

  test("q42 minhash-LSH surfaces the identical pair with J=1") {
    val rows = Dedup.q42(docs).collect()
    val pair = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pair.contains((1L, 4L)), pair.toSeq)
    val j = rows.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 4L)
      .get.getAs[Double]("jaccard")
    assert(j == 1.0)
  }

  test("q43 simhash gives identical docs Hamming distance 0") {
    val rows = Dedup.q43(docs).collect()
    val h = rows.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 4L)
    assert(h.isDefined, rows.toSeq)
    assert(h.get.getAs[Int]("hamming") == 0)
  }

  test("q84 edit-distance verify keeps the one-word tweak q41's J>0.8 gate rejects") {
    val rows = Dedup.q84(docs).collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        (r.getAs[Long]("dist"), r.getAs[Double]("edit_sim")))).toMap
    // dog→cat is 3 edits over 43 chars: gram-far (J≈0.56) but edit-near
    assert(rows.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)), rows.keySet)
    assert(rows((1L, 4L)) == ((0L, 1.0)))
    assert(rows((1L, 2L))._1 == 3L)
    assert(rows((1L, 2L))._2 > 0.9)
    // and q41's strict gate indeed rejects the tweak pair
    assert(!Dedup.q41(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).contains((1L, 2L)))
  }

  test("q84 banded Levenshtein keeps exactly the pairs the unbanded filter keeps") {
    import org.apache.spark.sql.functions.{col, greatest, length, levenshtein, lit}
    // 50-char texts: six distinct filler words, then a tail of letters;
    // a variant turns the tail's first d letters into 'z' (no base
    // holds a 'z'), so its distance is exactly d and only its last
    // shingle differs (blocking Jaccard 4/6). At simFloor 0.8 and
    // length 50 the cutoff is d = 10 (edit_sim exactly 0.8) and the band
    // is k = floor((1 - 0.8) * 50) + 2 = 11: d = 11 lies in (cutoff, k],
    // d = 12 = k + 1 makes the banded DP give up
    val groups = Seq(10 -> "north river stone bridge over mill",
      11 -> "quiet garden path past cedar trees",
      12 -> "bright market square fresh warm loaf")
    val texts = groups.flatMap { case (d, words) =>
      val tail = "abcdefghijklmnopqrstuvwxy".take(49 - words.length)
      Seq((d * 10L, s"$words $tail"),
        (d * 10L + 1, s"$words ${"z" * d}${tail.drop(d)}"))
    }
    assert(texts.forall(_._2.length == 50), texts)
    val corpus = texts.toDF("doc_id", "text")
    val ta = corpus.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = corpus.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    val unbanded = ta.crossJoin(tb).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("dist"),
        (lit(1.0) - levenshtein(col("text_a"), col("text_b")).cast("double") /
          greatest(length(col("text_a")), length(col("text_b")))).as("edit_sim"))
    // the engineered distances hold
    val dists = unbanded.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    groups.foreach { case (d, _) => assert(dists((d * 10L, d * 10L + 1)) == d) }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "dist", "edit_sim").collect().map(_.toSeq).toSet
    val expected = rows(unbanded.filter(col("edit_sim") >= 0.8))
    assert(expected == Set(Seq(100L, 101L, 10L, 0.8)), expected)
    assert(rows(Dedup.q84(corpus)) == expected)
  }

  test("clusters: transitive chain a-b, b-c collapses to one component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("label")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusters: a long path converges to the min label (many rounds)") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.clusters(pairs).collect().map(_.getAs[Long]("label")).toSet
    assert(labels == Set(1L))
  }

  test("q65 cleanCorpus with precomputed pairs equals the self-contained run") {
    import graft.operators.Pipeline
    val pairs = Dedup.q41(docs).select("doc_a", "doc_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reused = Pipeline.cleanCorpus(docs, Some(pairs)).collect().toSeq
    val fresh  = Pipeline.cleanCorpus(docs).collect().toSeq
    assert(reused == fresh)
    pairs.unpersist()
  }

  test("cleanCorpus scrubSpans == q119-then-clean; header stops gluing docs") {
    import graft.operators.Pipeline
    import org.apache.spark.sql.functions.col
    // two docs sharing a 6-token license header glued onto distinct
    // 8-token bodies: doc-level near-dup misses them (J well under
    // 0.8), but the header is pure cross-doc repeated-span noise
    val hdr = "standard license header tokens appear verbatim"
    val d = Seq(
      (1L, s"$hdr unique body one alpha beta gamma delta epsilon"),
      (2L, s"$hdr unique body two zeta eta theta iota kappa"),
      (3L, "an unrelated document with its own words entirely here now")
    ).toDF("doc_id", "text")
    // the pipeline variant IS the q119-then-clean composition
    val scrubbed = Pipeline.cleanCorpus(d, scrubSpans = true).collect().toSeq
    val composed = Pipeline.cleanCorpus(
      Dedup.q119(d).select(col("doc_id"), col("clean_text").as("text")))
      .collect().toSeq
    assert(scrubbed == composed)
    // all three docs survive, and the header bytes are gone from 1/2
    assert(scrubbed.map(_.getAs[Long]("doc_id")) == Seq(1L, 2L, 3L))
    val texts = scrubbed.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(!texts(1L).contains("license") && !texts(2L).contains("license"))
    assert(texts(1L).contains("alpha") && texts(2L).contains("zeta"))
    // without the scrub stage the header survives in the kept docs
    val plain = Pipeline.cleanCorpus(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(plain(1L).contains("license"))
  }

  test("q133 funnel: stage counts match the planted attrition closed-form") {
    import graft.operators.Pipeline
    // 6 docs: 2+1 exact-dup clique (drops 2 at exact dedup), a near-dup
    // pair (one loser drops at near dedup), and a 3-token shorty
    // (drops at the quality floor). All stage populations hand-counted.
    val base = "the quick brown fox jumps over the lazy dog again today"
    val d = Seq(
      (1L, base),                         // clique rep, also near-dup label
      (2L, base),                         // exact dup of 1
      (3L, base),                         // exact dup of 1
      (4L, base + " extended"),           // near-dup of 1 (J = 9/10): loser
      (5L, "tiny doc here"),              // survives dedup, fails floor (3 < 5)
      (6L, "a completely different document with plenty of fresh words")
    ).toDF("doc_id", "text")
    val f = Pipeline.q133(d).collect()
      .map(r => r.getAs[Long]("stage_id") ->
        (r.getAs[String]("stage"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("dropped_docs"), r.getAs[Double]("drop_frac"))).toMap
    assert(f(1L) == (("ingest", 6L, 0L, 0.0)))
    assert(f(2L) == (("exact_dedup", 4L, 2L, 2.0 / 6.0)))
    assert(f(3L) == (("near_dedup", 3L, 1L, 1.0 / 4.0)))
    assert(f(4L) == (("quality_floor", 2L, 1L, 1.0 / 3.0)))
    // the funnel's final stage IS cleanCorpus's output cardinality
    assert(Pipeline.cleanCorpus(d).count() == 2L)
  }

  test("q69 contamination flags the doc that copies benchmark shingles") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "src0"),   // benchmark
      (2L, "alpha beta gamma delta epsilon zeta", "src1"),   // full copy
      (3L, "totally unrelated words appear here now", "src1")
    ).toDF("doc_id", "text", "source")
    val r = Dedup.q69(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("contamination")).toMap
    assert(r(2L) == 1.0, r)
    assert(r(3L) == 0.0, r)
  }

  test("simhash distance is small for long docs differing by one word") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok37", "changed")
    val far  = (1 to 60).map(i => s"other$i").mkString(" ")
    val sh = Dedup.simhash(Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < 16, s"near ham=${ham(sh(1L), sh(2L))}")
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("q95 source overlap: exact pairwise shingle Jaccard, disjoint pairs absent") {
    val docs = Seq(
      (1L, "s1", "a b c d"),   // shingles {a b c, b c d}
      (2L, "s2", "a b c e"),   // shingles {a b c, b c e}
      (3L, "s3", "x y z w")    // disjoint
    ).toDF("doc_id", "source", "text")
    val rows = Dedup.q95(docs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r).toMap
    assert(rows.keySet == Set(("s1", "s2"))) // zero-overlap pairs never shuffle
    val r12 = rows(("s1", "s2"))
    assert(r12.getAs[Long]("common") == 1L)
    assert(r12.getAs[Long]("na") == 2L && r12.getAs[Long]("nb") == 2L)
    assert(r12.getAs[Double]("jaccard") == 1.0 / 3.0)
  }

  test("q109 incremental dedup: corpus dup, within-batch dup, and new are told apart") {
    val corpus = Seq((1L, "Already Ingested Text"), (2L, "other corpus doc"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "already ingested text"),   // normalizes to a corpus digest
      (15L, "fresh batch text"),        // first of a within-batch pair
      (20L, "fresh batch text"),        // second → dup_batch
      (25L, "genuinely new text")
    ).toDF("doc_id", "text")
    val r = Dedup.q109(corpus, batch).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("status")).toMap
    assert(r == Map(10L -> "dup_corpus", 15L -> "new",
      20L -> "dup_batch", 25L -> "new"))
  }

  test("q111 cross-split near-dup: planted test~train pair found, valid split ignored") {
    val P = 1000000007L
    def h(id: Long) = ((id % P) * 2654435761L % P + 40490L) % 100L
    val trainId = (1L to 300L).find(h(_) < 80).get
    val validId = (1L to 300L).find(id => h(id) >= 80 && h(id) < 90).get
    val testIds = (1L to 300L).filter(h(_) >= 90)
    val (t1, t2) = (testIds(0), testIds(1))
    val base = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (trainId, base),                  // train original
      (validId, base + " extraV"),      // near-dup but VALID split → ignored
      (t1, base + " extraT"),           // test near-dup of train (J = 10/12)
      (t2, "a completely different document body here entirely")
    ).toDF("doc_id", "text")
    val r = Dedup.q111(docs).collect()
      .map(x => (x.getAs[Long]("test_doc"), x.getAs[Long]("train_doc"))).toSet
    assert(r == Set((t1, trainId)))
  }

  test("q110 snapshot diff: added, removed, modified, unchanged all reported") {
    val old   = Seq((1L, "same text"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val newer = Seq((1L, "same text"), (2L, "changed now"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val r = Dedup.q110(old, newer).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("status")).toMap
    assert(r == Map(1L -> "unchanged", 2L -> "modified",
      3L -> "removed", 4L -> "added"))
  }

  test("adversarial 5000-doc clique: collapse absorbs it — candidates stay clique-sized") {
    // the boilerplate-heavy failure mode: thousands of byte-identical
    // docs land in ONE band bucket; without the exact-dup collapse the
    // banding self-join would emit ~N²/2 = 12.5M candidate rows and
    // verify each one. With it, the clique is one banding row.
    val clique = (1L to 5000L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val others = Seq(
      (6001L, "some other distinct document body entirely one"),
      (6002L, "yet another unrelated piece of corpus text two"))
    val docs = (clique ++ others).toDF("doc_id", "text")
    val (reps, members) = Dedup.exactReps(docs)
    assert(reps.count() == 3)
    assert(members.count() == 5002)
    val cands = Dedup.minhashCandidates(
      Dedup.shingles(reps), Dedup.MinhashJaccardThreshold)
    assert(cands.count() <= 3, "candidate rows must be clique-sized, not N²")
    // output semantics preserved: all C(5000,2) true pairs at J = 1.0
    val nOut = Dedup.q42(docs)
      .filter(org.apache.spark.sql.functions.col("jaccard") === 1.0).count()
    assert(nOut == 5000L * 4999L / 2)
    // the q41 prefix-join family collapses too: rep-level verified
    // pairs are corpus-shaped, the expansion carries the clique
    val (repPairs, _, _) = Dedup.jaccardRepPairs(docs, Dedup.JaccardThreshold)
    assert(repPairs.count() == 0)   // 3 unrelated reps
    assert(Dedup.q41(docs).count() == 5000L * 4999L / 2)
    // clustering propagates over N star edges, not C(N,2): every clique
    // member labels to the clique minimum
    val edges = Dedup.neardupEdges(docs)
    assert(edges.count() == 4999)   // star only — no rep pairs
    val labels = Dedup.q64(docs)
    assert(labels.count() == 5000)
    assert(labels.filter(org.apache.spark.sql.functions.col("label") =!= 1L)
      .count() == 0)
    // q84: identical texts are dist-0 pairs with ZERO Levenshtein DPs
    // run (rep pairs are empty) — the expansion supplies them
    val q84n = Dedup.q84(docs)
      .filter(org.apache.spark.sql.functions.col("dist") === 0L).count()
    assert(q84n == 5000L * 4999L / 2)
  }

  test("q112 band skew report: post-collapse buckets are clique-sized") {
    val clique = (1L to 200L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val others = Seq(
      (6001L, "some other distinct document body entirely one"),
      (6002L, "yet another unrelated piece of corpus text two"))
    val top = Dedup.q112((clique ++ others).toDF("doc_id", "text")).collect()
    assert(top.nonEmpty)
    // 3 reps × 16 bands: no bucket can exceed the rep count, and the
    // 200-doc clique contributes exactly one doc per band bucket
    assert(top.head.getAs[Long]("bucket_docs") <= 3)
    assert(top.forall(_.getAs[Long]("cand_pairs") <= 3))
    val shareSum = top.map(_.getAs[Double]("share")).sum
    assert(shareSum <= 1.0 + 1e-9)
  }

  test("q123 prefix skew report: near-identical clique the collapse can't absorb") {
    // 40 templated docs sharing a 22-word body, each with a UNIQUE final
    // slug — byte-distinct, so exactReps keeps all 40, yet every pair is
    // a true near-dup: exactly the residual hot-block mode q123 exists
    // to surface pre-flight. n = 21 distinct grams/doc (20 template + 1
    // slug gram), prefix length 21 − ⌈0.8·21⌉ + 1 = 5: the df=1 slug
    // gram plus the SAME 4 lexically-first template grams in all 40
    // docs → 4 blocks of 40 docs, C(40,2) = 780 candidates each.
    val template = (1 to 22).map(i => f"tpl$i%02d").mkString(" ")
    val clique = (1L to 40L).map(i => (i, s"$template slug$i"))
    val others = Seq(
      (9001L, "some other distinct document body entirely one"),
      (9002L, "yet another unrelated piece of corpus text two"))
    val top = Dedup.q123((clique ++ others).toDF("doc_id", "text")).collect()
    val hot = top.filter(_.getAs[Long]("block_docs") == 40L)
    assert(hot.length == 4, top.map(_.mkString(",")).mkString("\n"))
    assert(hot.forall(_.getAs[Long]("cand_pairs") == 780L))
    assert(hot.forall(_.getAs[String]("g").startsWith("tpl")))
    // contrast: a byte-IDENTICAL clique IS absorbed by the collapse —
    // its blocks stay rep-sized
    val ident = (1L to 40L).map(i => (i, template))
    val identTop = Dedup.q123((ident ++ others).toDF("doc_id", "text")).collect()
    assert(identTop.forall(_.getAs[Long]("block_docs") <= 3L))
  }

  test("q105 canonical pick: the higher-quality member survives, not the min id") {
    import graft.operators.Pipeline
    // docs 1/2 share 8 of 9 3-grams (J = 8/9 > 0.8); doc 2 is one token
    // longer → higher len_score → higher quality, so it must win the
    // cluster even though q64's canonical LABEL is the min id 1
    val base = "aa bb cc dd ee ff gg hh ii jj"
    val docs = Seq(
      (1L, base), (2L, base + " kk"), (3L, "unrelated text entirely here")
    ).toDF("doc_id", "text")
    val r = Pipeline.q105(docs).collect()
    assert(r.length == 1)                 // doc 3 is in no cluster
    assert(r.head.getAs[Long]("label") == 1L)
    assert(r.head.getAs[Long]("survivor") == 2L)
    assert(r.head.getAs[Long]("n_members") == 2L)
  }

  test("q114 repeated spans: planted boilerplate surfaces; hashed default matches exact") {
    import org.apache.spark.sql.functions.col
    val boiler = "all rights reserved by the graft project authors"
    val planted = Seq(
      (9001L, s"$boiler and some trailing words"),
      (9002L, s"prefix words come first then $boiler"),
      (9003L, boiler)).toDF("doc_id", "text")
    val all = Tables.documents(spark, SF)
      .select(col("doc_id"), col("text")).unionAll(planted)
    val exact = Dedup.q114(all, topK = 10000, exact = true).collect()
    // every 5-gram of the planted sentence spans 3 docs, occurrences kept
    val hit = exact.find(_.getString(0) == "all rights reserved by the")
    assert(hit.isDefined, "planted span missing")
    assert(hit.get.getLong(1) == 3L && hit.get.getLong(2) == 3L)
    // the scale default reduces spans to 8-byte fingerprints BEFORE the
    // shuffle — stats must be identical, keyed by the span's fingerprint
    val viaFp = exact.map { r =>
      (org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)), 42L),
       r.getLong(1), r.getLong(2))
    }.toSet
    val hashed = Dedup.q114(all, topK = 10000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hashed == viaFp)
  }

  test("q115 span fraction: full copies score 1.0, originals ~0, hashed matches exact") {
    import org.apache.spark.sql.functions.col
    val boiler = "one two three four five six seven"
    val d = Seq(
      (1L, boiler),                               // copy of 2 → every window repeated
      (2L, boiler),
      (3L, s"$boiler unique0 unique1 unique2 unique3 unique4 unique5 unique6 unique7"),
      (4L, "entirely original body of text with no shared window at all"),
      (5L, "too short"))                          // < k tokens → absent
    .toDF("doc_id", "text")
    val r = Dedup.q115(d, exact = true).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2),
        x.getAs[Double]("frac_repeated"))).toMap
    assert(!r.contains(5L))
    assert(r(1L)._3 == 1.0 && r(2L)._3 == 1.0)
    // doc 3: 11 windows, the 3 fully inside the boilerplate prefix repeat
    assert(r(3L)._1 == 11L && r(3L)._2 == 3L)
    assert(r(4L)._3 == 0.0)
    // hashed default computes identical stats on this corpus
    val h = Dedup.q115(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2),
        x.getAs[Double]("frac_repeated"))).toMap
    assert(h == r)
  }

  test("q119 scrub: shared spans cut with overlap merge, originals untouched") {
    val boiler = "all rights reserved by the graft project authors"
    val d = Seq(
      (1L, s"alpha beta $boiler gamma delta"),          // boiler mid-doc
      (2L, s"$boiler"),                                 // pure boilerplate
      (3L, "epsilon zeta eta theta iota kappa lambda"), // untouched
      (4L, s"one two three four $boiler")               // boiler at tail
    ).toDF("doc_id", "text")
    val r = Dedup.q119(d, exact = true).collect()
      .map(x => (x.getAs[Long]("doc_id"),
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_removed"),
          x.getAs[String]("clean_text")))).toMap
    // the 8 boiler tokens vanish from every carrier — overlapping
    // 5-token windows merged into one cut, neighbours survive
    assert(r(1L) == ((12L, 8L, "alpha beta gamma delta")))
    assert(r(2L) == ((8L, 8L, "")))  // fully scrubbed, empty not null
    assert(r(3L) == ((7L, 0L, "epsilon zeta eta theta iota kappa lambda")))
    assert(r(4L) == ((12L, 8L, "one two three four")))
    // hashed scale default rewrites identically
    val h = Dedup.q119(d).collect()
      .map(x => (x.getAs[Long]("doc_id"),
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_removed"),
          x.getAs[String]("clean_text")))).toMap
    assert(h == r)
    // a doc shorter than k tokens can never be scrubbed
    val short = Seq((1L, "tiny doc"), (2L, "tiny doc")).toDF("doc_id", "text")
    val s = Dedup.q119(short, exact = true).collect()
    assert(s.forall(_.getAs[Long]("n_removed") == 0L))
  }

  private lazy val bloomCorpus = (1L to 300L)
    .map(i => (i, s"corpus doc text number ${i % 120}"))
    .toDF("doc_id", "text")
  private lazy val bloomBatch = Seq(
    (1001L, "corpus doc text number 5"),  // dup_corpus
    (1002L, "batch only text alpha"),     // new
    (1003L, "batch only text alpha"),     // dup_batch (1002 is earlier)
    (1004L, "batch only text beta"),      // new
    (1005L, "corpus doc text number 7")   // dup_corpus
  ).toDF("doc_id", "text")

  private def statusRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("dg"),
      r.getAs[String]("status"))).toSeq

  test("q126 bloom-prefiltered incremental dedup == q109 at any fpp") {
    val plain = statusRows(Dedup.q109(bloomCorpus, bloomBatch))
    assert(statusRows(Dedup.q126(bloomCorpus, bloomBatch)) == plain)
    // a deliberately terrible filter (every other probe a false
    // positive) only sends more candidates to the verify join — the
    // answer cannot move
    assert(statusRows(Dedup.q126(bloomCorpus, bloomBatch, fpp = 0.5)) == plain)
    val byId = plain.map(r => r._1 -> r._3).toMap
    assert(byId(1001L) == "dup_corpus" && byId(1005L) == "dup_corpus")
    assert(byId(1002L) == "new" && byId(1004L) == "new")
    assert(byId(1003L) == "dup_batch")
    // empty corpus: nothing can be dup_corpus, within-batch rank still runs
    val empty = bloomCorpus.filter(org.apache.spark.sql.functions.lit(false))
    assert(statusRows(Dedup.q126(empty, bloomBatch)) ==
      statusRows(Dedup.q109(empty, bloomBatch)))
  }

  test("bloom sidecar: no false negatives, false positives bounded by fpp") {
    import org.apache.spark.sql.functions._
    val dg = md5(encode(lower(trim(col("text"))), "UTF-8"))
    val corpusDg = bloomCorpus.select(dg.as("dg"))
    val bloom = Dedup.bloomFitDigests(corpusDg, fpp = 0.01)
    // every ingested digest must probe true — a false negative would
    // silently re-admit a duplicate
    val members = corpusDg.distinct()
      .withColumn("mc", Dedup.bloomMightContain(bloom, col("dg")))
      .collect()
    assert(members.length == 120 && members.forall(_.getAs[Boolean]("mc")))
    // 1000 novel digests: expected ~10 false positives at fpp=0.01;
    // assert an order-of-magnitude ceiling, not the expectation
    val novel = (1L to 1000L).map(i => (i, s"novel text $i"))
      .toDF("doc_id", "text").select(dg.as("dg"))
      .withColumn("mc", Dedup.bloomMightContain(bloom, col("dg")))
    assert(novel.filter(col("mc")).count() < 100L)
  }

  test("q127 per-source duplication profile: within- and cross-source counts") {
    val d = Seq(
      (1L, "shared across sources", "srcA"),
      (2L, "shared across sources", "srcB"),   // cross-source text
      (3L, "doubled inside srca", "srcA"),
      (4L, "doubled inside srca", "srcA"),     // within-source cluster of 2
      (5L, "unique in srca", "srcA"),
      (6L, "unique in srcb", "srcB")
    ).toDF("doc_id", "text", "source")
    val r = Dedup.q127(d).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    val a = r("srcA")
    assert(a.getAs[Long]("n_docs") == 4L)
    assert(a.getAs[Long]("n_distinct_texts") == 3L)
    assert(a.getAs[Long]("n_dup_docs") == 1L)
    assert(a.getAs[Long]("max_cluster") == 2L)
    assert(a.getAs[Long]("n_dup_clusters") == 1L)
    assert(a.getAs[Long]("n_cross_texts") == 1L)
    assert(a.getAs[Double]("dup_frac") == 0.25)
    val b = r("srcB")
    assert(b.getAs[Long]("n_docs") == 2L)
    assert(b.getAs[Long]("n_dup_docs") == 0L)
    assert(b.getAs[Long]("n_cross_texts") == 1L)
  }

  test("q143 containment: a short item quoted inside a long doc scores 1.0 where q69 stays low") {
    val quiz = "what is the capital of france answered in one line"
    val filler = (1 to 200).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, quiz, "src0"),                        // the benchmark item
      (2L, s"$filler $quiz $filler", "forum"),   // quotes it verbatim
      (3L, filler, "forum"),                     // no overlap
      (4L, "what is the capital of spain answered today", "blog"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.Dedup.q143(docs).collect()
      .map(r => (r.getAs[Long]("bench_id"), r.getAs[Long]("doc_id")) -> r).toMap
    // the verbatim quote: every benchmark gram present ⇒ containment 1.0
    assert(out.contains((1L, 2L)), out.keys)
    assert(out((1L, 2L)).getAs[Double]("containment") == 1.0)
    // partial-phrase doc 4 shares <50% of the item's grams ⇒ filtered
    assert(!out.contains((1L, 4L)))
    assert(!out.contains((1L, 3L)))
    // the SAME quote is nearly invisible to q69's direction: doc 2's
    // own gram count is filler-dominated, so its contamination
    // fraction sits far below any plausible threshold
    val q69row = graft.operators.Dedup.q69(docs).collect()
      .find(_.getAs[Long]("doc_id") == 2L).get
    assert(q69row.getAs[Double]("contamination") < 0.05)
  }

  test("q147 sketched overlap tracks exact q95 jaccard within bottom-k error") {
    val docs = Tables.documents(spark, SF)
    val exact = graft.operators.Dedup.q95(docs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val est = graft.operators.Dedup.q147(docs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    assert(est.keySet == exact.keySet)   // every pair estimated
    // bottom-k with k=256: σ ≈ 1/√k ≈ 0.06 — allow 3σ per pair
    est.foreach { case (pair, e) =>
      assert(math.abs(e - exact(pair)) <= 0.19,
        s"$pair est=$e exact=${exact(pair)}")
    }
    // the per-source bottom-k really plans as the native bounded heap,
    // not a full per-source sort
    val plan = formattedPlan(graft.operators.Dedup.q147(docs))
    assert(plan.contains("TopKPerKey"), plan)
    // a tiny corpus (< k grams per source) estimates EXACTLY
    val tiny = Seq(
      (1L, "a b c d e f", "s1"), (2L, "a b c d x y", "s2"))
      .toDF("doc_id", "text", "source")
    val tex = graft.operators.Dedup.q95(tiny).head().getAs[Double]("jaccard")
    val tes = graft.operators.Dedup.q147(tiny).head().getAs[Double]("est_jaccard")
    assert(tes == tex)
  }

  test("q162 minimizers: near-dups share, unrelated don't, sketch shrinks") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 30).map(i => if (i == 15) "CHANGED" else s"tok$i")
      .mkString(" ")
    val other = (100 to 130).map(i => s"zz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.q162(docs).collect()
    // the 1-2 near-dup pair is the ONLY candidate (shared >= 2)
    assert(out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSeq == Seq((1L, 2L)))
    val r = out.head
    assert(r.getAs[Double]("containment") > 0.5, r)
    // density guarantee: minimizer count well under the shingle count
    assert(r.getAs[Long]("n_a") < 28) // 28 shingles in a 30-token doc
    // identical docs -> containment exactly 1.0
    val twins = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val t = graft.operators.Dedup.q162(twins).collect()
    assert(t.length == 1 && t.head.getAs[Double]("containment") == 1.0)
  }

  test("q176 savings: planted dup bytes counted against the right source") {
    val docs = Seq(
      (1L, "same text here", "A", 14L),   // kept (first by doc_id)
      (2L, "same text here", "B", 14L),   // dup -> B pays
      (3L, "same text here", "A", 14L),   // dup -> A pays
      (4L, "unique content", "A", 13L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val out = graft.operators.Dedup.q176(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("dup_docs"),
          r.getAs[Long]("dup_bytes"), r.getAs[Double]("savings_pct"))).toMap
    assert(out("A") == ((3L, 1L, 14L, 14.0 / 41.0)), out)
    assert(out("B") == ((1L, 1L, 14L, 1.0)), out)
  }

  test("q163 novelty: unique doc scores 1, twin docs 0, mixed in between") {
    val a = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, a), (2L, a),                       // twins: nothing novel
      (3L, "one two three four five six"),    // fully unique
      (4L, "alpha beta gamma NEW tail words") // shares 1 gram with 1/2
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.q163(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty"))).toMap
    assert(out(1L)._3 == 0.0 && out(2L)._3 == 0.0, out)
    assert(out(3L)._3 == 1.0, out)
    // doc 4: 4 grams, "alpha beta gamma" shared with docs 1/2 -> 3 novel
    assert(out(4L) == ((4L, 3L, 0.75)), out)
  }

  test("q184 sketch eval: identities reconcile and the identical pair is recalled") {
    // ground truth on the fixture is exactly the identical pair (1,4);
    // identical docs share every minimizer, so the sketch must recall it
    val r = Dedup.q184(docs).collect()(0)
    val (nE, nS, tp, fp, fn) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_sketch"),
      r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))
    assert(nE == 1L, s"exact ground truth: $r")
    assert(tp + fp == nS && tp + fn == nE, s"counts don't reconcile: $r")
    assert(r.getAs[Double]("recall") == 1.0, s"identical pair missed: $r")
    val p = r.getAs[Double]("precision")
    assert(p > 0.0 && p <= 1.0, s"precision out of range: $r")
  }

  test("q186 contam runs: verbatim copy measured, scattered leaks stay short") {
    // split hash: 1 -> train (<80), 7/19/26 -> test (>=90), 14 -> held out
    val d = Seq(
      (1L, "a b c d e f g h"),        // train: grams "a b c".."f g h"
      (7L, "x y z b c d e f q r"),    // verbatim 5-token copy "b c d e f"
      (19L, "p q r s t"),             // no overlap
      (26L, "b c d k k c d e"),       // two SEPARATED leaked grams
      (14L, "b c d e f g h i")        // neither split: must not appear
    ).toDF("doc_id", "text")
    val out = Dedup.q186(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("max_run_grams"),
          r.getAs[Long]("max_run_tokens"))).toMap
    assert(out.keySet == Set(7L, 19L, 26L), out)
    assert(out(7L) == ((8L, 3L, 5L)), out)   // run of 3 grams = 5 tokens
    assert(out(19L) == ((3L, 0L, 0L)), out)
    assert(out(26L) == ((6L, 1L, 3L)), out)  // scattered: max run 1 gram
  }

  test("q182 rejection reasons: each planted doc bills to its first failing stage") {
    import graft.operators.Pipeline
    // 55 rule-clean words (stopwords present, lengths 3-5, no symbols)
    val base = (Seq("the", "data", "row", "and") ++
      (1 to 51).map(i => s"word${('a' + i % 26).toChar}${('a' + i / 26).toChar}"))
      .mkString(" ")
    val bench = (1 to 25).map(i => s"bench${('a' + i % 26).toChar}$i").mkString(" ")
    // filler for the contaminated doc: rule-clean, disjoint from `base`
    val filler = (Seq("the", "data", "row", "and") ++
      (1 to 26).map(i => s"fill${('a' + i % 26).toChar}${('a' + i / 26).toChar}"))
      .mkString(" ")
    val docs = Seq(
      (0L, bench, "src0"),                      // benchmark; 25 words: rules
      (1L, base, "srcA"),                       // clean survivor
      (2L, base + " extended words here", "srcA"), // near-dup loser of 1
      (3L, "short doc", "srcB"),                // rules (first stage wins)
      (4L, filler + " " + bench, "srcB")        // 30+25 words, ~43% bench grams
    ).toDF("doc_id", "text", "source")
    val out = Pipeline.q182(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("stage_id"), r.getAs[String]("reason"))).toMap
    assert(out(0L) == ((1L, "quality_rules")), out) // rules apply to the bench too
    assert(out(1L) == ((0L, "kept")), out)
    assert(out(2L) == ((2L, "near_dup")), out)
    assert(out(3L) == ((1L, "quality_rules")), out)
    assert(out(4L) == ((3L, "contamination")), out)
    // layout invariance
    val re = Pipeline.q182(docs.repartition(7)).collect().map(_.toSeq).toSet
    assert(re == Pipeline.q182(docs).collect().map(_.toSeq).toSet)
  }

  test("q188 dup weights: cluster members share mass, singletons keep it") {
    val d = Seq(
      (1L, "a b c d e f", "srcA"),  // identical pair -> cluster {1,2}
      (2L, "a b c d e f", "srcA"),
      (3L, "z y x w v u", "srcB")   // singleton
    ).toDF("doc_id", "text", "source")
    val out = graft.operators.Dedup.q188(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("label"), r.getAs[Long]("csize"),
          r.getAs[Long]("weight_e8"), r.getAs[Long]("tokens"),
          r.getAs[Long]("eff_tokens_e8"))).toMap
    assert(out(1L) == ((1L, 2L, 50000000L, 6L, 300000000L)), out)
    assert(out(2L) == ((1L, 2L, 50000000L, 6L, 300000000L)), out)
    assert(out(3L) == ((3L, 1L, 100000000L, 6L, 600000000L)), out)
    // cluster {1,2} contributes ~one doc of effective mass
    val clusterMass = out(1L)._5 + out(2L)._5
    assert(clusterMass == 600000000L, out)
  }

  /** Brute-force maximal shared substrings >= minLen between two
    * normalized texts via a per-diagonal equality-run walk — the
    * O(n*m) reference q200 must match exactly. */
  private def bruteSpans(a: String, b: String, minLen: Int)
      : Set[(Int, Int, Int)] = {
    val out = scala.collection.mutable.Set.empty[(Int, Int, Int)]
    for (d <- -(b.length - 1) to (a.length - 1)) {
      var i = math.max(0, d)           // index in a; j = i - d in b
      var run = 0
      var runStart = -1
      while (i < a.length && (i - d) < b.length) {
        if (a.charAt(i) == b.charAt(i - d)) {
          if (run == 0) runStart = i
          run += 1
        } else {
          if (run >= minLen) out += ((runStart, runStart - d, run))
          run = 0
        }
        i += 1
      }
      if (run >= minLen) out += ((runStart, runStart - d, run))
    }
    out.toSet
  }

  test("q200 == brute-force maximal shared substrings on a mixed fixture") {
    val block = "this exact eighty char block is shared verbatim between two documents kept one!"
    assert(block.length >= 64, block.length)
    val fixture = Seq(
      (1L, "alpha beta " + block + " Xgamma delta epsilon closing words"),
      (2L, "totally different opening here Y" + block + " Zother tail text"),
      (3L, "no overlap with anything else at all in this one document kind"),
      (4L, "alpha beta " + ("zz " * 40).trim + " closing words distinctly"),
      (5L, "Case Variant Opening " + block.toUpperCase + " distinct closing here")
    ).toDF("doc_id", "text")
    val got = Dedup.q200(fixture, minLen = 64, topK = 1000).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("start_a"), r.getAs[Int]("start_b"),
        r.getAs[Int]("match_len"))).toSet
    // doc 5 carries the block UPPERCASED in a distinct context — found
    // through normalization; all five texts are distinct normalized, so
    // the rep set is the full doc set and brute force runs over it
    val texts = fixture.collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase).toMap
    val expected = (for {
      ida <- texts.keys; idb <- texts.keys; if ida < idb
      (sa, sb, len) <- bruteSpans(texts(ida), texts(idb), 64)
    } yield (ida, idb, sa, sb, len)).toSet
    assert(got == expected,
      s"got ${got.toSeq.sorted} exp ${expected.toSeq.sorted}")
    assert(expected.exists { case (a, b, _, _, len) =>
      a == 1L && b == 2L && len >= 79 }, expected)
    // the guarantee: the planted 79+-char block is found for BOTH pairs
    assert(got.exists(g => g._1 == 1L && g._2 == 2L), got)
    assert(got.exists(g => g._1 == 2L && g._2 == 5L), got)
  }

  test("q200 maximality and excerpt: planted block reports exact extent") {
    // APERIODIC block (distinct tokens): self-similar content matches
    // on many diagonals — each a real maximal span — so uniqueness
    // needs a repeat-free payload
    val block = (1 to 14).map(i => f"tok$i%02d").mkString(" ")
    assert(block.length >= 64, block.length)
    val d = Seq(
      (10L, "prefix one X" + block + "Y suffix one"),
      (20L, "another prefix Q" + block + "R different tail")
    ).toDF("doc_id", "text")
    val rows = Dedup.q200(d, minLen = 64, topK = 10).collect()
    assert(rows.length == 1, rows.toSeq)
    val r = rows.head
    assert(r.getAs[Int]("match_len") == block.length, r)
    val ta = "prefix one x" + block.toLowerCase + "y suffix one"
    assert(ta.substring(r.getAs[Int]("start_a"),
      r.getAs[Int]("start_a") + 48) == r.getAs[String]("excerpt"))
    assert(ta.substring(r.getAs[Int]("start_a"),
      r.getAs[Int]("start_a") + r.getAs[Int]("match_len")) == block.toLowerCase)
  }

  test("q201 coverage == brute-force interval union; overlaps counted once") {
    val block = "this exact eighty char block is shared verbatim between two documents kept one!"
    val fixture = Seq(
      (1L, "alpha beta " + block + " Xgamma delta epsilon closing words"),
      (2L, "totally different opening here Y" + block + " Zother tail text"),
      (3L, "no overlap with anything else at all in this one document kind"),
      (5L, "Case Variant Opening " + block.toUpperCase + " distinct closing here"),
      (6L, "ALPHA BETA " + block.toUpperCase + " xGAMMA DELTA EPSILON CLOSING WORDS") // exact dup of 1
    ).toDF("doc_id", "text")
    val texts = fixture.collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase).toMap
    // reps: 6 collapses onto 1 (identical normalized text)
    val repIds = Seq(1L, 2L, 3L, 5L)
    val intervals = scala.collection.mutable.Map.empty[Long, List[(Int, Int)]]
      .withDefaultValue(Nil)
    for {
      a <- repIds; b <- repIds; if a < b
      (sa, sb, len) <- bruteSpans(texts(a), texts(b), 64)
    } {
      intervals(a) = (sa, sa + len) :: intervals(a)
      intervals(b) = (sb, sb + len) :: intervals(b)
    }
    def unionLen(iv: List[(Int, Int)]): Long = {
      var tot = 0L; var cs = -1; var ce = -1
      iv.sorted.foreach { case (s0, e0) =>
        if (s0 > ce) { if (ce > cs) tot += ce - cs; cs = s0; ce = e0 }
        else if (e0 > ce) ce = e0
      }
      if (ce > cs) tot += ce - cs
      tot
    }
    val got = Dedup.q201(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chars"), r.getAs[Long]("covered_chars"),
          r.getAs[Double]("dup_frac"))).toMap
    assert(got.keySet == texts.keySet) // every doc reported, incl. dup 6
    for (id <- repIds) {
      val exp = unionLen(intervals(id))
      assert(got(id)._2 == exp, s"doc $id: got ${got(id)._2} exp $exp")
      assert(got(id)._1 == texts(id).length.toLong)
      assert(got(id)._3 == exp.toDouble / texts(id).length)
    }
    // the exact dup inherits its rep's coverage
    assert(got(6L)._2 == got(1L)._2, got)
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0, got) // untouched doc
    assert(got(1L)._2 >= 80L, got) // the planted block is covered
  }

  test("q200 determinism, no-overlap emptiness, exact-dup collapse") {
    val base = Seq(
      (1L, ("alpha " * 30).trim + " unique ending one two three four"),
      (2L, ("beta " * 30).trim + " other finale five six seven eight"))
      .toDF("doc_id", "text")
    assert(Dedup.q200(base, minLen = 64).count() == 0L) // no shared gram run
    val shared = "the very same sixty four plus character run appears here verbatim ok"
    val three = Seq(
      (1L, "one " + shared + " tail-a"), (2L, "two " + shared + " tail-b"),
      (3L, "ONE " + shared.toUpperCase + " TAIL-A")) // exact dup of 1 normalized
      .toDF("doc_id", "text")
    val rows = Dedup.q200(three, minLen = 64, topK = 100).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // doc 3 collapses onto rep 1: spans report between reps only
    assert(rows.toSet == Set((1L, 2L)), rows.toSeq)
    val again = Dedup.q200(three.repartition(7), minLen = 64, topK = 100)
      .collect().map(r => r.toSeq)
    assert(again.toSeq == Dedup.q200(three, minLen = 64, topK = 100)
      .collect().map(r => r.toSeq).toSeq)
  }

  test("winnowChars rejects minLen < gram (window would be empty)") {
    intercept[IllegalArgumentException] {
      Dedup.q200(Seq((1L, "text")).toDF("doc_id", "text"),
        minLen = 8, gram = 16)
    }
  }

  test("extendAnchors == a brute-force longest common extension along the diagonal") {
    // the maximal runs of the diagonal's match mask that contain an
    // anchor whose whole gram matches, kept when >= minLen, by start
    def brute(a: String, b: String, diag: Int, anchors: Seq[Int], gram: Int,
              minLen: Int): Seq[(Int, Int, Int)] = {
      def eq(i: Int) = i >= 0 && i < a.length && i - diag >= 0 &&
        i - diag < b.length && a(i) == b(i - diag)
      anchors.filter(p => (p until p + gram).forall(eq)).map { p =>
        var s = p; while (eq(s - 1)) s -= 1
        var e = p + gram; while (eq(e)) e += 1
        (s, s - diag, e - s)
      }.distinct.filter(_._3 >= minLen).sortBy(_._1)
    }
    def check(a: String, b: String, diag: Int, anchors: Seq[Int], gram: Int,
              minLen: Int, expected: Option[Seq[(Int, Int, Int)]] = None): Unit = {
      val got = Dedup.extendAnchors(a, b, diag, anchors, gram, minLen)
      val want = brute(a, b, diag, anchors, gram, minLen)
      assert(got == want, (a, b, diag, anchors, gram, minLen))
      expected.foreach(e => assert(got == e, (a, b, diag, anchors)))
    }
    val shared = "abcdefghij"
    // anchors at both ends of both texts
    check(shared + "QQ" + shared, shared + "RR" + shared, 0, Seq(0, 18), 4, 4,
      Some(Seq((0, 0, 10), (12, 12, 10))))
    // a collision anchor: its hash matched, its gram does not
    check("aaaabbbb", "aaaacccc", 0, Seq(0, 4), 4, 4, Some(Seq((0, 0, 4))))
    check("xxxxbbbb", "yyyycccc", 0, Seq(4), 4, 4, Some(Nil))
    // two anchors on one diagonal inside one span: one span out
    check("zz" + shared, shared + "yy", 2, Seq(2, 6), 4, 4,
      Some(Seq((2, 0, 10))))
    val rng = new scala.util.Random(20261021L)
    def text(n: Int) = Seq.fill(n)("ab"(rng.nextInt(2))).mkString
    (1 to 2000).foreach { _ =>
      val a = text(rng.nextInt(40))
      val prefix = text(rng.nextInt(6))
      val k = rng.nextInt(a.length + 1)
      val b = prefix + a.drop(k).map(c =>
        if (rng.nextDouble() < 0.1) ('a' + 'b' - c).toChar else c)
      val diag = k - prefix.length + (rng.nextInt(5) - 2) * rng.nextInt(2)
      val gram = 1 + rng.nextInt(4)
      val anchors = (0 until a.length).filter(_ => rng.nextDouble() < 0.3)
      check(a, b, diag, anchors, gram, gram + rng.nextInt(5))
    }
  }

  test("q202 pre-flight names a planted 500-carrier boilerplate gram; dfCap defuses the join") {
    val boiler = "standard license header boilerplate text shared verbatim by every single crawled page in this corpus!"
    assert(boiler.length >= 64, boiler.length)
    val uniq = "this genuinely duplicated eighty character plus passage appears in exactly two documents here ok!"
    assert(uniq.length >= 64, uniq.length)
    // 500 carriers: a collision-free two-letter tag each + the shared
    // boilerplate block. Tag construction matters: any two docs whose
    // pre-boilerplate text shares a suffix form a genuine shared run
    // (suffix + boilerplate >= 64) anchorable by a LOW-df seam gram
    // that the cap rightly leaves alone — so tags share at most one
    // trailing letter, and that letter's seam grams have df ~ 26 > cap
    def tag(i: Long) =
      "" + ('a' + (i % 26)).toChar + ('a' + (i / 26)).toChar
    val carriers = (1L to 500L).map(i =>
      (i, s"carrier document body token ${tag(i)} " + boiler))
    val docs = (carriers ++ Seq(
      (1001L, "first holder opening words " + uniq + " first tail"),
      (1002L, "second holder prelude text " + uniq + " second tail")))
      .toDF("doc_id", "text")
    // pre-flight: a boilerplate span >= minLen has fully-interior
    // winnowing windows, which select the SAME gram in every carrier —
    // the heaviest bucket must name (essentially) all 500
    val top = Dedup.q202(docs, topK = 3).collect()
    val heavy = top.head
    assert(heavy.getAs[Long]("carrier_docs") >= 450L, top.toSeq)
    assert(heavy.getAs[Long]("cand_pairs") >=
      450L * 449L / 2L, top.toSeq)
    assert(heavy.getAs[Double]("share") > 0.0 &&
      heavy.getAs[Double]("share") <= 1.0, top.toSeq)
    // dfCap: boilerplate-interior grams (df ~ 500) are dropped from
    // candidate generation, the unique pair (df = 2) survives — the
    // Lee et al. mitigation, spans anchored only by hot grams forgone
    val capped = Dedup.q200(docs, topK = 10000, dfCap = 10).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(capped == Set((1001L, 1002L)), s"${capped.size} pairs")
    // uncapped on a SMALL carrier slice (quadratic by design): the
    // boilerplate pairs ARE reported when no cap is set (i <= 20 tags
    // all share c2 = 'a', but without a cap the anchors survive)
    val slice = (carriers.take(20) ++ Seq(
      (1001L, "first holder opening words " + uniq + " first tail"),
      (1002L, "second holder prelude text " + uniq + " second tail")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.q200(slice, topK = 10000).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(uncapped.size == 20 * 19 / 2 + 1, uncapped.size)
  }

  test("q203 scrub closure: re-run q200 on scrubbed output reports zero spans; q201 coverage zero") {
    val block = "this exact eighty char block is shared verbatim between two documents kept one!"
    val other = "a different second repeated passage also comfortably past the sixty four floor"
    assert(block.length >= 64 && other.length >= 64)
    val docs = Seq(
      (1L, "alpha opening " + block + " and later " + other + " closing alpha"),
      (2L, "beta prelude " + block + " beta tail words here entirely unlike"),
      (3L, "gamma carries " + other + " and nothing else shared with anyone"),
      (4L, "untouched document with no cross-document repeats at all in it"),
      (5L, "ALPHA OPENING " + block.toUpperCase + " AND LATER " + other.toUpperCase + " CLOSING ALPHA") // exact dup of 1
    ).toDF("doc_id", "text")
    val out = Dedup.q203(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("cut_chars"))).toMap
    // keep-first: doc 1 (minimal carrier) keeps both passages intact
    assert(out(1L)._3 == 0L, out(1L))
    assert(out(1L)._1.contains(block) && out(1L)._1.contains(other), out(1L))
    // docs 2 and 3 lose their copy (and only their copy)
    assert(out(2L)._3 >= block.length.toLong && !out(2L)._1.contains(block), out(2L))
    assert(out(2L)._1.contains("beta prelude"), out(2L))
    assert(out(3L)._3 >= other.length.toLong && !out(3L)._1.contains(other), out(3L))
    // untouched doc passes through byte-identical (normalized)
    assert(out(4L)._3 == 0L && out(4L)._1 == docs.collect()(3).getString(1), out(4L))
    // exact-dup member inherits the rep's (empty) cut set
    assert(out(5L)._1 == out(1L)._1 && out(5L)._3 == out(1L)._3, out(5L))
    // closure: the scrubbed corpus has no cross-document span >= minLen
    val rerun = Seq(1L, 2L, 3L, 4L, 5L)
      .map(id => (id, out(id)._1)).toDF("doc_id", "text")
    assert(Dedup.q200(rerun, topK = 1000).count() == 0L)
    val cov = Dedup.q201(rerun).collect()
    assert(cov.forall(_.getAs[Long]("covered_chars") == 0L), cov.toSeq)
    // keepFirst=false: NO copy survives anywhere (decontamination stance)
    val none = Dedup.q203(docs, keepFirst = false).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(!none.values.exists(t => t.contains(block) || t.contains(other)), none)
  }

  test("q202Driver: fingerprint coverage reconciles with eligible-rep count") {
    val docs = Seq(
      (1L, "short"),                                   // < gram: no fingerprints
      (2L, "exactly sixteenC"),                        // == gram: one fingerprint
      (3L, ("well past the gram floor " * 4).trim),    // long doc
      (4L, "EXACTLY SIXTEENC")                         // exact dup of 2 normalized
    ).toDF("doc_id", "text")
    val r = Dedup.q202Driver(docs).collect().head
    assert(r.getAs[Long]("n_reps_eligible") == 2L, r)
    assert(r.getAs[Long]("n_docs_fingerprinted") == 2L, r)
    assert(r.getAs[Boolean]("coverage_ok") && r.getAs[Boolean]("share_bounds_ok"), r)
  }
}
