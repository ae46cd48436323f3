package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{AnnIndex, Similarity}

/** s11: persisted ANN index artifact — fit/save/load/search. The two
  * contract assertions the design owes:
  *   1. serving from a LOADED index is byte-identical to the live
  *      fit-and-search path on the same corpus;
  *   2. a later query batch against a loaded index plans NO scan of
  *      the corpus — only the index tables (plus the batch itself). */
class AnnIndexSpec extends GraftSpec {

  private lazy val corpusPath = {
    val p = java.nio.file.Files.createTempDirectory("graft-annidx").toString + "/emb"
    Tables.embeddings(spark, SF).write.parquet(p)
    p
  }
  private def corpus: DataFrame = spark.read.parquet(corpusPath)
  // an "external" batch: re-keyed ids in their own namespace
  private def batch(lo: Int, hi: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    corpus.filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
  }

  private val Name = "graft_annix"
  private lazy val fitted: Unit = AnnIndex.fit(corpus, Name)

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3))).toSeq

  test("s11 LSH: loaded-index search == live fit-and-search, bit for bit") {
    fitted
    val q = batch(0, 10)
    assert(rows(AnnIndex.searchLsh(q, Name)) ==
      rows(Similarity.search(q, corpus)))
  }

  test("s11 int8: loaded-index search == live searchInt8, bit for bit") {
    fitted
    val q = batch(5, 15)
    assert(rows(AnnIndex.searchInt8(q, Name)) ==
      rows(Similarity.searchInt8(q, corpus)))
  }

  test("s11 PQ: loaded-index search == live searchPq, bit for bit") {
    fitted
    val q = batch(5, 15)
    // pqFit's training sample is deterministic in the corpus ids, so
    // the persisted codebook equals a fresh fit's and the served ADC
    // candidates — hence the exact re-rank — match the live path
    assert(rows(AnnIndex.searchPq(q, Name)) ==
      rows(Similarity.searchPq(q, corpus)))
  }

  test("s11 IVF-PQ: pruned scoring keeps recall, scores only probed lists") {
    fitted
    import org.apache.spark.sql.functions.col
    val q = batch(0, 20)
    val exact = Similarity.searchExact(
      q, corpus.select(col("vec_id"), col("embedding")), 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = AnnIndex.searchIvfPq(q, Name)
    val got = ivfpq.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size == exact.size)
    // recall capped by the IVF probe recall (q55 spec floor), PQ only
    // reorders candidates the probes already admitted
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@5=$recall (expected >=0.6)")
    // the plan reads the IVF assignments AND the PQ code table (the
    // corpus-scan absence is asserted on a genuinely external batch in
    // the dedicated serving test below)
    val plan = formattedPlan(ivfpq)
    assert(plan.contains(AnnIndex.ivfListsTable(Name)))
    assert(plan.contains(AnnIndex.pqCodesTable(Name)))
    // every returned neighbor shares a probed list with its query —
    // the candidate universe really is IVF-restricted
    val cents = spark.table(AnnIndex.ivfCentroidsTable(Name))
      .orderBy(col("list")).collect().map(_.getSeq[Double](1).toArray)
    val probed = Similarity.ivfAssign(Similarity.vecRows(q), cents,
        Similarity.IvfProbes).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).groupBy(_._1)
      .map { case (k2, v) => k2 -> v.map(_._2).toSet }
    val assigned = Similarity.ivfAssign(Similarity.vecRows(
        corpus.select(col("vec_id"), col("embedding"))), cents, 1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (qid, nid) =>
      assert(probed(qid).contains(assigned(nid)),
        s"neighbor $nid of $qid outside the probed lists")
    }
  }

  test("s11 IVF: loaded-index search == serving from the fit-time artifacts") {
    fitted
    import org.apache.spark.sql.functions._
    val q = batch(0, 10)
    // reference: same persisted centroids, but assignment/re-rank built
    // directly from the corpus — proves the lists + vectors tables
    // round-trip the live computation faithfully
    val cents = spark.table(AnnIndex.ivfCentroidsTable(Name))
      .orderBy(col("list")).collect().map(_.getSeq[Double](1).toArray)
    val qv = Similarity.vecRows(q)
    val cv = Similarity.vecRows(corpus)
    val probes = Similarity.ivfAssign(qv, cents, Similarity.IvfProbes)
      .select(col("vec_id").as("qid"), col("list"))
    val cands = probes
      .join(Similarity.ivfAssign(cv, cents, 1)
        .select(col("vec_id").as("nid"), col("list")), Seq("list"))
      .select(col("qid"), col("nid")).distinct()
    val ref = Similarity.rerankTopK(cands, qv.toDF("vec_id", "v", "norm"),
      cv.toDF("vec_id", "v", "norm"), 5)
    assert(rows(AnnIndex.searchIvf(q, Name)) == rows(ref))
  }

  test("s11 a second batch served from the loaded index never scans the corpus") {
    fitted
    // a genuinely external batch: its own parquet file, so any corpus
    // bytes in the serving plan could only come from the serving path
    val qPath = java.nio.file.Files.createTempDirectory("graft-annidx-q")
      .toString + "/q2"
    batch(20, 30).write.parquet(qPath)
    val q2 = spark.read.parquet(qPath)
    for (plan <- Seq(AnnIndex.searchLsh(q2, Name),
                     AnnIndex.searchIvf(q2, Name),
                     AnnIndex.searchInt8(q2, Name),
                     AnnIndex.searchPq(q2, Name),
                     AnnIndex.searchIvfPq(q2, Name),
                     AnnIndex.searchHnsw(q2, Name)).map(formattedPlan)) {
      assert(!plan.contains(corpusPath), "serving plan scans the corpus:\n" + plan)
    }
    // the probe-key IN filter reaches the postings SCAN (pushed, bucket
    // set computed) — at 8 test buckets a 10-query probe set touches
    // every bucket file, so the count only drops below n/n at
    // production bucket counts; the mechanism is what's asserted
    val lshPlan = formattedPlan(AnnIndex.searchLsh(q2, Name))
    assert(lshPlan.contains("PushedFilters: [In(bucket") &&
      lshPlan.contains("SelectedBucketsCount"),
      "probe keys not pushed into the postings scan:\n" + lshPlan)
    // and the bucketed layout really prunes: a single-bucket predicate
    // reads 1 of the 8 bucket files (auto-bucketed-scan off: the
    // planner otherwise drops bucketed reading for a bare filter scan,
    // which also drops pruning)
    import org.apache.spark.sql.functions.col
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val one = formattedPlan(
        spark.table(AnnIndex.lshTable(Name)).filter(col("bucket") === 0L))
      assert(one.contains("SelectedBucketsCount: 1 out of 8"), one)
    } finally spark.conf.set(key, prev)
  }

  test("s11 fit over an orphaned table location starts from a clean table") {
    import org.apache.spark.sql.functions.col
    val n = "graft_annix_orphan"
    orphanLocations(AnnIndex.vectorsTable(n), AnnIndex.lshTable(n),
      AnnIndex.ivfCentroidsTable(n), AnnIndex.ivfListsTable(n),
      AnnIndex.int8Table(n), AnnIndex.pqCodebookTable(n),
      AnnIndex.pqCodesTable(n))
    val part = corpus.filter(col("vec_id") < 400)
    AnnIndex.fit(part, n)
    assert(spark.table(AnnIndex.vectorsTable(n)).count() == part.count())
    AnnIndex.drop(spark, n)
  }

  test("s11 append: fit(old)+append(new) == pinned-centroid full refit, bit for bit") {
    import org.apache.spark.sql.functions._
    val IncName = "graft_annix_inc"
    val RefName = "graft_annix_ref"
    AnnIndex.drop(spark, IncName); AnnIndex.drop(spark, RefName)
    val old = corpus.filter(col("vec_id") < 400)
    val fresh = corpus.filter(col("vec_id") >= 400)
    AnnIndex.fit(old, IncName)
    AnnIndex.append(fresh, IncName)
    // the append re-gathers the grown table's stats, as every index
    // write does (a stale or missing rowCount mis-plans broadcasts)
    assert(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(AnnIndex.vectorsTable(IncName)))
      .stats.flatMap(_.rowCount).contains(BigInt(corpus.count())))
    // the refit half of the contract: full fit with the incremental
    // index's own (old-corpus) quantizer pinned
    val cents = spark.table(AnnIndex.ivfCentroidsTable(IncName))
      .orderBy(col("list")).collect().map(_.getSeq[Double](1).toArray)
    // the PQ codebook pins exactly like the IVF quantizer: append
    // encodes against the fitted (old-corpus) codebook, so the refit
    // reference must reuse it for bit parity
    val cb = spark.table(AnnIndex.pqCodebookTable(IncName))
      .orderBy(col("m"), col("c")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    AnnIndex.fit(corpus, RefName, centroids = Some(cents),
      pqCodebooks = Some(cb))
    val q = batch(0, 10)
    assert(rows(AnnIndex.searchLsh(q, IncName)) ==
      rows(AnnIndex.searchLsh(q, RefName)))
    assert(rows(AnnIndex.searchIvf(q, IncName)) ==
      rows(AnnIndex.searchIvf(q, RefName)))
    assert(rows(AnnIndex.searchInt8(q, IncName)) ==
      rows(AnnIndex.searchInt8(q, RefName)))
    assert(rows(AnnIndex.searchPq(q, IncName)) ==
      rows(AnnIndex.searchPq(q, RefName)))
    // per-vector artifacts are centroid-free, so the incremental index
    // serves the LIVE full-corpus answer too
    assert(rows(AnnIndex.searchLsh(q, IncName)) ==
      rows(Similarity.search(q, corpus)))
    // appended rows landed in their bucket files: single-bucket scans
    // still prune to 1 of 8 files and see the appended postings there
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val b = spark.table(AnnIndex.lshTable(IncName))
        .filter(col("nid") >= 400).select(col("bucket")).head.getLong(0)
      val one = spark.table(AnnIndex.lshTable(IncName))
        .filter(col("bucket") === b)
      val plan = formattedPlan(one)
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan)
      assert(one.filter(col("nid") >= 400).count() > 0,
        "appended posting not visible under single-bucket pruning")
    } finally spark.conf.set(key, prev)
  }

  test("s29 HNSW: loaded-index search == live searchHnsw at the pinned shard layout, bit for bit") {
    fitted
    val q = batch(0, 10)
    // the artifact persists the EXPLICIT shard layout (shardOf, 8
    // shards); a live build pinned to the same layout walks identical
    // graphs — the decode side of toBytes is bit-exact, so served
    // (qid, nid, cos, rk) frames match to the last double bit
    assert(rows(AnnIndex.searchHnsw(q, Name)) ==
      rows(Similarity.searchHnsw(q, corpus,
        nShards = Some(AnnIndex.DefaultBuckets))))
  }

  test("s29 HNSW append: untouched shards byte-identical, all ids covered, served") {
    import org.apache.spark.sql.functions._
    import graft.operators.HnswGraph
    val IncName = "graft_annix_hnswinc"
    AnnIndex.drop(spark, IncName)
    val old = corpus.filter(col("vec_id") < 400)
    val fresh = corpus.filter(col("vec_id") >= 400)
    AnnIndex.fit(old, IncName)
    def payloads(): Map[Int, Array[Byte]] =
      spark.table(AnnIndex.hnswTable(IncName)).collect()
        .map(r => r.getAs[Int]("shard") -> r.getAs[Array[Byte]]("payload")).toMap
    // physical layout before the append: one directory per shard —
    // untouched shards' FILES must survive the append unmodified
    // (paths AND mtimes), the partition-granular I/O contract
    def shardFiles(): Map[String, Long] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(
            AnnIndex.hnswTable(IncName))).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(loc, true)
      val out = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          out += f.getPath.toString -> f.getModificationTime
      }
      out.result()
    }
    val before = payloads()
    AnnIndex.append(fresh, IncName)
    val after = payloads()
    // coverage: the union of shard graphs holds EXACTLY old ∪ new ids,
    // each id in its deterministic shard
    val allIds = corpus.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val shardIds = after.map { case (s, b) =>
      val g = HnswGraph.fromBytes(b)
      g.idList.foreach(id => assert(HnswGraph.shardOf(id, 8) == s, (id, s)))
      s -> g.idList.toSet
    }
    assert(shardIds.values.flatten.toSet == allIds)
    // a shard no new id hashed into passes through byte-identical —
    // append is a read-modify-write of TOUCHED shards only
    val freshIds = fresh.select(col("vec_id")).collect().map(_.getLong(0))
    val touched = freshIds.map(HnswGraph.shardOf(_, 8)).toSet
    before.foreach { case (s, b) =>
      if (!touched.contains(s))
        assert(java.util.Arrays.equals(after(s), b), s"shard $s rewritten")
    }
    assert(touched.exists(s => before.contains(s) &&
      !java.util.Arrays.equals(after(s), before(s))))
    // ...and PHYSICALLY: a second append whose ids all hash into ONE
    // shard must leave every other shard directory's files in place
    // with their modification times unchanged (append I/O is
    // O(touched shards), never a whole-index rewrite), while the
    // touched shard's files are new
    val targetShard = HnswGraph.shardOf(100000L, 8)
    val ids2 = (100000L until 100200L)
      .filter(HnswGraph.shardOf(_, 8) == targetShard).take(20)
    val fresh2 = corpus.filter(col("vec_id") < 200)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .filter(col("vec_id").isin(ids2: _*))
    val filesBefore = shardFiles()
    // force STATIC session-level overwrite mode for this append: the
    // driver's non-Hive session never sets the dynamic conf, so the
    // partition-granular contract must hold from appendHnsw's own
    // per-write option alone (static would TRUNCATE untouched shards)
    val pomKey = "spark.sql.sources.partitionOverwriteMode"
    val prevPom = spark.conf.getOption(pomKey)
    spark.conf.set(pomKey, "static")
    try AnnIndex.append(fresh2, IncName)
    finally prevPom match {
      case Some(v) => spark.conf.set(pomKey, v)
      case None => spark.conf.unset(pomKey)
    }
    val filesAfter = shardFiles()
    val untouchedFiles = filesBefore.filter {
      case (p, _) => !p.contains(s"shard=$targetShard/") }
    assert(untouchedFiles.nonEmpty, "no untouched shard files to check")
    untouchedFiles.foreach { case (p, mtime) =>
      assert(filesAfter.get(p).contains(mtime),
        s"untouched shard file rewritten or moved: $p")
    }
    val beforeT = filesBefore.keySet.filter(_.contains(s"shard=$targetShard/"))
    val afterT = filesAfter.keySet.filter(_.contains(s"shard=$targetShard/"))
    assert(beforeT.nonEmpty && (afterT intersect beforeT).isEmpty,
      s"touched shard $targetShard kept stale files")
    // the grown index serves appended ids (an appended vector is its
    // own nearest neighbor at cos 1)
    val q = corpus.filter(col("vec_id") >= 400 && col("vec_id") < 405)
    val top1 = AnnIndex.searchHnsw(q, IncName, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    top1.foreach { case (qid, nid) => assert(qid == nid, top1) }
  }

  test("s29 HNSW append into an EMPTY shard builds a fresh graph there") {
    import org.apache.spark.sql.functions._
    import graft.operators.HnswGraph
    val Name64 = "graft_annix_hnsw64"
    // 64 shards over 30 vectors: most shards are EMPTY at fit time
    // (the full family fits at its own bucket count; the hnsw artifact
    // refits at 64 so the empty-shard append branch is reachable)
    val tiny = corpus.filter(col("vec_id") < 30)
    AnnIndex.drop(spark, Name64)
    AnnIndex.fit(tiny, Name64, buckets = 4)
    AnnIndex.fitHnsw(tiny, Name64, nShards = 64)
    val occupied = spark.table(AnnIndex.hnswTable(Name64))
      .select(col("shard")).collect().map(_.getInt(0)).toSet
    assert(occupied.size < 64,
      s"expected empty shards at 30 ids / 64 shards, got ${occupied.size}")
    // pick an id that hashes into a currently-empty shard: the
    // cogroup's None branch must CREATE that shard's graph
    val pool = corpus.filter(col("vec_id") >= 30 && col("vec_id") < 200)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val newId = pool.find(id => !occupied.contains(HnswGraph.shardOf(id, 64)))
      .getOrElse(sys.error("no id hashed into an empty shard — widen the pool"))
    AnnIndex.append(corpus.filter(col("vec_id") === newId), Name64)
    val shards2 = spark.table(AnnIndex.hnswTable(Name64))
      .collect().map(r => r.getAs[Int]("shard") -> r.getAs[Array[Byte]]("payload")).toMap
    val s = HnswGraph.shardOf(newId, 64)
    assert(shards2.contains(s), s"empty shard $s not created on append")
    assert(HnswGraph.fromBytes(shards2(s)).idList == Seq(newId))
    // and it serves: the appended vector is its own nearest neighbor
    val top = AnnIndex.searchHnsw(
      corpus.filter(col("vec_id") === newId), Name64, k = 1).collect()
    assert(top.length == 1 && top.head.getLong(1) == newId, top.toSeq)
  }

  test("s11 recall probe: per-path index health report, deterministic probe set") {
    fitted
    val rep = AnnIndex.recallProbe(spark, Name).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Double]("recall")).toMap
    assert(rep.keySet == Set("lsh", "ivf", "int8", "pq", "ivf_pq", "hnsw"))
    rep.values.foreach(r => assert(r >= 0.0 && r <= 1.0))
    // the quantized paths hold their spec floors on the probe set too
    assert(rep("int8") >= 0.9, rep)
    assert(rep("pq") >= 0.8, rep)
    assert(rep("lsh") >= 0.5 && rep("ivf") >= 0.6 && rep("ivf_pq") >= 0.6, rep)
    assert(rep("hnsw") >= 0.9, rep)
    // same probe set every run ⇒ identical report (the comparability
    // contract successive health checks rely on)
    val again = AnnIndex.recallProbe(spark, Name).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Double]("recall")).toMap
    assert(again == rep)
  }

  test("cache hygiene: serving calls and q118 leave no new persisted RDDs behind") {
    fitted
    import graft.operators.TextAnalysis
    // the r9 advisory's leak class: one cached RDD per serving call /
    // per q118 invocation accumulating in a long-lived session
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    AnnIndex.searchLsh(batch(0, 10), Name).collect()
    AnnIndex.searchIvf(batch(0, 10), Name).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"serving calls left persisted RDDs behind: $leaked")
    // q118 builds on q86, whose internal token-explode persist (three
    // consumers on three different shuffle keys — not ReuseExchange-
    // dedupable) is the documented building-block cache; q118 itself
    // must add NOTHING beyond it
    val docs = Tables.documents(spark, SF)
    spark.catalog.clearCache()
    TextAnalysis.q86(docs).collect()
    val q86Caches = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    spark.catalog.clearCache()
    TextAnalysis.q118(docs).collect()
    val q118Caches = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    assert(q118Caches <= q86Caches,
      s"q118 caches $q118Caches frames vs q86's $q86Caches — its own persist is back")
  }
}
