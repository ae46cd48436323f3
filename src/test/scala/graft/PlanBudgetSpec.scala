package graft

import graft.operators.{Relational, TextAnalysis}

/** pr01 plan-budget regression tests: pin the plan SHAPE of flagship
  * operators — exchange ceilings and broadcast floors — so a silent
  * strategy degradation fails the suite at test scale instead of
  * costing 100× at cluster scale. Budgets are ceilings with headroom
  * (AQE/stats changes may move a plan by one node), not exact pins. */
class PlanBudgetSpec extends GraftSpec {

  test("q01 aggregation: one shuffle, fully codegen'd") {
    // shape budget from the static plan (the final adaptive plan
    // re-lists exchanges per stage); codegen from the executed one
    val df = Relational.q01(Tables.lineitem(spark, SF))
    val shape = PlanReport.analyze(df)
    assert(shape.exchanges <= 2, shape) // partial agg -> one exchange (+sort)
    assert(shape.sortMergeJoins == 0, shape)
    val ran = PlanReport.analyze(df, execute = true)
    assert(ran.codegenSpans >= 1, ran)  // final adaptive plan is codegen'd
  }

  test("construction job budget: warm loads leave q46's sizing collect as the only eager job") {
    val budget = Seq("q40_dedup_exact" -> 0, "q44_ann_cosine_topk" -> 0,
      "q46_embed_dedup" -> 1, "q47_langid" -> 0, "q48_quality_score" -> 0,
      "q05_multijoin" -> 0, "q136_range_join" -> 0)
    budget.foreach { case (name, jobs) =>
      val build = SparkEntry.queries(name)
      build(spark, SF) // warm: each table's schema is inferred once
      Pins.release()
      assert(jobsOf(build(spark, SF)) == jobs, name)
      Pins.release()
    }
  }

  test("q05 six-table join keeps every dimension broadcast") {
    val df = Relational.q05(Tables.region(spark, SF), Tables.nation(spark, SF),
      Tables.customer(spark, SF), Tables.orders(spark, SF),
      Tables.lineitem(spark, SF), Tables.supplier(spark, SF))
    val r = PlanReport.analyze(df)
    // the whole dimension chain must stay broadcast — a sort-merge
    // join sneaking in means the fact table gets shuffled repeatedly
    assert(r.broadcastJoins >= 3, r)
    assert(r.sortMergeJoins <= 2, r)
  }

  test("q160 entropy: the (doc, tok) count is the only data-sized shuffle class") {
    val r = PlanReport.analyze(TextAnalysis.q160(Tables.documents(spark, SF)))
    assert(r.exchanges <= 4, r) // tok-count, doc-agg, final order
  }

  test("q169 semantic decontam: the benchmark side must stay broadcast") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, SF)
    val r = PlanReport.analyze(graft.operators.Similarity.q169(
      e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10)))
    // the benchmark rides a broadcast exchange into a nested-loop
    // join (no equi-key); a sort-merge join here would shuffle the
    // corpus per query batch
    assert(r.broadcastExchanges >= 1, r)
    assert(r.sortMergeJoins == 0, r)
  }

  test("q187 vocab richness: two aggregate exchanges, nothing else") {
    val r = PlanReport.analyze(TextAnalysis.q187(Tables.documents(spark, SF)))
    // (source, tok) count -> source rollup -> output sort: the corpus
    // reaches exactly one data-sized exchange (partial-agg combined)
    assert(r.exchanges <= 3, r)
    assert(r.sortMergeJoins == 0, r)
  }

  test("q189 KS drift: the ECDF grid joins stay broadcast, corpus shuffles once") {
    val r = PlanReport.analyze(TextAnalysis.q189(Tables.documents(spark, SF)))
    // (source, n_chars) count is the only corpus-sized exchange; the
    // grid build must ride broadcasts — a sort-merge join here means
    // the stats-domain grid got shuffled like data
    assert(r.broadcastJoins >= 2, r)
    assert(r.sortMergeJoins == 0, r)
  }

  test("q190 vocab coverage: top-k cut plans as TakeOrderedAndProject, no global sort") {
    val df = TextAnalysis.q190(Tables.documents(spark, SF))
    val plan = formattedPlan(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab top-k cut lost the bounded-heap plan:\n$plan")
    val r = PlanReport.analyze(df)
    assert(r.sortMergeJoins == 0, r)
  }

  test("q116 BM25: query terms and df stats ride broadcast joins") {
    import spark.implicits._
    val r = PlanReport.analyze(graft.operators.TextAnalysis.q116(
      Tables.documents(spark, SF),
      Oracles.Bm25Queries.toDF("query_id", "terms")))
    assert(r.broadcastJoins >= 2, r)
  }

  test("q48 quality scoring is shuffle-free up to the output sort") {
    val r = PlanReport.analyze(TextAnalysis.q48(Tables.documents(spark, SF)))
    assert(r.exchanges <= 1, r) // only the orderBy range exchange
    assert(r.sortMergeJoins == 0 && r.broadcastJoins == 0, r)
  }

  test("q41 near-dup machinery: multi-consumer sub-plans read the pin, not a replay") {
    // verifyJaccard references the candidate pairs 3×, the self-join
    // references the prefix frame 2×, and the member map expands 3× —
    // every one of those references must be an InMemoryTableScan of a
    // pinned frame; losing a pin silently multiplies the blocking
    // join's cost by the consumer count
    val r = PlanReport.analyze(
      graft.operators.Dedup.q41(Tables.documents(spark, SF)))
    assert(r.inMemoryScans >= 6, r)
    graft.Pins.release()
  }

  test("q133 funnel consumes eager cluster labels, adds no corpus re-derivation") {
    // the near-dup loop runs EAGERLY at construction (localCheckpoint
    // leaves); the funnel's four union branches then compose one
    // normalized-corpus window + checkpoint scans — if the label
    // propagation machinery leaked back into the funnel plan the
    // branch count would multiply it by four
    val df = graft.operators.Pipeline.q133(Tables.documents(spark, SF))
    val plan = formattedPlan(df)
    assert(plan.contains("ExistingRDD"),
      s"cluster labels must enter as checkpoint scans:\n$plan")
    val r = PlanReport.analyze(df)
    assert(r.sortMergeJoins <= 4, r)
    assert(r.exchanges <= 14, r) // 4 branches × (window + agg) + sort
    graft.Pins.release()
  }

  test("q197 audio sampling: repartition + output sort are the only exchanges") {
    val r = PlanReport.analyze(graft.operators.Multimodal.q197AudioSample(
      spark, Tables.documents(spark, SF)))
    // payloads never shuffle: the codec repartition carries (id, text),
    // the output sort carries scalar window rows — nothing else
    assert(r.exchanges <= 3, r)
    assert(r.broadcastJoins + r.sortMergeJoins == 0, r)
  }

  test("q200 substring report: bounded exchanges, top-k as a bounded heap") {
    val df = graft.operators.Dedup.q200(Tables.documents(spark, SF))
    val plan = formattedPlan(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"q200 top-k lost the bounded-heap plan:\n$plan")
    val r = PlanReport.analyze(df)
    // fingerprint join + diagonal group + two text joins + codec
    // repartition: the span machinery must stay in single digits
    assert(r.exchanges <= 10, r)
    graft.Pins.release()
  }

  test("q202 pre-flight: one fingerprint rollup + broadcast total + bounded heap") {
    val df = graft.operators.Dedup.q202(Tables.documents(spark, SF))
    val plan = formattedPlan(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"q202 top-k lost the bounded-heap plan:\n$plan")
    val r = PlanReport.analyze(df)
    // exactReps window + fingerprint flatMap feed the hash rollup
    // (countDistinct = two agg phases); the total rides a broadcast;
    // nothing sort-merges. Measured 5 — ceiling with headroom.
    assert(r.exchanges <= 6, r)
    assert(r.broadcastExchanges >= 1, r)
    assert(r.sortMergeJoins == 0, r)
    graft.Pins.release()
  }

  test("q203 scrub: only cut reps ship text; uncut docs keep their scan") {
    val df = graft.operators.Dedup.q203(Tables.documents(spark, SF))
    val r = PlanReport.analyze(df)
    // q200's span machinery + per-rep cut grouping + members join +
    // output sort — bounded, and the final join back to the corpus
    // must NOT re-derive the span pipeline per consumer (pins)
    assert(r.exchanges <= 14, r)
    graft.Pins.release()
  }

  test("q204 audio overlap: 8-byte window fps are the only data-sized shuffle") {
    val df = graft.operators.Multimodal.q204AudioOverlap(
      spark, Tables.documents(spark, SF))
    val r = PlanReport.analyze(df)
    // codec repartition (id, text) + fp equi-join + diagonal group +
    // member expansion + output sort; payloads stay partition-local
    assert(r.exchanges <= 12, r)
    graft.Pins.release()
  }

  /** (exchanges, InMemoryRelations, construction jobs) of the frame
    * `build` returns, its pins released after: the shape a refactor of
    * the frame's operator must leave exactly as it was. */
  private def shapeOf(build: => org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf { df = build }
    val shape = (PlanReport.analyze(df).exchanges,
      """\(\d+\) InMemoryRelation""".r.findAllIn(formattedPlan(df)).size, jobs)
    graft.Pins.release()
    shape
  }

  /** [[shapeOf]] one media lane built over the warm sf0.001 corpus. */
  private def mediaShape(build: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
    val docs = Tables.documents(spark, SF)
    shapeOf(build(docs))
  }

  import graft.operators.Multimodal
  Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      (Int, Int, Int))](
    ("q93 image near-dup", Multimodal.q93(spark, _), (4, 7, 0)),
    ("q205 image overlap", Multimodal.q205ImageOverlap(spark, _), (5, 8, 0)),
    ("q206 audio scrub", Multimodal.q206AudioScrub(spark, _), (6, 7, 0)),
    ("q208 image scrub", Multimodal.q208ImageScrub(spark, _), (7, 7, 0)),
    ("q211 video overlap", Multimodal.q211VideoOverlap(spark, _), (5, 8, 0)),
    ("q212 video scrub", Multimodal.q212VideoScrub(spark, _), (6, 7, 0))
  ).foreach { case (name, build, expected) =>
    test(s"$name: exchanges, pinned relations and construction jobs are pinned") {
      assert(mediaShape(build) == expected, name)
    }
  }

  test("ANN and substring-span lanes: live operators and fitted-index serving keep their shape") {
    import graft.operators.{AnnIndex, Dedup, SubstrIndex}
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, SF)
    val docs = Tables.documents(spark, SF)
    val (ann, substr) = ("graft_shape_ann_ix", "graft_shape_substr_ix")
    AnnIndex.fit(emb, ann)
    SubstrIndex.fit(docs, substr)
    val q = emb.filter(col("vec_id") < 20)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    def entry(name: String) = () => SparkEntry.queries(name)(spark, SF)
    // the values the pre-refactor operators read in this session
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame, (Int, Int, Int))](
      ("q45", entry("q45_ann_lsh"), (3, 5, 0)),
      ("q55", entry("q55_ann_ivf"), (3, 4, 16)),
      ("q83", entry("q83_ann_search_lsh"), (3, 4, 0)),
      ("q108", entry("q108_ann_int8"), (3, 0, 0)),
      ("q138", entry("q138_pq_ann"), (3, 0, 1)),
      ("q193", entry("q193_ann_recall"), (43, 29, 18)),
      ("q200", () => Dedup.q200(docs), (3, 5, 0)),
      ("q201", () => Dedup.q201(docs), (9, 10, 0)),
      ("q203", () => Dedup.q203(docs), (7, 8, 0)),
      ("AnnIndex.searchLsh", () => AnnIndex.searchLsh(q, ann), (3, 0, 2)),
      ("AnnIndex.searchIvf", () => AnnIndex.searchIvf(q, ann), (3, 0, 5)),
      ("AnnIndex.searchInt8", () => AnnIndex.searchInt8(q, ann), (3, 0, 0)),
      ("AnnIndex.searchPq", () => AnnIndex.searchPq(q, ann), (3, 0, 3)),
      ("AnnIndex.searchIvfPq", () => AnnIndex.searchIvfPq(q, ann), (4, 0, 8)),
      ("AnnIndex.searchHnsw", () => AnnIndex.searchHnsw(q, ann), (2, 0, 1)),
      ("SubstrIndex.containment", () => SubstrIndex.containment(batch, substr), (9, 4, 1)),
      ("SubstrIndex.scrub", () => SubstrIndex.scrub(batch, substr), (7, 4, 1)))
    try {
      // warm: schema inference, the q193 HNSW fit and the index loads
      // run once outside the measured builds
      cases.foreach { case (_, build, _) => build(); graft.Pins.release() }
      cases.foreach { case (name, build, expected) =>
        assert(shapeOf(build()) == expected, name)
      }
    } finally {
      AnnIndex.drop(spark, ann)
      SubstrIndex.drop(spark, substr)
    }
  }

  test("q105 via the s27 index: label-scan plan, no CC fixpoint, bounded exchanges") {
    // the r15 verdict's q105 ask: with served labels the plan must be
    // a bucketed label scan + quality join + per-label window — the
    // iterative CC sub-plan (its per-round exchanges and checkpoints)
    // must be GONE. Budget: labels agg + join + window + members join
    // + output sort, each at most one exchange.
    val ixName = "graft_q105_budget_ix"
    graft.operators.ClusterIndex.drop(spark, ixName)
    val docs = Tables.documents(spark, SF)
    graft.operators.ClusterIndex.fit(docs, ixName)
    val df = graft.operators.Pipeline.q105(docs,
      labels = Some(graft.operators.ClusterIndex.labels(spark, ixName)))
    val r = PlanReport.analyze(df)
    assert(r.exchanges <= 6, r)
    // the label side arrives from a plain table scan — no iterative
    // artifacts (checkpointed RDD scans) anywhere in the static plan
    val plan = formattedPlan(df)
    assert(!plan.contains("ExistingRDD"), plan.take(1500))
    graft.Pins.release()
    graft.operators.ClusterIndex.drop(spark, ixName)
  }

  test("ddl11 autogather: a freshly-written lake table plans a stats-driven broadcast with NO manual ANALYZE") {
    // the write-side half of ddl11: CBO is only as good as the stats
    // someone gathered — with spark.graft.stats.autogather(.columns)
    // set, Sources.writeBucketed commits the stats at write time, so
    // the very first query against the fresh table plans the same
    // broadcast the manual-ANALYZE test below has to earn by hand
    spark.sql("DROP TABLE IF EXISTS graft_ag_big")
    spark.sql("DROP TABLE IF EXISTS graft_ag_other")
    val prevCols = spark.conf.getOption("spark.graft.stats.autogather.columns")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.graft.stats.autogather.columns", "all")
      graft.sources.Sources.writeBucketed(
        spark.range(200000)
          .selectExpr("id % 400 AS k", "md5(cast(id AS string)) AS pad"),
        "graft_ag_big", "k", 4)
      graft.sources.Sources.writeBucketed(
        spark.range(100000)
          .selectExpr("id % 400 AS k", "md5(cast(id AS string)) AS pad2"),
        "graft_ag_other", "k", 4)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1024 * 1024).toString)
      val df = spark.table("graft_ag_big")
        .filter(org.apache.spark.sql.functions.col("k") === 7)
        .join(spark.table("graft_ag_other"), "k")
      val plan = df.queryExecution.executedPlan.toString
      // no ANALYZE ran in this test — the broadcast is autogather's
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert(!plan.contains("SortMergeJoin"), plan.take(2000))
      // and the catalog really carries write-time stats
      val stats = spark.table("graft_ag_big").queryExecution.optimizedPlan
        .stats
      assert(stats.rowCount.contains(BigInt(200000)), stats)
    } finally {
      prevCols match {
        case Some(v) => spark.conf.set("spark.graft.stats.autogather.columns", v)
        case None => spark.conf.unset("spark.graft.stats.autogather.columns")
      }
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS graft_ag_big")
      spark.sql("DROP TABLE IF EXISTS graft_ag_other")
      ()
    }
  }

  test("ddl11 CBO: column stats flip a filtered join to broadcast at PLAN time (AQE off)") {
    // the stats-driven decision AQE cannot make: a selective filter on
    // a big table shrinks the PLANNED size only when the optimizer can
    // estimate selectivity — i.e. when ANALYZE ... FOR COLUMNS has put
    // rowCount + ndv in the catalog. File-size estimation (no stats)
    // sees the full scan size on both sides and plans a sort-merge
    // join; with column stats the filtered side estimates ~1/ndv of
    // the table and drops under the broadcast threshold. AQE is OFF so
    // the flip is attributable to CBO alone.
    spark.sql("DROP TABLE IF EXISTS graft_cbo_big")
    spark.sql("DROP TABLE IF EXISTS graft_cbo_other")
    // md5 pad keeps parquet from compressing the files under the
    // threshold (the no-stats estimate is the file size)
    spark.range(200000)
      .selectExpr("id % 400 AS k", "md5(cast(id AS string)) AS pad")
      .write.format("parquet").saveAsTable("graft_cbo_big")
    spark.range(100000)
      .selectExpr("id % 400 AS k", "md5(cast(id AS string)) AS pad2")
      .write.format("parquet").saveAsTable("graft_cbo_other")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1024 * 1024).toString)
      def plan(): String = {
        val df = spark.table("graft_cbo_big").filter(org.apache.spark.sql
            .functions.col("k") === 7)
          .join(spark.table("graft_cbo_other"), "k")
        df.queryExecution.executedPlan.toString
      }
      // no stats: both scans estimate at file size (> 1 MB) -> SMJ
      val before = plan()
      assert(!before.contains("BroadcastHashJoin"), before.take(2000))
      assert(before.contains("SortMergeJoin"), before.take(2000))
      // column stats on the filter key: rowCount + ndv -> the k = 7
      // side estimates ~1/400 of the table -> broadcast, on stats alone
      spark.sql("ANALYZE TABLE graft_cbo_big COMPUTE STATISTICS FOR COLUMNS k")
      val after = plan()
      assert(after.contains("BroadcastHashJoin"), after.take(2000))
      assert(!after.contains("SortMergeJoin"), after.take(2000))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS graft_cbo_big")
      spark.sql("DROP TABLE IF EXISTS graft_cbo_other")
    }
  }

  test("graph round above the broadcast node threshold: no node-table broadcast") {
    // emulate a graph too big to broadcast: hints off (useBcast=false)
    // AND size-estimation broadcast disabled — the static plan must
    // carry ZERO broadcast exchanges of any kind (r19: the out-degree
    // rides the pinned edge frame and the node-count total is a
    // literal, so even the old one-row nn broadcast nested-loop is
    // gone from the round)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
        .repartition(col("src"))
      val nodes = e.select(col("src").as("node")).distinct()
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
      val eod = e.join(outdeg, "src").select(col("src"), col("dst"), col("od"))
      val ranks = nodes.select(col("node"), (lit(1.0) / lit(3.0)).as("pr"))
      val round = graft.operators.Graphs.pagerankRound(
        eod, nodes, n = 3.0, ranks, alpha = 0.85, useBcast = false)
      val r = PlanReport.analyze(round)
      assert(r.broadcastJoins == 0, r)
      assert(r.broadcastExchanges == 0, r)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
